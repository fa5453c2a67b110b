#!/usr/bin/env python3
"""Self-checks of the benchmark itself. Run from the repository root:

    python3 perfbench/selfcheck.py

1. The same seed gives a byte-identical corpus, and another seed a
   different one, for every workload (the harness's `--digest` mode hashes
   the generated inputs).
2. A deliberately corrupted expected row, store row or query hash raises
   the failure count of every workload (`run.py --corrupt`). On
   catalog_mix the same flag also corrupts one dumped query result, and
   its DuckDB cross-check must fail too.

Exits non-zero if any check fails.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def digest(cp, workload, seed):
    work = os.path.join(run.WORK, f"digest-{workload}-{seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        code, out, err = run.run_jvm(
            cp, ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                 "--digest"], work, 170)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [x for x in out.splitlines() if x.startswith("DIGEST ")]
    if code != 0 or not lines:
        sys.stderr.write(err[-2000:])
        return None
    return lines[-1].split()[1]


def main():
    spec = run.load_spec()
    cp = run.classpath()
    bad = 0
    for w in (x["name"] for x in spec["workloads"]):
        a, b, c = digest(cp, w, 7), digest(cp, w, 7), digest(cp, w, 8)
        ok = a is not None and a == b and a != c
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {w}: seed 7 twice -> "
              f"{a and a[:12]} / {b and b[:12]}, seed 8 -> {c and c[:12]}")
    for w in (x["name"] for x in spec["workloads"]):
        p = subprocess.run(
            [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", w,
             "--seed", "7", "--seconds", "3", "--trace", "0", "--corrupt"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        try:
            r = json.loads(p.stdout.strip().splitlines()[-1])
            ok = p.returncode == 0 and r["failed"] > 0 and not r["correct"]
            got = f"failed {r['failed']} of {r['attempted']}"
            if w == "catalog_mix":
                oracle = [x for x in p.stderr.splitlines() if x.startswith("FAILURE oracle:")]
                ok = ok and len(oracle) == 1 and r["failed"] >= 2
                got += f", DuckDB cross-check failures {len(oracle)}"
        except (IndexError, ValueError, KeyError):
            ok, got = False, f"no result (exit {p.returncode})"
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {w} with a corrupted row: {got}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
