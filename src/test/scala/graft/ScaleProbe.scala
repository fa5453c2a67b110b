package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives ×N corpora from an existing sf dir WITHOUT touching the
  * read-only testdata: each table becomes the union of N key-shifted
  * copies, written as parquet under the output base — the input for the
  * scale-stress runs recorded in `SCALE_PROBE.md` (one measured decade of
  * scaling per heavy family, complementing the plan-shape argument).
  *
  * Copy construction keeps the workload's CHARACTER at ×N rather than
  * merely duplicating rows, so the per-family work genuinely scales:
  *
  *  - All integer keys shift by `copy · 10^8`: copies join only within
  *    themselves (FKs preserved), node/user/doc counts grow ×N — the
  *    graph/dedup problem gets N× more entities, not N× multiplicity on
  *    the same entities.
  *  - `documents.text` gets a per-copy AFFINE alphabet substitution
  *    (a 1:1 letter map) plus a per-copy cyclic word rotation:
  *    token/shingle statistics are preserved inside each copy but
  *    vocabularies are disjoint ACROSS copies AND payload byte
  *    geometry decorrelates (the aHash concern — see `subAlphabet` and
  *    the documents tweak below), so near-dup candidate structure
  *    replicates ×N instead of exploding quadratically (10 verbatim
  *    copies would make every doc a 10-way cross-copy duplicate — a
  *    different, artificially adversarial problem).
  *  - Entity-name columns (`p_name`/`p_brand`/`c_name`/`s_name`) get
  *    the same per-copy substitution, so name-blocking keys are
  *    copy-disjoint and blocked-linkage work replicates instead of
  *    stacking (see `subbed` below).
  *  - `embeddings.embedding` rotates its components by `copy` positions:
  *    norms and within-copy geometry are preserved, cross-copy cosine is
  *    that of unrelated vectors.
  *  - Timestamps are NOT shifted: ×N volume over the same calendar, the
  *    realistic shape of growing traffic (the windows/day-grid queries
  *    see N× heavier cells, not a longer history).
  *  - Tiny dims (region/nation) copy verbatim; unshifted nation FKs stay
  *    valid.
  *
  * Usage: Test/runMain graft.ScaleProbe [srcSfDir] [outBase] [factors]
  *        (defaults: /root/testdata/sf0.1 /tmp/graft_scale 2,5,10)
  * Then time a family with the normal bench harness, one factor at a
  * time: SPARK_GRAFT_SF_DIR=<outBase>/x<N> SPARK_GRAFT_BENCH_ONLY=...
  * runMain graft.Bench (subset mode never overwrites BENCH_DETAIL.json).
  */
object ScaleProbe {

  private val KeyOffset = 100000000L

  /** Per-copy AFFINE alphabet substitution for text columns — a 1:1
    * substitution over lowercase, UPPERCASE, and digits: letter index
    * j → (a·j + b) mod 26 with a coprime to 26 (digits mod 10), copy 0
    * the identity. Tokens map 1:1, so within-copy dup/shingle structure
    * is exactly preserved and vocabularies are disjoint ACROSS copies;
    * punctuation/whitespace (token separators) stay fixed — the residual
    * cross-copy overlap is punctuation-only grams, noted in
    * SCALE_PROBE.md.
    *
    * Affine, not rotation: rotation is
    * order-preserving on byte values (+k except at the wrap), so
    * byte-ORDER statistics survive it — the multimodal aHash thresholds
    * each sampled byte against the payload mean, and under a uniform +k
    * shift both sides move together, leaving cross-copy hashes
    * near-identical: every doc became an N-way cross-copy near-dup and
    * `q_multimodal_phash` went quadratic as a derivation artifact, not
    * an engine property. The affine scramble (a ≥ 3 jumps the alphabet
    * non-monotonically) decorrelates byte order across copies, so
    * band/bucket occupancy replicates ×N instead of stacking ×N in the
    * same buckets. */
  private[graft] def subAlphabet(i: Int): (String, String) = {
    val lo = "abcdefghijklmnopqrstuvwxyz"
    val up = lo.toUpperCase(java.util.Locale.ROOT)
    val dg = "0123456789"
    val cop26 = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val cop10 = Seq(1, 3, 7, 9)
    def affine(s: String, a: Int, b: Int) =
      s.indices.map(j => s((a * j + b) % s.length)).mkString
    (lo + up + dg,
      affine(lo, cop26(i % 12), i % 26) +
        affine(up, cop26(i % 12), i % 26) +
        affine(dg, cop10(i % 4), i % 10))
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outBase = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val factors = (if (args.length > 2) args(2) else "2,5,10")
      .split(",").map(_.trim.toInt).toSeq

    val spark = graft.core.Sessions.local(32)

    def table(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** One copy of `df` with `keys` shifted and an optional per-copy
      * column rewrite. */
    def copies(df: DataFrame, keys: Seq[String], n: Int)(
        tweak: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map { i =>
        val shifted = keys.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * KeyOffset)))
        tweak(shifted, i)
      }.reduce(_.unionAll(_))

    val plain: (DataFrame, Int) => DataFrame = (d, _) => d

    factors.foreach { n =>
      val out = s"$outBase/x$n"
      def write(name: String, df: DataFrame): Unit = {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"[scaleprobe] wrote x$n/$name")
      }
      /** Per-copy substitution over a table's entity-name columns:
        * blocking keys / name prefixes become copy-disjoint, so blocked
        * fuzzy-match work (q_link_jarowinkler's Σ|block|²) REPLICATES
        * ×N instead of stacking ×N rows into the same blocks (verbatim
        * names made per-block occupancy grow N× — a quadratic
        * derivation artifact, same story as the aHash rotation above).
        * Jaro-Winkler depends only on character equality patterns, so a
        * bijective substitution applied consistently within a copy
        * leaves every within-copy score identical to copy 0. */
      def subbed(cols: String*): (DataFrame, Int) => DataFrame = (d, i) => {
        val (from, to) = subAlphabet(i)
        cols.foldLeft(d)((dd, c) =>
          dd.withColumn(c, translate(col(c), from, to)))
      }
      write("lineitem", copies(table("lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"), n)(plain))
      write("orders", copies(table("orders"),
        Seq("o_orderkey", "o_custkey"), n)(plain))
      write("customer", copies(table("customer"), Seq("c_custkey"), n)(
        subbed("c_name")))
      write("part", copies(table("part"), Seq("p_partkey"), n)(
        subbed("p_name", "p_brand")))
      write("supplier", copies(table("supplier"), Seq("s_suppkey"), n)(
        subbed("s_name")))
      write("events", copies(table("events"),
        Seq("event_id", "user_id"), n)(plain))
      // Documents get the affine substitution PLUS a per-copy cyclic
      // word rotation. The rotation is what decorrelates the multimodal
      // aHash across copies: over text stand-in payloads the byte-mean
      // threshold sits between the space byte (32) and every letter
      // (97+), so the 63 hash bits reduce to "is the sampled byte a
      // space" — invariant under ANY letter↔letter substitution. Only
      // moving the spaces (rotating the word order) changes the sampled
      // geometry (measured: hamming 11–23 between copies of the same doc
      // vs the ≤8 near-dup radius; with substitution alone it was 0 and
      // every doc stacked into one ×N cross-copy near-dup family).
      // Token MULTISET is exactly preserved (unigram stats identical);
      // shingle sets are preserved 1:1 except the k-1 seam grams, so
      // within-copy near-dup candidate structure still replicates.
      write("documents", copies(table("documents"), Seq("doc_id"), n) {
        (d, i) =>
          val (from, to) = subAlphabet(i)
          val sub = translate(col("text"), from, to)
          val w = split(sub, " ")
          val k = pmod(lit(i), size(w))
          d.withColumn("text",
            when(size(w) <= 1, sub).otherwise(array_join(
              concat(slice(w, k + lit(1), size(w) - k), slice(w, lit(1), k)),
              " ")))
      })
      write("embeddings", copies(table("embeddings"), Seq("vec_id"), n) {
        (d, i) =>
          if (i == 0) d
          else d.withColumn("embedding", concat(
            slice(col("embedding"), i + 1, 100000),
            slice(col("embedding"), 1, i)))
      })
      Seq("region", "nation").foreach(t => write(t, table(t)))
    }
    spark.stop()
  }
}
