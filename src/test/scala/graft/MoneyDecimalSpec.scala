package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MoneyDecimal
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[MoneyDecimal]] (the dsum fast-path cast) to be VALUE-IDENTICAL to
  * `CAST(double AS DECIMAL(p, s))` on every input class: exact money values
  * (the fast path), >s-fraction-digit doubles, magnitudes past the fast
  * bound, decimal-overflow values, NaN/±Inf, ±0.0, and nulls — on both the
  * codegen (DataFrame) and interpreted (direct eval) paths. dsum backs most
  * oracle-checked sums in the catalog, so a single ulp of divergence here
  * would surface as cross-engine hash mismatches everywhere. */
class MoneyDecimalSpec extends AnyFunSuite with SparkTestBase {

  private val cases: Seq[java.lang.Double] = Seq[java.lang.Double](
    0.0, -0.0, 1.0, -1.0, 123.45, -123.45, 0.29, 2.675, 1.0 / 3.0,
    123456.789012, 123456.7890123, // 6 vs 7 fraction digits
    1234.56 * 0.95,                // product path (disc_price shape)
    4.9e-324, -4.9e-324, Double.MinPositiveValue,
    Double.NaN, null) ++
    // pseudo-random money values (2 decimals) and raw doubles
    (1 to 200).map(i => java.lang.Double.valueOf((i * 7919 % 100000) / 100.0)) ++
    (1 to 200).map(i => java.lang.Double.valueOf(math.sin(i) * math.pow(10, i % 12)))

  /** Inputs whose cast result depends on ANSI mode (overflow / ±Inf): the
    * batch comparison would abort the whole collect under default-ANSI, so
    * they get their own both-throw / both-null assertions below. */
  private val overflowCases: Seq[Double] = Seq(
    999999999999.999999, 1.0e12, -1.0e12, 9.9e11, 1.0e15,
    Double.PositiveInfinity, Double.NegativeInfinity)

  private def compareOn(p: Int, s: Int): Unit = {
    val spark0 = spark
    import spark0.implicits._
    // Keep only inputs that fit DECIMAL(p, s): under default-ANSI an
    // overflowing row aborts the whole collect; overflow parity has its
    // own test below.
    val fits = cases.filter(d =>
      d == null || d.isNaN || math.abs(d) < 0.9 * math.pow(10, p - s))
    val df = fits.toDF("d")
    // Codegen path: whole-stage projection of both casts side by side.
    val rows = df.select(
      MoneyDecimal.moneyDecimal($"d", p, s).as("fast"),
      $"d".cast(DecimalType(p, s)).as("slow")).collect()
    rows.zip(fits).foreach { case (Row(fast, slow), in) =>
      assert(fast == slow, s"codegen mismatch for input $in (p=$p, s=$s)")
    }
    // Interpreted path: direct expression eval on bound references.
    val ref = BoundReference(0, DoubleType, nullable = true)
    val fastE = MoneyDecimal(ref, p, s)
    val slowE = Cast(ref, DecimalType(p, s))
    fits.foreach { d =>
      val row = InternalRow(if (d == null) null else d.doubleValue())
      assert(fastE.eval(row) == slowE.eval(row),
        s"interpreted mismatch for input $d (p=$p, s=$s)")
    }
  }

  test("value-identical to Cast at DECIMAL(18,6) — the dsum shape") {
    compareOn(18, 6)
  }

  test("value-identical to Cast at DECIMAL(18,2) and DECIMAL(12,6)") {
    compareOn(18, 2)
    compareOn(12, 6)
  }

  test("ANSI overflow behavior matches Cast: both throw, or both null") {
    val ref = BoundReference(0, DoubleType, nullable = true)
    for (d <- overflowCases; ansi <- Seq(true, false)) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        // Expressions capture the eval mode at construction (like Cast),
        // so build them under the conf being tested.
        val fastE = MoneyDecimal(ref, 18, 6)
        val slowE = Cast(ref, DecimalType(18, 6))
        val row = InternalRow(d)
        val fast = scala.util.Try(fastE.eval(row))
        val slow = scala.util.Try(slowE.eval(row))
        (fast, slow) match {
          case (scala.util.Success(a), scala.util.Success(b)) =>
            assert(a == b, s"input $d ansi=$ansi")
          case (scala.util.Failure(_), scala.util.Failure(_)) => // both threw
          case other => fail(s"input $d ansi=$ansi diverged: $other")
        }
        // 9.9e11 fits DECIMAL(18,6); the rest overflow -> null when !ansi.
        if (!ansi && d != 9.9e11 && !d.isInfinite)
          assert(fast.get == null)
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("fast path emits compact (long-backed) decimals") {
    val d = MoneyDecimal(
      BoundReference(0, DoubleType, nullable = true), 18, 6)
      .eval(InternalRow(123.45)).asInstanceOf[Decimal]
    assert(d.toUnscaledLong == 123450000L && d.toString == "123.450000")
  }

  test("dsum over money values matches the pre-fast-path decimal sum") {
    val spark0 = spark
    import spark0.implicits._
    val vals = (1 to 5000).map(i => (i % 7, (i * 7919 % 100000) / 100.0))
    val df = vals.toDF("k", "v")
    val fast = df.groupBy($"k")
      .agg(graft.queries.Catalog.dsum($"v").as("s"))
      .orderBy($"k").collect().map(r => (r.getInt(0), r.getDouble(1)))
    val slow = df.groupBy($"k")
      .agg(sum($"v".cast(DecimalType(18, 6))).cast("double").as("s"))
      .orderBy($"k").collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(fast.toSeq == slow.toSeq)
  }

  test("property: parity with Cast over generated doubles incl. raw bits") {
    // Stronger than the fixed cases above: magnitude-stratified decimals
    // (0-8 fraction digits across every power of ten in range), raw
    // 64-bit patterns reinterpreted as doubles (subnormals, NaN payloads,
    // near-overflow), and products of money pairs — all compared against
    // Cast on the interpreted path, with ANSI-sensitive inputs (overflow,
    // ±Inf, NaN-under-ANSI) checked as both-throw-or-both-equal.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genDecimal = for {
      digits <- Gen.choose(0L, 999999999999999L)
      frac <- Gen.choose(0, 8)
      sign <- Gen.oneOf(1, -1)
    } yield sign * digits.toDouble / math.pow(10, frac)
    val genBits = Gen.choose(Long.MinValue, Long.MaxValue)
      .map(java.lang.Double.longBitsToDouble)
    val genProduct = for {
      a <- Gen.choose(0L, 99999999L); b <- Gen.choose(0L, 10000L)
    } yield (a / 100.0) * (1.0 - b / 10000.0)
    val gen = Gen.oneOf(genDecimal, genBits, genProduct)
    val inputs = (0 until 3000)
      .flatMap(i => gen(Gen.Parameters.default, Seed(i.toLong)))
    val ref = BoundReference(0, DoubleType, nullable = true)
    val fastE = MoneyDecimal(ref, 18, 6)
    val slowE = Cast(ref, DecimalType(18, 6))
    inputs.foreach { d =>
      val row = InternalRow(d)
      val fast = scala.util.Try(fastE.eval(row))
      val slow = scala.util.Try(slowE.eval(row))
      (fast, slow) match {
        case (scala.util.Success(a), scala.util.Success(b)) =>
          assert(a == b, s"mismatch for ${d} (bits ${java.lang.Double.doubleToRawLongBits(d)}): fast=$a slow=$b")
        case (scala.util.Failure(_), scala.util.Failure(_)) => ()
        case other => fail(s"divergence for $d (bits ${java.lang.Double.doubleToRawLongBits(d)}): $other")
      }
    }
  }

  test("q_agg_corr compiles its generated code: no interpreted fallback") {
    // money_decimal once emitted its child's code twice (fast test and
    // slow-path cast), and Janino rejects a local the child declares
    // ("Redefinition of local variable columnartorow_isNull_2"). With
    // fallback off, a plan that fails to compile fails the collect.
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    val rows = SparkEntry.queries("q_agg_corr")(strict, Sf0001).collect()
    assert(rows.nonEmpty)
  }
}
