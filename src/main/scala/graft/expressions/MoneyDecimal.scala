// Hosted in an org.apache.spark.sql subpackage: AbstractDataType and
// classic.ExpressionUtils are private[sql], the normal home for third-party
// native expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, Decimal, DecimalType, DoubleType}

/** Exact-semantics fast path for `CAST(double AS DECIMAL(p, s))` — the
  * money-determinism cast [[graft.queries.Catalog.dsum]] applies to every
  * addend of every oracle-checked sum.
  *
  * Why: Spark's double→decimal cast allocates per row —
  * `Decimal(d)` goes through `Double.toString` + a `java.math.BigDecimal`
  * parse + `setScale`, and the resulting Decimal is heap-`BigDecimal`-backed
  * (non-compact), so even the downstream `Decimal.+` in the sum buffer
  * leaves the compact-long fast path. The r16 profile measured the cast at
  * ~0.16 s per column per 600k rows (agg_double_sums 0.32 s vs
  * agg_decimal_sums 0.79 s for three cast columns) — the single largest
  * cost in `q_agg_pricing`'s 11.9× floor-adjusted DuckDB ratio.
  *
  * Fast path (branch-free per row, no allocation): `u = Math.round(d·10^s)`,
  * accept iff `|d| < 2^50·10^-s`, `(double) u / 10^s == d`, and `|u| < 10^p`.
  * On accept, emit `Decimal.createUnsafe(u, p, s)` — compact-long-backed, so
  * the enclosing SUM's `Decimal.+` stays on its long fast path too.
  *
  * Exactness proof (result identical to `BigDecimal.valueOf(d).setScale(s,
  * HALF_UP)`, which is what Spark's Cast computes):
  * let g = 10^-s be the decimal grid and D the exact value of d's shortest
  * decimal representation (`Double.toString`), so |D - d| ≤ ulp(d)/2. The
  * bound |d| < 2^50·g gives ulp(d) ≤ g/4. The round-trip acceptance
  * `(double) u / 10^s == d` states d is the correctly-rounded double of the
  * grid point u·g, so |u·g - d| ≤ ulp(d)/2. Then
  * |D - u·g| ≤ ulp(d) ≤ g/4 < g/2: u·g is the unique nearest grid point to
  * D and no HALF_UP tie is possible (a tie needs distance exactly g/2), so
  * setScale(s, HALF_UP) lands on u·g exactly. Uniqueness of the accepted u:
  * grid spacing g ≥ 4·ulp(d) means distinct grid points round to distinct
  * doubles, so at most one u can pass the round-trip test — whichever
  * rounding `Math.round` uses is immaterial. Any d that fails the test
  * (value needs >s fraction digits, |d| too large, NaN/±Inf, null) falls
  * through to a real `Cast(child, DecimalType(p, s))`, delegated verbatim —
  * including its ANSI-vs-legacy overflow behavior — so the expression is
  * value-identical to the cast it replaces on every input.
  *
  * Input-type contract, DELIBERATELY strict (r16 advisor suggested
  * implicit numeric→double casts; r17 review rejected it): accepting a
  * long/decimal child through an analyzer-inserted Cast-to-double would
  * SILENTLY round values above 2^53 before this expression ever sees
  * them — `money_decimal(10000000000000001L)` would return …000 where
  * the plain `cast(DECIMAL(p, s))` it claims to replace is exact. The
  * strict [[ExpectsInputTypes]] turns that misuse into a loud analysis
  * error instead; non-double numeric callers should use the plain cast
  * directly, which for integral and decimal inputs is already exact AND
  * already fast (the slow path this expression exists to bypass —
  * `Double.toString` + BigDecimal parse — is double-specific).
  *
  * The generated slow path casts the child value the fast test already
  * computed (the child's code is emitted once: emitted twice, a local it
  * declares is a Janino redefinition error and the whole stage falls
  * back to the interpreted plan). The interpreted slow path,
  * `slowCast.eval(input)`, re-evaluates `child`, so a NON-deterministic
  * child could be slow-cast from a different value than the one that
  * failed the fast test — [[checkInputDataTypes]] therefore rejects
  * non-deterministic children at analysis time.
  */
case class MoneyDecimal(child: Expression, precision: Int, scale: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(scale >= 0 && scale <= 12 && precision > scale,
    s"money_decimal supports 0 <= scale <= 12, got ($precision, $scale)")

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)

  override def checkInputDataTypes(): TypeCheckResult = {
    val typeCheck = super.checkInputDataTypes()
    if (typeCheck.isFailure) typeCheck
    else if (!child.deterministic) {
      TypeCheckResult.TypeCheckFailure(
        "money_decimal requires a deterministic child: its slow path " +
          "re-evaluates the child expression")
    } else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = DecimalType(precision, scale)
  override def prettyName: String = "money_decimal"

  private lazy val slowCast = Cast(child, DecimalType(precision, scale))
  override def nullable: Boolean = slowCast.nullable

  /** 10^scale — exact as double for scale ≤ 15. */
  private val mul: Double = math.pow(10, scale)
  /** |d| bound keeping the decimal grid ≥ 4 ulps wide (see proof above). */
  private val bound: Double = math.pow(2, 50) / mul
  /** Unscaled magnitude bound from the declared precision. */
  private val maxUnscaled: Long =
    if (precision >= 19) Long.MaxValue else math.pow(10, precision).toLong

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val d = v.asInstanceOf[Double]
    if (math.abs(d) < bound) {
      val u = Math.round(d * mul)
      if (u / mul == d && math.abs(u) < maxUnscaled)
        return Decimal.createUnsafe(u, precision, scale)
    }
    slowCast.eval(input)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    // The slow-path cast reads the child's value through a bound
    // reference resolved against the current input vars, as operators
    // that hand evaluated columns to expressions do; with INPUT_ROW
    // unset the cast's code is never split into a method that could not
    // see the child's locals.
    val (inputRow, inputVars) = (ctx.INPUT_ROW, ctx.currentVars)
    ctx.INPUT_ROW = null
    ctx.currentVars = Seq(childGen.copy(code = EmptyBlock))
    val castGen =
      try slowCast.withNewChildren(Seq(BoundReference(0, DoubleType, child.nullable)))
        .genCode(ctx)
      finally { ctx.INPUT_ROW = inputRow; ctx.currentVars = inputVars }
    val javaType = CodeGenerator.javaType(dataType)
    val d = ctx.freshName("mdD")
    val u = ctx.freshName("mdU")
    val hit = ctx.freshName("mdHit")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = null;
      if (!${childGen.isNull}) {
        final double $d = ${childGen.value};
        boolean $hit = false;
        if (java.lang.Math.abs($d) < ${bound}D) {
          final long $u = java.lang.Math.round($d * ${mul}D);
          if ((double) $u / ${mul}D == $d &&
              (java.lang.Math.abs($u) < ${maxUnscaled}L || ${precision >= 19})) {
            ${ev.value} = org.apache.spark.sql.types.Decimal.createUnsafe(
              $u, $precision, $scale);
            ${ev.isNull} = false;
            $hit = true;
          }
        }
        if (!$hit) {
          ${castGen.code}
          ${ev.isNull} = ${castGen.isNull};
          ${ev.value} = ${castGen.value};
        }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): MoneyDecimal =
    copy(child = newChild)
}

object MoneyDecimal {
  /** Column-API wrapper: exact `CAST(c AS DECIMAL(p, s))`, allocation-free
    * on the (overwhelmingly common) ≤s-fraction-digit money fast path. */
  def moneyDecimal(c: Column, precision: Int = 18, scale: Int = 6): Column =
    ExpressionUtils.column(
      MoneyDecimal(ExpressionUtils.expression(c), precision, scale))
}
