// Hosted in an org.apache.spark.sql subpackage: AbstractDataType and
// classic.ExpressionUtils are private[sql], the normal home for third-party
// native expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** Fused per-row MinHash signature kernel: token array in, the full
  * 18-value signature out — one tight loop per document instead of the
  * posexplode → window-lead → 18-min hash-aggregate pipeline it replaces
  * in [[graft.queries.Dedup.bandTable]]. The relational shape needed a
  * corpus-wide sort + shuffle on doc_id JUST to reassemble adjacent tokens
  * into shingles; per-row the tokens are already adjacent, so at 100 TB
  * the entire signature stage becomes embarrassingly parallel map work
  * (scan → project), and the only remaining dedup shuffle is the LSH
  * band-bucket join that defines the algorithm.
  *
  * BIT-IDENTICAL to the relational formulation (pinned by
  * MinHashSigsSpec): shingle text is the space-joined k-gram
  * (`concat_ws(" ", ...)` semantics, null tokens skipped), hashed with
  * the same `pmod(xxhash64(s), P)` ([[TextFunctions.fastShingleHash]] —
  * seed-42 XXH64 over the UTF-8 bytes), folded through the same 18
  * `min((a_i*h + b_i) mod P)` permutations. Existing materialized band
  * artifacts therefore stay valid — same logic descriptor, same bytes.
  *
  * Returns NULL for documents with fewer than k tokens (they produce no
  * shingle rows relationally, hence no signature row).
  */
case class MinHashShingleSigs(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_shingle_sigs"

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // One JIT-compiled kernel call per row, inside the codegen stage —
      // no interpreted expression-tree walk per shingle.
      s"""
         |${ev.value} = org.apache.spark.sql.graft.MinHashKernel.compute($c, $k);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinHashShingleSigs = copy(child = newChild)
}

object MinHashShingleSigs {
  /** Column-API wrapper. */
  def minhashSigs(toks: Column, k: Int): Column =
    ExpressionUtils.column(
      MinHashShingleSigs(ExpressionUtils.expression(toks), k))
}

/** Standalone object => Scala emits a mirror class with STATIC forwarders,
  * so generated Java calls `MinHashKernel.compute(...)` directly. */
object MinHashKernel {

  private val P = TextFunctions.HashP
  private val CoeffA = TextFunctions.MinHashCoeffs.map(_._1).toArray
  private val CoeffB = TextFunctions.MinHashCoeffs.map(_._2).toArray

  /** All 18 signature values of one token array; null when < k tokens. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return null
    // Token bytes once per token (each token is reread by k shingles).
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      // concat_ws semantics: null tokens contribute nothing (no bytes, no
      // separator). tokens() never produces them; mirrored for safety.
      val u = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      toks(i) = if (u == null) null else u.getBytes
      i += 1
    }
    val nSigs = CoeffA.length
    val sigs = new Array[Long](nSigs)
    java.util.Arrays.fill(sigs, Long.MaxValue)
    i = 0
    while (i <= n - k) {
      // Space-joined k-gram, byte-identical to concat_ws(" ", ...).
      var len = 0
      var present = 0
      var j = 0
      while (j < k) {
        val t = toks(i + j)
        if (t != null) { len += t.length; present += 1 }
        j += 1
      }
      if (present > 0) len += present - 1
      val buf = new Array[Byte](len)
      var pos = 0
      var first = true
      j = 0
      while (j < k) {
        val t = toks(i + j)
        if (t != null) {
          if (!first) { buf(pos) = ' '; pos += 1 }
          System.arraycopy(t, 0, buf, pos, t.length)
          pos += t.length
          first = false
        }
        j += 1
      }
      // fastShingleHash: pmod(xxhash64(s), P) — same bytes, same seed.
      val x = XxHash64Function.hash(
        UTF8String.fromBytes(buf), StringType, 42L)
      var h = x % P
      if (h < 0) h += P
      var s = 0
      while (s < nSigs) {
        val v = (h * CoeffA(s) + CoeffB(s)) % P
        if (v < sigs(s)) sigs(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(sigs)
  }
}
