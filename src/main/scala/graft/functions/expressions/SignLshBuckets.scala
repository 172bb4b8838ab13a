package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** All `bands` sign-LSH band buckets of a vector in ONE pass: plane
  * `h = band*bitsPerBand + bit` has ENGINE-INDEPENDENT md5-derived weight
  * `w(i,h) = (md5id60("i_h") mod 1e6)/1e6 − 0.5` for dimension i (uniform
  * in [−0.5, 0.5), deterministic — no external randomness, reproducible
  * across runs AND engines: `md5id60` is the first 15 hex chars of the md5
  * digest as a BIGINT, the [[Md5ShingleId]] convention, so DuckDB computes
  * the identical weight as
  * `(('0x' || substr(md5(i || '_' || h), 1, 15))::BIGINT % 1000000)/1e6 − 0.5`
  * — which is what lets `ann_sign_lsh` / `dedup_embedding_lsh` carry full
  * value-level oracles instead of rows-only recall pins, r9, the r8
  * `dedup_simhash` md5 precedent). Band bucket bit `bit` is set iff
  * `Σᵢ vᵢ·w(i,h) > 0`. The weight matrix depends only on (i, h), so it is
  * computed ONCE per JVM (lazily grown, executor-local) — the per-row work
  * is the O(d·H) multiply-accumulate alone, strictly cheaper than the old
  * per-row xxhash64 re-derivation. The per-plane accumulation replicates
  * the `aggregate(zip_with(...))` left fold of the composed form
  * bit-for-bit ON NULL-FREE INPUT (same fp addition order; pinned by
  * VectorExpressionsSpec). Null handling deliberately DIVERGES from
  * the composition (which nulls every plane sum and so zeroes every
  * bucket): here a null array → null row and a null ELEMENT is skipped —
  * the same contract as [[MinHashSignature]], also pinned in the spec.
  *
  * Why a custom Expression (SURVEY.md §7.4 ladder, case (b)): the composed
  * form builds `bands·bitsPerBand` separate zip_with+aggregate trees, each
  * re-walking the vector through interpreted higher-order functions — H
  * passes over every vector. This node is a narrow map doing one pass
  * (O(d·H) multiplies, no allocation per plane), which is what a
  * 100 TB corpus needs from its candidate generator.
  */
case class SignLshBuckets(child: Expression, bitsPerBand: Int, bands: Int)
  extends UnaryExpression {

  require(bitsPerBand >= 1 && bitsPerBand <= 63,
    s"bitsPerBand must be in [1, 63], got $bitsPerBand")
  require(bands >= 1, s"bands must be >= 1, got $bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sign_lsh_buckets expects array<double>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(SignLshBuckets.buckets(
      v.asInstanceOf[ArrayData], bitsPerBand, bands))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.SignLshBuckets$$.MODULE$$.buckets($arr, $bitsPerBand, $bands));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sign_lsh_buckets"
}

object SignLshBuckets {

  /** w(i,p) = (md5id60(s"${i}_${p}") % 1e6)/1e6 − 0.5, where md5id60 is the
    * top 60 bits of the digest ([[Md5ShingleId]] convention — always ≥ 0,
    * so no pmod needed). Public: the composed form, the spec, and the
    * oracle-generation comments all cite this single definition.
    */
  def weight(i: Int, p: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(
      s"${i}_${p}".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    ((v >>> 4) % 1000000L) / 1000000.0 - 0.5
  }

  // (i, p)-only ⇒ one lazily-grown matrix per JVM; rows index dimension,
  // columns index plane. Volatile snapshot + synchronized grow: readers
  // never block once the matrix covers their (dims, planes).
  @volatile private var wcache: Array[Array[Double]] = Array.empty

  private def weights(dims: Int, planes: Int): Array[Array[Double]] = {
    val c = wcache
    if (c.length >= dims && (dims == 0 || c(0).length >= planes)) c
    else synchronized {
      val cur = wcache
      if (cur.length >= dims && (dims == 0 || cur(0).length >= planes)) cur
      else {
        val nd = math.max(dims, cur.length)
        val np = math.max(planes, if (cur.length > 0) cur(0).length else 0)
        // grow INCREMENTALLY: copy already-digested cells, tabulate only
        // the new ones — heterogeneous vector lengths arriving in
        // ascending order would otherwise recompute the whole md5 matrix
        // per length, O(n²) digest work under this lock (ADVICE r9)
        val out = Array.tabulate(nd, np) { (i, p) =>
          if (i < cur.length && p < cur(i).length) cur(i)(p) else weight(i, p)
        }
        wcache = out
        out
      }
    }
  }

  /** Static so generated code can call it. */
  def buckets(arr: ArrayData, bitsPerBand: Int, bands: Int): Array[Long] = {
    val h = bitsPerBand * bands
    val acc = new Array[Double](h)
    val n = arr.numElements()
    val w = weights(n, h)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = arr.getDouble(i)
        val wi = w(i)
        var p = 0
        while (p < h) {
          acc(p) += x * wi(p)
          p += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var v = 0L
      var r = 0
      while (r < bitsPerBand) {
        if (acc(b * bitsPerBand + r) > 0) v |= 1L << r
        r += 1
      }
      out(b) = v
      b += 1
    }
    out
  }
}
