package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Full MinHash signature in ONE pass over a pre-hashed token array:
  * `sig[j] = min_tokens xxhash64(tok, j)` for j in [0, nHashes), where the
  * per-position hash replicates Spark's two-argument `xxhash64(tok, j)`
  * fold exactly (seed 42, then the literal j hashed with the running seed) —
  * so signatures are bit-identical to the explode + groupBy + nHashes
  * min-aggregate composition (pinned by VectorExpressionsSpec).
  *
  * Why a custom Expression (SURVEY.md §7.4 ladder, case (b)): the
  * composition explodes every (doc, token) pair into a SHUFFLE feeding
  * nHashes aggregates — at 100 TB that's a full pass of the tokenized
  * corpus through the exchange just to fold per-document minima that never
  * needed to leave their row. This node keeps signature computation a
  * narrow map. Null elements are skipped; null array → null.
  */
case class MinHashSignature(child: Expression, nHashes: Int)
  extends UnaryExpression {

  require(nHashes >= 1, s"nHashes must be >= 1, got $nHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      MinHashSignature.signature(v.asInstanceOf[ArrayData], nHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.MinHashSignature$$.MODULE$$.signature($arr, $nHashes));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

/** MinHash signature from the ENGINE-INDEPENDENT affine family
  * `sig[j] = min_m (A(j)·(m mod 2³²) + B(j)) mod 2³²` over a pre-hashed
  * element array — same one-pass narrow-map shape as [[MinHashSignature]]
  * (SURVEY.md §7.4 case (b)), but with md5-derived constants instead of
  * xxhash64, so the whole signature is expressible in ANSI SQL and the
  * LSH query it feeds is value-checkable by the DuckDB oracle (the
  * winnowing trick from r7, applied to MinHash). A(j) is odd and < 2³¹,
  * inputs are reduced mod 2³², so A·m + B < 2⁶³ — no signed-64 overflow
  * on either engine.
  */
case class AffineMinHash(child: Expression, nHashes: Int)
  extends UnaryExpression {

  require(nHashes >= 1 && nHashes <= AffineMinHash.MaxHashes,
    s"nHashes must be in [1, ${AffineMinHash.MaxHashes}], got $nHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"affine_minhash expects array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      AffineMinHash.signature(v.asInstanceOf[ArrayData], nHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.AffineMinHash$$.MODULE$$.signature($arr, $nHashes));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "affine_minhash"
}

object AffineMinHash {
  val MaxHashes = 64
  val Mod = 4294967296L // 2^32

  private def md5Head8(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 8 hex chars = first 4 bytes, big-endian, unsigned
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** md5-derived permutation constants — no magic numbers, reproducible by
    * any engine from the md5 spec alone. `A(j)` forced odd (invertible mod
    * 2³²) and < 2³¹ (overflow headroom); `B(j)` < 2³².
    */
  val A: Array[Long] =
    Array.tabulate(MaxHashes)(j => (md5Head8(s"minhash-a:$j") & 0x7fffffffL) | 1L)
  val B: Array[Long] =
    Array.tabulate(MaxHashes)(j => md5Head8(s"minhash-b:$j"))

  /** Static so generated code can call it. Empty/all-null input → a
    * signature of Long.MaxValue. Elements reduced mod 2³² first, so any
    * non-negative pre-hash (e.g. 60-bit md5 prefixes) is a valid input.
    */
  def signature(arr: ArrayData, nHashes: Int): Array[Long] = {
    val sig = Array.fill(nHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val m = arr.getLong(i) % Mod
        var j = 0
        while (j < nHashes) {
          val h = (A(j) * m + B(j)) % Mod
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    sig
  }
}

object MinHashSignature {
  private val Seed = 42L

  /** Static so generated code can call it. Empty/all-null input → a
    * signature of Long.MaxValue (no token ever hashed below it).
    */
  def signature(arr: ArrayData, nHashes: Int): Array[Long] = {
    val sig = Array.fill(nHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val tok = arr.getLong(i)
        // xxhash64(tok, j) == hashInt(j, hashLong(tok, 42)) — Spark's
        // multi-argument fold; the literal j is IntegerType, which XxHash64
        // hashes via hashInt, not hashLong
        val h1 = XXH64.hashLong(tok, Seed)
        var j = 0
        while (j < nHashes) {
          val h = XXH64.hashInt(j, h1)
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    sig
  }
}
