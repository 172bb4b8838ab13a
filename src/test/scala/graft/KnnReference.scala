package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.dot

/** The composed banded top-K: the pair table the fused
  * [[graft.ops.SimilarityOps.bandedTopK]] never builds, kept as the
  * reference the specs compare it against —
  * `hnswTopOut(hnswScore(hnswCohabit(a, b), emb), k)`.
  */
object KnnReference {

  /** Distinct directed cohabiting pairs `(node, nbr)` between two banded
    * frames: node from `a`, nbr from `b`, same (band, bucket), self
    * excluded.
    */
  def hnswCohabit(a: DataFrame, b: DataFrame): DataFrame =
    a.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("node"), col("b.vec_id").as("nbr"))
      .distinct()

  /** Exact-score a candidate pair set by two id-keyed vector lookups:
    * `(node, nbr, ncos)`.
    */
  def hnswScore(cand: DataFrame, emb: DataFrame): DataFrame =
    cand
      .join(emb.select(col("vec_id").as("node"), col("v").as("nv")), "node")
      .join(emb.select(col("vec_id").as("nbr"), col("v").as("bv")), "nbr")
      .select(col("node"), col("nbr"), dot(col("nv"), col("bv")).as("ncos"))

  /** Per-node top-`degree` by (ncos DESC, nbr) over a scored pair set. */
  def hnswTopOut(scored: DataFrame, degree: Int): DataFrame = {
    val wN = Window.partitionBy(col("node"))
      .orderBy(col("ncos").desc, col("nbr"))
    scored.withColumn("rn", row_number().over(wN))
      .filter(col("rn") <= degree)
      .select(col("node"), col("nbr"), col("ncos"))
  }

  /** The whole composition. */
  def topK(a: DataFrame, b: DataFrame, emb: DataFrame, k: Int): DataFrame =
    hnswTopOut(hnswScore(hnswCohabit(a, b), emb), k)
}
