package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Session-scoped materialization seam for the corpus-wide kNN lists
  * artifact (r15 — the [[HnswIndex]]/[[SparseIndex]] pattern applied to
  * the `knn_join` artifact): `knn_join` serves the per-node top-K lists
  * and `semdedup_knn` thresholds the SAME lists into the semantic-dedup
  * edge set, and each would otherwise rerun the banded top-K kernel
  * ([[SimilarityOps.bandedTopK]]: one (band, bucket) exchange of bands × n
  * vector-carrying rows, per-bucket scoring, one node-keyed merge) per
  * execution — the dominant cost of both. A
  * production SemDeDup deployment materializes the lists once per corpus
  * snapshot and MAINTAINS them under arrivals/deletes
  * ([[SimilarityOps.incrementalKnn]] / [[SimilarityOps.knnDeleteRepair]]
  * are that maintenance algebra, and they always build inline by design —
  * recompute-vs-maintain is their demonstrated claim, so the honest build
  * cost stays visible in the bench through them).
  *
  * One parquet materialization at the shipped config (4×20 banding,
  * top-K), written by the first read for a dir ([[SessionSeam]]) or up
  * front by [[seed]] (GraftSession.seedSeams: Bench, ExplainAudit,
  * JobProbe, ScaleProbe), temp storage reclaimed by [[clear]] / the JVM
  * shutdown hook. Longs and the 4-rounded cosine round-trip parquet
  * exactly, so the served lists equal [[build]] row for row
  * (SessionSeamSpec).
  */
object KnnLists {

  private val seam = new SessionSeam("graft_knn_")

  /** The inline lists build at the shipped config. */
  def build(s: SparkSession, dir: String): DataFrame =
    SimilarityOps.knnJoin(s, dir)

  /** Materialize the lists for `dir` once per session (idempotent). */
  def seed(s: SparkSession, dir: String): Unit = root(s, dir)

  private def root(s: SparkSession, dir: String): String =
    seam.seed(dir)(out =>
      build(s, dir).write.mode("overwrite").parquet(s"$out/lists"))

  /** Drop all seeded materializations and delete their parquet. */
  def clear(): Unit = seam.clear()

  /** `(vec_id, rank, neighbor_id, cos)` lists at the shipped config, read
    * from the materialized table. The orderBy is re-applied on the read
    * path — the artifact's row order is not a parquet property, and every
    * consumer's contract is deterministic output.
    */
  def lists(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"${root(s, dir)}/lists")
      .select(col("vec_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy("vec_id", "rank")
}
