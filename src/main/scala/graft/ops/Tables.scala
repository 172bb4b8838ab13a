package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Test-table access for queries/oracles (TESTDATA.md). Reads are plain
  * parquet scans so Catalyst pushes filters/projections into the scan.
  *
  * `events.ts` has shipped in two physical encodings across testdata
  * generations: parquet TIMESTAMP(NANOS) (no native Spark type —
  * [PARQUET_TYPE_ILLEGAL] — read as long via the legacy conf and truncated
  * to micros), and plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Both
  * normalize to the same session-TZ TimestampType column, so every query
  * and DuckDB oracle (which `CAST(ts AS TIMESTAMP)`s, ns or µs alike) sees
  * identical values regardless of generation. Verify/Bench pin the session
  * time zone to UTC, making the NTZ→TZ cast value-preserving.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = parquet(spark, s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // integral `div`, NOT `/`: epoch-nanos exceed 2^53, so double
          // division would round at ~256 ns before truncating — enough to
          // flip a value across a second boundary vs DuckDB's exact math
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else {
      parquet(spark, s"$sfDir/$name.parquet")
    }
  }

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** A parquet scan of `path` with its schema read once per path and
    * passed to every later read. Inferring it is a one-task Spark job,
    * which a plain `spark.read.parquet` runs again on every read (one job
    * per table per query execution). The fixture tables and the session
    * seams' artifacts are written once and never change under their path,
    * so the first read's schema holds for every later one.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemas.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)).parquet(path)

  /** `df` repartitioned by `key` into `spark.sql.shuffle.partitions`
    * partitions when it arrives with fewer; otherwise `df` itself.
    *
    * Per-row work on text and vectors (regex batteries, tokenize, shingle
    * and minhash projections, explodes before a map-side aggregate) runs
    * one task per input partition. A small single-file parquet table scans
    * as ONE partition, so without this that work runs on one core, once per
    * consumer of the frame. Input that already arrives spread (a multi-file
    * table, whose scan splits follow its files, or a frame behind an
    * exchange) is left alone: re-shuffling it would move the whole text
    * column and add no parallelism.
    *
    * The count is read from `df`'s physical plan ([[plannedPartitions]]),
    * never by running a job. Where the plan does not tell it, `df` is
    * spread. An exchange's count is the one it plans before AQE coalesces
    * it. AQE packs a shuffle's partitions toward total/(default
    * parallelism) bytes each, but no smaller than its minimum partition
    * size (16 KB as [[graft.GraftOptimizations]] installs it), so it folds
    * such a frame onto fewer tasks than the shuffle partitions only when
    * the whole shuffle is about that many minimum partitions or smaller
    * (some 64 KB at 4 cores): too little per-row work to pay for one more
    * exchange.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (plannedPartitions(df).exists(_ >= target)) df
    else df.repartition(target, key)
  }

  /** The partition count `df` would run with, read from its physical plan
    * without running a job: an exchange or a partitioned operator reports
    * its own count (under AQE, its count before coalescing), a file scan
    * the splits it packs its files into; narrow operators keep their
    * child's count. None where the plan does not say (a union, a join over
    * unknown sides, an in-memory relation).
    */
  private[graft] def plannedPartitions(df: DataFrame): Option[Int] =
    partitionsOf(df.queryExecution.executedPlan)

  private def partitionsOf(p: SparkPlan): Option[Int] = p match {
    // before execution, the initial plan with its exchanges
    case a: AdaptiveSparkPlanExec => partitionsOf(a.executedPlan)
    case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
    case _ => p.outputPartitioning.numPartitions match {
      case 0 => p.children match {
        case Seq(child) => partitionsOf(child)
        case _ => None
      }
      case n => Some(n)
    }
  }
}
