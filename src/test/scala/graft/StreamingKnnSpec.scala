package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{normalize, toDoubleArray}
import graft.ops.SimilarityOps
import graft.streaming.StreamingKnn

/** Stream/batch parity for the corpus-wide kNN LISTS maintainer (r15 —
  * the [[graft.streaming.StreamingKnn]] instantiation of the shared
  * banded-top-K kernel at the `knn_join` config): insert (drained lists
  * ≡ one-shot `knn_join` build, chop-independent), delete + compact (≡
  * survivor rebuild), post-compact insert, fresh-checkpoint re-drain
  * no-op — the StreamingHnswSpec chain at the second config, proving
  * the kernel's durability properties are config-independent.
  */
class StreamingKnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = graft.ops.Tables(spark, dir, "embeddings")

  private def bag(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted

  /** The one-shot lists build over an id predicate — `knn_join`'s rows
    * before ranking/rounding, at the shipped lists config.
    */
  private def rebuild(pred: Column): Seq[(Long, Long, Double)] = {
    val e = emb.filter(pred).select(col("vec_id"),
      normalize(toDoubleArray(col("embedding"))).as("v"))
    val banded = SimilarityOps.hnswBanded(e,
      SimilarityOps.KnnBitsPerBand, SimilarityOps.KnnBands)
    bag(KnnReference.hnswTopOut(
      KnnReference.hnswScore(
        KnnReference.hnswCohabit(banded, banded), e), SimilarityOps.K))
  }

  test("insert ≡ knn_join build chop-independently; delete+compact ≡ survivor rebuild; post-compact insert stays exact; re-drain no-op") {
    val root = Files.createTempDirectory("graft-sknn")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString

    // phase 1 — insert: two arrival chops of the first two thirds
    for (pred <- Seq("vec_id % 3 = 0", "vec_id % 3 = 1"))
      emb.filter(pred).coalesce(1).write.mode("append").parquet(in.toString)
    StreamingKnn.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt1").toString)
    val phase1 = rebuild(pmod(col("vec_id"), lit(3)) =!= 2)
    assert(phase1.nonEmpty)
    assert(bag(StreamingKnn.lists(spark, store)) == phase1,
      "phase 1: drained lists ≠ knn_join build over arrivals")

    // phase 2 — delete + compact: tombstone every vec_id % 10 = 3
    // (including not-yet-arrived ones — pre-deleted), then compact
    StreamingKnn.applyDeletes(spark, store,
      emb.filter(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
    StreamingKnn.compact(spark, store)
    val phase2 = rebuild(pmod(col("vec_id"), lit(3)) =!= 2 &&
      pmod(col("vec_id"), lit(10)) =!= 3)
    assert(phase2.nonEmpty)
    assert(bag(StreamingKnn.lists(spark, store)) == phase2,
      "phase 2: compacted lists ≠ rebuild over survivors")

    // phase 3 — post-compact insert: the last third arrives (its
    // tombstoned members must stay dead)
    emb.filter("vec_id % 3 = 2").coalesce(1).write.mode("append")
      .parquet(in.toString)
    StreamingKnn.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt1").toString)
    val phase3 = rebuild(pmod(col("vec_id"), lit(10)) =!= 3)
    assert(bag(StreamingKnn.lists(spark, store)) == phase3,
      "phase 3: post-compact insert ≠ rebuild over all live ids")

    // fresh checkpoint re-drain: novelty + tombstones suppress everything
    StreamingKnn.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt2").toString)
    assert(bag(StreamingKnn.lists(spark, store)) == phase3,
      "re-drain disturbed the lists")
  }

  test("compaction policy at the lists config: holds under thresholds, fires on damage, vacuum prunes, TTL purge re-enters exactly") {
    import scala.jdk.CollectionConverters._
    def outVersionDirs(store: String): Set[String] =
      Files.list(java.nio.file.Paths.get(store, "out")).iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet

    val root = Files.createTempDirectory("graft-sknn-policy")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    emb.coalesce(1).write.mode("append").parquet(in.toString)
    StreamingKnn.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt1").toString)
    val intact = rebuild(lit(true))
    assert(bag(StreamingKnn.lists(spark, store)) == intact)

    // trigger-holds: one dead node is far under both thresholds — the
    // policy must decline and leave every store untouched
    val oneId = emb.filter(pmod(col("vec_id"), lit(10)) === 3)
      .agg(min(col("vec_id"))).collect()(0).getLong(0)
    StreamingKnn.applyDeletes(spark, store,
      spark.range(oneId, oneId + 1).select(col("id").as("vec_id")))
    val dirsBefore = outVersionDirs(store)
    assert(!StreamingKnn.maybeCompact(spark, store),
      "policy fired under thresholds")
    assert(bag(StreamingKnn.lists(spark, store)) == intact,
      "no-op policy path disturbed the lists")
    assert(outVersionDirs(store) == dirsBefore,
      "no-op policy path touched the out store")

    // trigger-fires: the full %10=3 family (10% of the corpus) — the
    // policy compacts, the artifact equals the survivor rebuild, and
    // the vacuum leaves exactly the compact's own version
    StreamingKnn.applyDeletes(spark, store,
      emb.filter(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
    assert(StreamingKnn.maybeCompact(spark, store),
      "policy held above thresholds")
    val survivors = rebuild(pmod(col("vec_id"), lit(10)) =!= 3)
    assert(bag(StreamingKnn.lists(spark, store)) == survivors,
      "post-policy lists ≠ survivor rebuild")
    assert(outVersionDirs(store).size == 1,
      s"vacuum left superseded versions: ${outVersionDirs(store)}")

    // TTL 0 expires everything (scrubbing vecs/banded with it): a
    // fresh-checkpoint re-drain re-enters the purged ids through the
    // insert path and lands back at the intact build exactly
    StreamingKnn.purgeTombstones(spark, store, 0L)
    StreamingKnn.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt2").toString)
    assert(bag(StreamingKnn.lists(spark, store)) == intact,
      "TTL-purged ids failed to re-enter exactly")
  }
}
