package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{normalize, toDoubleArray}
import graft.ops.{HnswIndex, SimilarityOps}
import graft.streaming.StreamingHnsw

/** Stream/batch parity for HNSW index maintenance across the FULL
  * lifecycle (VERDICT r13 #5): insert (drained artifact ≡ one-shot
  * rebuild, chop-independent — the per-batch [[HnswIndex.insert]]
  * pigeonhole composes inductively), delete + compact (the
  * knn_delete_repair dominance algebra over the stores ≡ rebuild over
  * survivors), and post-compact insert (still rebuild-exact: candidates
  * come from live ids only). A fresh-checkpoint re-drain of old files
  * must leave the artifact untouched (identity novelty; tombstoned ids
  * stay dead). r15 adds the compaction POLICY (VERDICT r14 #3): the
  * measured-damage trigger, the version vacuum, and the tombstone TTL
  * purge with exact re-entry after it.
  */
class StreamingHnswSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = graft.ops.Tables(spark, dir, "embeddings")

  private def bag(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted

  /** Frame-level rebuild over an arbitrary id predicate (the
    * HnswIndexSpec stages, shared build definition).
    */
  private def rebuild(pred: Column): Seq[(Long, Long, Double)] = {
    val e = emb.filter(pred).select(col("vec_id"),
      normalize(toDoubleArray(col("embedding"))).as("v"))
    val banded = SimilarityOps.hnswBanded(e,
      HnswIndex.BitsPerBand, HnswIndex.Bands)
    bag(KnnReference.hnswTopOut(
      KnnReference.hnswScore(
        KnnReference.hnswCohabit(banded, banded), e), HnswIndex.Degree))
  }

  test("insert ≡ rebuild chop-independently; delete+compact ≡ survivor rebuild; post-compact insert stays exact; re-drain no-op") {
    val root = Files.createTempDirectory("graft-shnsw")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString

    // phase 1 — insert: two arrival chops of the first two thirds
    for (pred <- Seq("vec_id % 3 = 0", "vec_id % 3 = 1"))
      emb.filter(pred).coalesce(1).write.mode("append").parquet(in.toString)
    StreamingHnsw.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt1").toString)
    val phase1 = rebuild(pmod(col("vec_id"), lit(3)) =!= 2)
    assert(phase1.nonEmpty)
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == phase1,
      "phase 1: drained artifact ≠ rebuild over arrivals")

    // phase 2 — delete + compact: tombstone every vec_id % 10 = 3
    // (including not-yet-arrived ones — pre-deleted), then compact
    StreamingHnsw.applyDeletes(spark, store,
      emb.filter(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
    StreamingHnsw.compact(spark, store)
    val phase2 = rebuild(pmod(col("vec_id"), lit(3)) =!= 2 &&
      pmod(col("vec_id"), lit(10)) =!= 3)
    assert(phase2.nonEmpty)
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == phase2,
      "phase 2: compacted artifact ≠ rebuild over survivors")

    // phase 3 — post-compact insert: the last third arrives (its
    // tombstoned members must stay dead)
    emb.filter("vec_id % 3 = 2").coalesce(1).write.mode("append")
      .parquet(in.toString)
    StreamingHnsw.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt1").toString)
    val phase3 = rebuild(pmod(col("vec_id"), lit(10)) =!= 3)
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == phase3,
      "phase 3: post-compact insert ≠ rebuild over all live ids")

    // fresh checkpoint re-drain: novelty + tombstones suppress everything
    StreamingHnsw.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt2").toString)
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == phase3,
      "re-drain disturbed the artifact")
  }

  test("duplicate rows inside one micro-batch do not distort the artifact") {
    val full = bag(SimilarityOps.hnswOutInline(spark, dir,
      HnswIndex.BitsPerBand, HnswIndex.Bands, HnswIndex.Degree))
    val root = Files.createTempDirectory("graft-shnsw-dup")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    // every vector TWICE in one arrival file: without the intra-batch
    // dedup the duplicate scored rows would consume top-Degree slots
    emb.unionByName(emb).coalesce(1).write.mode("append")
      .parquet(in.toString)
    StreamingHnsw.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt").toString)
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == full,
      "intra-batch duplicate distorted the artifact")
  }

  test("compaction policy: holds under thresholds, fires on measured damage; vacuum prunes versions; TTL purge scrubs so purged ids re-enter exactly") {
    def outVersionDirs(store: String): Set[String] =
      Files.list(java.nio.file.Paths.get(store, "out")).iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet

    val root = Files.createTempDirectory("graft-shnsw-policy")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    emb.coalesce(1).write.mode("append").parquet(in.toString)
    StreamingHnsw.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt1").toString)
    val intact = rebuild(lit(true))
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == intact)

    // trigger-holds: ONE dead node is ~0.2% of nodes and ~0.2% of edges
    // — both measures far under the calibrated thresholds, so the
    // policy must decline and leave every store untouched
    val oneId = emb.filter(pmod(col("vec_id"), lit(10)) === 3)
      .agg(min(col("vec_id"))).collect()(0).getLong(0)
    StreamingHnsw.applyDeletes(spark, store,
      spark.range(oneId, oneId + 1).select(col("id").as("vec_id")))
    val dirsBefore = outVersionDirs(store)
    assert(!StreamingHnsw.maybeCompact(spark, store),
      "policy fired under thresholds")
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == intact,
      "no-op policy path disturbed the artifact")
    assert(outVersionDirs(store) == dirsBefore,
      "no-op policy path touched the out store")

    // trigger-fires: the full %10=3 family (10% of the corpus) damages
    // ~10% of live edges — the recall proxy drops to ~0.90, below the
    // 0.97 calibration hnsw_tombstone_recall's 0.956 measurement set
    StreamingHnsw.applyDeletes(spark, store,
      emb.filter(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
    val (tombFrac, proxy) = StreamingHnsw.compactionStats(spark, store)
    assert(tombFrac >= 0.05, s"expected ~10% tombstoned nodes, got $tombFrac")
    assert(proxy < 0.97, s"expected measurable edge damage, got $proxy")
    assert(StreamingHnsw.maybeCompact(spark, store),
      "policy held above thresholds")
    val survivors = rebuild(pmod(col("vec_id"), lit(10)) =!= 3)
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == survivors,
      "post-policy artifact ≠ survivor rebuild")
    // the vacuum ran: every superseded version is gone, exactly the
    // compact's own partition remains
    assert(outVersionDirs(store).size == 1,
      s"vacuum left superseded versions: ${outVersionDirs(store)}")

    // the default TTL (2 versions) RETAINED the young tombstones: a
    // fresh-checkpoint re-drain of the original file stays suppressed
    StreamingHnsw.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt2").toString)
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == survivors,
      "retained tombstone failed to gate re-ingest")

    // TTL 0 expires everything: the purge must scrub vecs/banded too —
    // a re-drain then re-ENTERS all purged ids through the insert path,
    // and the pigeonhole algebra lands the artifact back at the intact
    // full-corpus rebuild exactly
    StreamingHnsw.purgeTombstones(spark, store, 0L)
    StreamingHnsw.runAvailableNow(spark, emb.schema, in.toString, store,
      root.resolve("ckpt3").toString)
    assert(bag(StreamingHnsw.outAdjacency(spark, store)) == intact,
      "TTL-purged ids failed to re-enter exactly")
  }
}
