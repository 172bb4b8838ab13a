package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.{normalize, toDoubleArray}
import graft.KnnReference
import graft.ops.SimilarityOps

/** The crash window the maintainer's write ordering deliberately permits,
  * driven end to end (the StoreUtilSpec lesson applied one layer up).
  *
  * [[BandedTopKMaintainer]] commits vecs, then banded, then out — so the
  * one reachable partial state after a mid-batch crash is "candidate
  * stores complete, artifact version absent". The module's docs bless
  * running [[BandedTopKMaintainer.compact]] inside that window (before
  * the streaming retry): the repair then re-probes damaged nodes against
  * a candidate view that INCLUDES the crashed batch's ids — nodes the
  * served artifact does not hold. Those ghost edges are transient, but
  * the retry's delta re-scores the same (node, nbr) pairs, and a plain
  * union + top-K would count the pair TWICE — two slots for one
  * neighbor, a legitimate neighbor evicted, and the artifact permanently
  * diverged from the rebuild. This spec constructs exactly that
  * interleaving (batch → crash-after-candidate-writes → delete + compact
  * → retry) and pins the post-retry artifact row-equal to the one-shot
  * rebuild over the live ids.
  */
class MaintainerCrashSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = graft.ops.Tables(spark, dir, "embeddings")

  private def bag(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted

  /** One-shot lists build over an id predicate at the knn config. */
  private def rebuild(pred: Column): Seq[(Long, Long, Double)] = {
    val e = emb.filter(pred).select(col("vec_id"),
      normalize(toDoubleArray(col("embedding"))).as("v"))
    val banded = SimilarityOps.hnswBanded(e,
      SimilarityOps.KnnBitsPerBand, SimilarityOps.KnnBands)
    bag(KnnReference.hnswTopOut(
      KnnReference.hnswScore(
        KnnReference.hnswCohabit(banded, banded), e), SimilarityOps.K))
  }

  test("compact inside the crash window, then the retry: artifact lands on the rebuild exactly") {
    val m = new BandedTopKMaintainer(SimilarityOps.KnnBitsPerBand,
      SimilarityOps.KnnBands, SimilarityOps.K, "m", "crash-test")
    val store = Files.createTempDirectory("graft-crash").toString
    val fs = new HPath(store)
      .getFileSystem(spark.sessionState.newHadoopConf())

    // batch 0: the base era lands whole
    m.writeBatch(store, "lin")(emb.filter("vec_id % 3 != 2"), 0L)
    assert(bag(m.outAdjacency(spark, store)) ==
      rebuild(pmod(col("vec_id"), lit(3)) =!= 2))

    // batch 1 lands, then CRASHES after the candidate-store writes and
    // before the artifact write — the only partial state the write
    // ordering permits. Simulated by deleting batch 1's out partition;
    // its vecs/banded tags stay, exactly as on a real crash.
    m.writeBatch(store, "lin")(emb.filter("vec_id % 3 = 2"), 1L)
    assert(fs.delete(new HPath(s"$store/out/batch=lin-1"), true))

    // the operator deletes a family and compacts INSIDE the window
    // (the module's docs bless this: candidate stores are complete)
    m.applyDeletes(spark, store,
      emb.filter(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
    m.compact(spark, store)

    // the streaming retry re-runs batch 1 under its original tag
    m.writeBatch(store, "lin")(emb.filter("vec_id % 3 = 2"), 1L)

    val expected = rebuild(pmod(col("vec_id"), lit(10)) =!= 3)
    val got = bag(m.outAdjacency(spark, store))
    // no duplicate (node, nbr) slots, and row-equality with the rebuild
    assert(got.map(t => (t._1, t._2)).distinct.size == got.size,
      "duplicate neighbor slots in the served artifact")
    assert(got == expected,
      "post-retry artifact diverged from the rebuild over live ids")
  }

  test("sparse: a crashed half-written tag is never served, a fresh drain re-ingests it, compact drops the remnant") {
    val docs = graft.ops.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-crash-sparse")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val fs = new HPath(store)
      .getFileSystem(spark.sessionState.newHadoopConf())

    docs.coalesce(1).write.mode("append").parquet(in.toString)
    StreamingSparse.runAvailableNow(spark, docs.schema, in.toString, store,
      root.resolve("ckpt1").toString)
    def served(): Set[(Long, String, Long)] =
      StreamingSparse.postings(spark, store).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val full = served()
    assert(full.nonEmpty)

    // simulate the crash: the drained tag loses its committer marker —
    // on a real crash the partition is half-written; committed-only
    // serving must treat either the same way
    val tagDir = fs.listStatus(new HPath(s"$store/postings")).toSeq
      .filter(_.isDirectory).map(_.getPath).head
    assert(fs.delete(new HPath(tagDir, "_SUCCESS"), false))
    assert(served().isEmpty,
      "uncommitted tag partition leaked into serving")

    // a fresh-lineage drain must NOT see the remnant's docs as seen —
    // it re-ingests everything and serving is whole again (the old
    // readOrEmpty model suppressed these docs forever)
    StreamingSparse.runAvailableNow(spark, docs.schema, in.toString, store,
      root.resolve("ckpt2").toString)
    assert(served() == full,
      "fresh drain failed to re-ingest the crashed tag's docs")

    // compact physically drops the dead remnant (committed-only rewrite)
    StreamingSparse.applyDeletes(spark, store,
      spark.sql("SELECT CAST(-1 AS BIGINT) AS doc_id")) // no live match
    StreamingSparse.compact(spark, store)
    assert(!fs.exists(tagDir), "compact left the uncommitted remnant")
    assert(served() == full, "compact disturbed the served postings")
  }

  test("dsir: a crashed half-written tag is never served, a fresh drain re-ingests it, compact drops the remnant") {
    // the same interleaving as the sparse test, on the OTHER
    // DocKeyedStoreMaintainer instantiation — the kernel consolidation
    // (r15 s3 review) is only safe if every store-discipline property
    // holds for both configs by construction, so both are pinned
    val docs = graft.ops.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val root = Files.createTempDirectory("graft-crash-dsir")
    val in = root.resolve("in"); Files.createDirectories(in)
    val store = root.resolve("store").toString
    val fs = new HPath(store)
      .getFileSystem(spark.sessionState.newHadoopConf())

    docs.coalesce(1).write.mode("append").parquet(in.toString)
    StreamingDsir.runAvailableNow(spark, docs.schema, in.toString, store,
      root.resolve("ckpt1").toString)
    def served(): Set[(Long, String, Long, Long)] =
      StreamingDsir.bags(spark, store).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    val full = served()
    assert(full.nonEmpty)

    val tagDir = fs.listStatus(new HPath(s"$store/bags")).toSeq
      .filter(_.isDirectory).map(_.getPath).head
    assert(fs.delete(new HPath(tagDir, "_SUCCESS"), false))
    assert(served().isEmpty,
      "uncommitted tag partition leaked into serving")

    StreamingDsir.runAvailableNow(spark, docs.schema, in.toString, store,
      root.resolve("ckpt2").toString)
    assert(served() == full,
      "fresh drain failed to re-ingest the crashed tag's docs")

    StreamingDsir.applyDeletes(spark, store,
      spark.sql("SELECT CAST(-1 AS BIGINT) AS doc_id")) // no live match
    StreamingDsir.compact(spark, store)
    assert(!fs.exists(tagDir), "compact left the uncommitted remnant")
    assert(served() == full, "compact disturbed the served bags")
  }
}
