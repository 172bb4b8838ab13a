package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ClusterOps, DedupEdges, GraphEdges, HnswIndex, KnnLists,
  SessionSeam, SparseIndex}

/** The one lifecycle every session seam shares, checked over all five
  * holders: each served artifact equals its `build*` reference row for
  * row; the first read writes exactly one temp root, also when two reads
  * race; `seed` is idempotent; `clear()` reclaims the disk; a first read
  * whose build throws leaves no temp root behind, and the next read
  * builds again. Consumer queries are not compared here: they read only
  * the served path, which the DuckDB oracle gate checks.
  */
class SessionSeamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private type Read = (SparkSession, String) => DataFrame

  /** A holder: its temp-dir prefix, explicit seed, teardown, and each
    * served read with the build it must equal.
    */
  private case class Seam(name: String, prefix: String,
      seed: (SparkSession, String) => Unit, clear: () => Unit,
      artifacts: Seq[(Read, Read)])

  private val seams = Seq(
    Seam("knn_lists", "graft_knn_", KnnLists.seed, () => KnnLists.clear(),
      Seq((KnnLists.lists _, KnnLists.build _))),
    Seam("hnsw_index", "graft_hnsw_", HnswIndex.seed, () => HnswIndex.clear(),
      Seq((HnswIndex.adjacency _, HnswIndex.build _))),
    Seam("sparse_index", "graft_sparsetf_", SparseIndex.seed,
      () => SparseIndex.clear(),
      Seq((SparseIndex.shingleTf _, SparseIndex.build _))),
    Seam("graph_edges", "graft_copurchase_", GraphEdges.seed,
      () => GraphEdges.clear(),
      Seq((GraphEdges.canonicalWeighted _, GraphEdges.build _),
        (GraphEdges.brandBaskets _, GraphEdges.buildBrandBaskets _))),
    Seam("dedup_edges", "graft_neardup_", DedupEdges.seed,
      () => DedupEdges.clear(),
      Seq((DedupEdges.pairs _, DedupEdges.build _),
        (DedupEdges.shinglePairs _, DedupEdges.buildShingle _),
        (DedupEdges.clusterLabels _, (s: SparkSession, d: String) =>
          ClusterOps.clustersOver(
            DedupEdges.build(s, d).select("doc_a", "doc_b"))))))

  /** Rows as a sorted multiset (the HNSW adjacency carries both
    * orientations of a mutual pair; parquet keeps no row order).
    */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tmpDirs(prefix: String): Set[Path] = {
    val stream = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try {
      val it = stream.iterator()
      var acc = Set.empty[Path]
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.startsWith(prefix)) acc += p
      }
      acc
    } finally stream.close()
  }

  private def deleteTree(root: Path): Unit = {
    val stream = Files.walk(root)
    try {
      val it = stream.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator()
      while (it.hasNext) Files.deleteIfExists(it.next())
    } finally stream.close()
  }

  /** Runs `body` on two threads released together; rethrows a failure. */
  private def race(body: () => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(2)
    try {
      val go = new CountDownLatch(1)
      val runs = (1 to 2).map(_ => pool.submit(new Runnable {
        def run(): Unit = { go.await(); body() }
      }))
      go.countDown()
      runs.foreach(_.get(10, TimeUnit.MINUTES))
    } finally pool.shutdown()
  }

  seams.foreach { seam =>
    test(s"${seam.name}: served rows equal the build; one seed on first use; clear") {
      seam.clear()
      try {
        val pre = tmpDirs(seam.prefix)
        val (firstRead, _) = seam.artifacts.head
        race(() => firstRead(spark, dir))
        val created = tmpDirs(seam.prefix) -- pre
        assert(created.size == 1,
          s"two racing first reads made ${created.size} temp roots")
        seam.seed(spark, dir)
        seam.seed(spark, dir)
        assert(tmpDirs(seam.prefix) -- pre == created,
          "an explicit seed after a read materialized again")
        seam.artifacts.foreach { case (served, build) =>
          val got = rows(served(spark, dir))
          assert(got.nonEmpty, "empty artifact — the comparison is vacuous")
          assert(got == rows(build(spark, dir)),
            "a served artifact diverges from its build")
        }
        seam.clear()
        created.foreach(p =>
          assert(!Files.exists(p), s"clear() left materialization on disk: $p"))
      } finally seam.clear()
    }

    test(s"${seam.name}: a first read that throws leaves no temp root; the next builds") {
      val fixture = Files.createTempDirectory("graft_seamspec_fixture_")
      try {
        val pre = tmpDirs(seam.prefix)
        val (read, _) = seam.artifacts.head
        // no tables under the dir yet: the build fails on its first scan
        intercept[Exception](rows(read(spark, fixture.toString)))
        assert(tmpDirs(seam.prefix) == pre, "a failed build left its temp root")
        val files = Files.list(Paths.get(dir))
        try files.forEach(f => Files.copy(f, fixture.resolve(f.getFileName)))
        finally files.close()
        val served = rows(read(spark, fixture.toString))
        assert((tmpDirs(seam.prefix) -- pre).size == 1,
          "the read after a failed build did not materialize once")
        assert(served.nonEmpty && served == rows(read(spark, dir)),
          "the read after a failed build does not serve the built artifact")
      } finally {
        seam.clear()
        deleteTree(fixture)
      }
    }
  }

  test("SessionSeam: a failed write is retried; a racing first use writes once") {
    val prefix = "graft_seamtest_"
    val seam = new SessionSeam(prefix)
    try {
      val pre = tmpDirs(prefix)
      val writes = new AtomicInteger()
      intercept[IllegalStateException](seam.seed("a") { _ =>
        writes.incrementAndGet(); throw new IllegalStateException("boom") })
      assert(tmpDirs(prefix) == pre, "a failed write left its temp root")
      val root = seam.seed("a") { out =>
        writes.incrementAndGet()
        Files.writeString(Paths.get(out, "artifact"), "x")
      }
      assert(writes.get == 2 && Files.exists(Paths.get(root, "artifact")))
      assert(seam.seed("a")(_ => writes.incrementAndGet()) == root)
      assert(writes.get == 2, "a second use of a seeded dir wrote again")

      val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      race { () =>
        roots.add(seam.seed("b") { _ =>
          writes.incrementAndGet(); Thread.sleep(200) })
      }
      assert(writes.get == 3 && roots.size == 1,
        "two racing first uses wrote twice")
    } finally seam.clear()
  }

  test("SessionSeam: a seed body that reads its own dir fails, not hangs") {
    val prefix = "graft_seamtest_"
    val seam = new SessionSeam(prefix)
    try {
      val pre = tmpDirs(prefix)
      intercept[IllegalStateException](
        seam.seed("a")(_ => seam.seed("a")(_ => ())))
      assert(tmpDirs(prefix) == pre, "the failed seed left its temp root")
    } finally seam.clear()
  }
}
