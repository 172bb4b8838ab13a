package graft

import scala.util.Random
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ClusterOps, DedupOps}

/** Connected-components correctness: synthetic graphs with known components
  * (including a long chain, the worst case for plain min-propagation),
  * seeded random graphs under several partitionings, the local contraction
  * pass on its own, and the dedup_clusters query against a driver-side
  * union-find ground truth.
  */
class ClusterOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ClusterOps.connectedComponents(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, clique, and isolated pair resolve to component minima") {
    // chain 10..18 (diameter 8 — needs pointer jumping to converge in few
    // rounds), clique 1-2-3, pair (100, 7); duplicate and reversed edge
    // listings must not perturb anything
    val chain = (10L until 18L).map(i => (i, i + 1))
    val got = components(chain ++ Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (100L, 7L), (2L, 1L), (1L, 2L)))
    (10L to 18L).foreach(i => assert(got(i) == 10L, s"chain node $i"))
    Seq(1L, 2L, 3L).foreach(i => assert(got(i) == 1L))
    assert(got(100L) == 7L && got(7L) == 7L)
    assert(got.size == 14) // only nodes that appear in edges
  }

  test("empty edge set yields an empty, converged result") {
    assert(components(Seq.empty).isEmpty)
  }

  test("compress precondition: hook labels satisfy rep <= id, and compress resolves them to the pointer-chase roots") {
    // a long reversed chain (deep hook trees), a star, a clique and a
    // pair: the shapes whose hook forests compress needs several rounds on
    val edges = (0L until 40L).map(i => (i + 1, i)) ++
      (201L to 210L).map(i => (200L, i)) ++
      Seq((300L, 301L), (301L, 302L), (300L, 302L), (500L, 400L))
    val e = edges.toDF("src", "dst")
    val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
    val hook = ClusterOps.hook(sym).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val violations = hook.filter { case (id, rep) => rep > id }
    assert(violations.isEmpty, s"hook labels with rep > id: $violations")
    def root(x: Long): Long = { val r = hook(x); if (r == x) x else root(r) }
    val compressed = ClusterOps.compress(ClusterOps.hook(sym), 25).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compressed == hook.keys.map(x => x -> root(x)).toMap)
  }

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def checkAgainstUnionFind(
      got: Array[(Long, Long, Boolean)], edges: Seq[(Long, Long)]): Unit = {
    val expected = unionFind(edges)
    assert(got.map(t => t._1 -> t._2).toMap == expected)
    got.foreach { case (id, rep, keep) => assert(keep == (id == rep)) }
    // exactly one kept representative per cluster
    assert(got.filter(_._3).map(_._1).toSet == expected.values.toSet)
  }

  test("dedup_clusters matches driver-side union-find over the same edges") {
    val edges = DedupOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "no near-dup edges at sf0.001")
    val got = ClusterOps.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    checkAgainstUnionFind(got, edges.toSeq)
  }

  test("dedup_clusters_lsh matches union-find over the banded-LSH edges") {
    val edges = DedupOps.dedupMinhashShingle(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "no LSH near-dup edges at sf0.001")
    val got = ClusterOps.dedupClustersLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    checkAgainstUnionFind(got, edges.toSeq)
  }

  test("semdedup_knn matches union-find over the thresholded kNN edges") {
    import org.apache.spark.sql.functions.col
    val edges = graft.ops.SimilarityOps.knnJoin(spark, dir)
      .filter(col("cos") >= 0.35)
      .select(col("vec_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "no kNN edges at cos >= 0.35 at sf0.001")
    val got = graft.ops.SimilarityOps.semdedupKnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    checkAgainstUnionFind(got, edges.toSeq)
  }

  test("delete_propagation: deleting a bridge splits the cluster; isolated survivors keep themselves") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    // path 1–16–20 (16 % 13 = 3 → the deleted BRIDGE): survivors 1 and 20
    // split into two singleton clusters, 20 is promoted. Pair 30–31 is
    // untouched. Pair 29–43 loses its keeper 29 (29 % 13 = 3), leaving 43
    // an isolated survivor → its own promoted keeper.
    val edges = Seq((1L, 16L), (16L, 20L), (30L, 31L), (29L, 43L))
      .toDF("doc_a", "doc_b")
    val got = ClusterOps.deletePropagationOver(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toList
    assert(got == List(
      (1L, 1L, false, 1L, false),    // kept its keeper role
      (16L, 1L, true, -1L, false),   // the deleted bridge
      (20L, 1L, false, 20L, true),   // split off → promoted keeper
      (29L, 29L, true, -1L, false),  // deleted old keeper
      (30L, 30L, false, 30L, false),
      (31L, 30L, false, 30L, false), // cluster untouched
      (43L, 29L, false, 43L, true)), // isolated survivor → promoted
      got.toString)
  }

  test("incremental_labels: star-contracted maintenance ≡ the full rebuild, row for row") {
    // the oracle already pins maintained == rebuild against DuckDB; this
    // pins it INSIDE Spark too (both forms on the same engine, same run)
    val maintained = graft.ops.ClusterOps.incrementalLabels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val rebuild = graft.ops.ClusterOps.dedupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(maintained == rebuild,
      s"maintained ≠ rebuild: missing ${(rebuild -- maintained).take(3)}, " +
        s"extra ${(maintained -- rebuild).take(3)}")
    assert(maintained.nonEmpty)
    // and the delta actually contributes: some cluster contains a delta
    // doc (doc_id % 10 == 9) — otherwise the star ∪ delta closure never
    // exercised a merge at this SF and the test is vacuous
    assert(maintained.exists(_._1 % 10 == 9),
      "no delta doc in any cluster — maintenance test is vacuous")
  }

  // seeded graph shapes for the local-contraction cases: ids are drawn
  // from a sparse range and shuffled, so no shape hands the pass its
  // minimum first
  private def randomIds(rnd: Random, n: Int): IndexedSeq[Long] =
    rnd.shuffle((0 until n * 5).map(_.toLong)).take(n).toIndexedSeq

  private def graphShapes(seed: Long): Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new Random(seed)
    val sparse = {
      val ids = randomIds(rnd, 300)
      val base = Seq.fill(350)((ids(rnd.nextInt(300)), ids(rnd.nextInt(300))))
      base ++ base.take(40) ++ base.slice(40, 80).map(_.swap) ++
        ids.take(25).map(i => (i, i))
    }
    val chain = {
      val ids = randomIds(rnd, 400)
      rnd.shuffle(ids.sliding(2).map(p => (p(0), p(1))).toSeq)
    }
    val cliques = {
      val ids = randomIds(rnd, 120)
      val groups = ids.grouped(15).toSeq
      val inside = groups.flatMap(g =>
        for (a <- g; b <- g if a < b) yield if (rnd.nextBoolean()) (a, b) else (b, a))
      // one bridge joins the first two cliques
      rnd.shuffle(inside :+ ((groups(0).last, groups(1).head)))
    }
    val singletons = randomIds(rnd, 60).map(i => (i, i))
    Seq("sparse with duplicate, reversed and self edges" -> sparse,
      "long chain" -> chain, "cliques" -> cliques,
      "all singletons" -> singletons, "empty" -> Seq.empty)
  }

  /** `body` under session confs `kv`, restored afterwards. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // AQE coalesces a tiny exchange into one partition, where the second
  // local pass alone finishes every component; these confs keep the
  // node-keyed exchange spread, so the levels have work left to do
  private val spread = Seq(
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "7")

  test("local contraction + levels ≡ driver-side union-find on seeded random graphs, any partitioning") {
    for ((shape, edges) <- graphShapes(seed = 7L); parts <- Seq(1, 3, 7);
         confs <- Seq(Nil, spread)) {
      val got = withConf(confs: _*)(ClusterOps.connectedComponents(
          edges.toDF("a", "b").repartition(parts)).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(edges), s"$shape over $parts partitions, $confs")
    }
  }

  test("a node whose local reps land in different partitions is merged by the levels") {
    // per gadget, edges (7,5), (7,3) and (5,2) each in their own input
    // partition: the second pass sees {7,5,3} where 7 hashes and {5,2}
    // where 5 hashes, so 3 reaches 2 only through the edge 5→3 read
    // backwards — the levels need the star forest in both directions
    val gadgets = (0 until 20).map(_ * 100L)
    val edges = Seq((7L, 5L), (7L, 3L), (5L, 2L))
      .flatMap { case (a, b) => gadgets.map(o => (a + o, b + o)) }
    val got = withConf(spread: _*)(ClusterOps.connectedComponents(
        spark.sparkContext.parallelize(edges, 3).toDF("a", "b")).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
  }

  test("null endpoints go around the local pass: the labels the level loop always gave them") {
    // 2, 5, 3, 8 and 20 each touch a null endpoint; 20 reaches 4 only
    // through a chain, and the null row takes the component minimum of
    // its smallest neighbor. The expected rows are the output of the
    // level loop alone over the same edges (before the local pass)
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)),
      (Some(3L), None), (None, None), (Some(7L), Some(8L)), (Some(8L), None),
      (Some(5L), Some(6L)), (Some(20L), Some(19L)), (Some(19L), Some(18L)),
      (Some(18L), Some(4L)), (None, Some(20L)))
    for (parts <- Seq(1, 3)) {
      val got = ClusterOps.connectedComponents(
          edges.toDF("a", "b").repartition(parts)).collect()
        .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getLong(1))
        .toMap
      assert(got == Map[Option[Long], Long](None -> 1L, Some(1L) -> 1L,
        Some(2L) -> 1L, Some(3L) -> 3L, Some(4L) -> 4L, Some(5L) -> 5L,
        Some(6L) -> 5L, Some(7L) -> 7L, Some(8L) -> 7L, Some(18L) -> 4L,
        Some(19L) -> 4L, Some(20L) -> 4L), s"over $parts partitions")
    }
  }

  test("the output keeps the input's id type") {
    val ints = Seq((3, 1), (1, 2), (9, 9)).toDF("a", "b")
    val out = ClusterOps.connectedComponents(ints)
    // the schema the level loop alone gave this input
    import org.apache.spark.sql.types._
    assert(out.schema == StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("rep", IntegerType, nullable = false))))
    assert(out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 9 -> 9))
  }

  test("a caller's sort is dropped, but not one under a limit: it picks the edges") {
    val edges = Seq((9L, 8L), (1L, 2L), (7L, 6L), (3L, 4L), (5L, 4L))
    val df = edges.toDF("a", "b")
    def cc(d: DataFrame) = ClusterOps.connectedComponents(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sorted = df.orderBy("a").filter($"b" > 0)
    assert(cc(sorted) == unionFind(edges))
    // the dropped sort costs no sampling job and no range exchange
    assert(jobsRunBy(ClusterOps.connectedComponents(sorted)) ==
      jobsRunBy(ClusterOps.connectedComponents(df)))
    assert(cc(df.orderBy("a").limit(3)) == unionFind(edges.sortBy(_._1).take(3)))
  }

  test("localContract alone: every node once per partition, rep <= id, local minima") {
    val (_, edges) = graphShapes(seed = 11L).head
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    // one partition: the local components ARE the components
    val one = ClusterOps.localContract(edges.toDF("a", "b").repartition(1))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(one.length == nodes.size && one.map(_._1).toSet == nodes)
    assert(one.toMap == unionFind(edges))
    // seven partitions: each node once in every partition it was seen in
    import org.apache.spark.sql.functions.spark_partition_id
    val seven = ClusterOps.localContract(edges.toDF("a", "b").repartition(7))
      .withColumn("p", spark_partition_id()).collect()
      .map(r => (r.getInt(2), r.getLong(0), r.getLong(1)))
    assert(seven.groupBy(t => (t._1, t._2)).values.forall(_.length == 1))
    assert(seven.map(_._2).toSet == nodes)
    assert(seven.forall(t => t._3 <= t._2), "a rep above its id")
    // the star keeps connectivity exactly
    assert(unionFind(seven.map(t => (t._2, t._3)).toSeq) == unionFind(edges))
  }

  test("chunk flush: a tiny cap emits partial stars that keep connectivity") {
    val (_, edges) = graphShapes(seed = 13L)(2) // the cliques
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    for (cap <- Seq(2, 5, 64)) {
      val out = ClusterOps.contractPartition(edges.iterator, cap).toSeq
      assert(out.map(_._1).toSet == nodes, s"cap $cap lost a node")
      assert(out.forall { case (id, rep) => rep <= id }, s"cap $cap")
      assert(out.length > nodes.size, s"cap $cap never flushed")
      assert(unionFind(out) == unionFind(edges), s"cap $cap")
      // the levels finish what the chunks left
      val cc = ClusterOps.connectedComponents(out.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc == unionFind(edges), s"cap $cap through the levels")
    }
    // cap 2 holds exactly one edge per chunk
    val pairs = Seq((5L, 3L), (3L, 9L), (4L, 4L))
    assert(ClusterOps.contractPartition(pairs.iterator, 2).toSeq.sorted ==
      Seq((3L, 3L), (3L, 3L), (4L, 4L), (5L, 3L), (9L, 3L)))
    intercept[IllegalArgumentException](
      ClusterOps.contractPartition(pairs.iterator, 1))
  }

  /** Spark jobs `body` runs, counted by a listener on a job-local property
    * (the tagging perfbench's tracer uses), so jobs of other threads do
    * not count. A marker job run after `body` is seen by the listener only
    * once every earlier job start was: the bus delivers in order.
    */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(tag => seen.merge(tag, 1, (a, b) => a + b))
    }
    val prev = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      sc.setLocalProperty(key, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.containsKey("marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.containsKey("marker"), "listener bus never delivered")
      seen.getOrDefault("body", 0)
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }

  test("job budget: connectedComponents' construction on a chain plus cliques") {
    // a 200-node chain (diameter 199) and five 12-node cliques, over four
    // partitions. The level loop alone ran 34 jobs on this graph; the
    // budget is the count measured with the local pass in front of it
    val chain = (0L until 199L).map(i => (i, i + 1))
    val cliques = (0 until 5).flatMap { c =>
      val g = (1000L + 20 * c) until (1012L + 20 * c)
      for (a <- g; b <- g if a < b) yield (b, a)
    }
    val edges = (chain ++ cliques).toDF("a", "b").repartition(4)
    var labels: DataFrame = null
    val jobs = jobsRunBy { labels = ClusterOps.connectedComponents(edges) }
    val budget = 11
    assert(jobs <= budget, s"$jobs construction jobs (budget $budget)")
    assert(labels.count() == 260)
  }
}
