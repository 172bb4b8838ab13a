package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ClusterOps, DedupOps}

/** Connected-components correctness: synthetic graphs with known components
  * (including a long chain, the worst case for plain min-propagation), and
  * the dedup_clusters query against a driver-side union-find ground truth.
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
}
