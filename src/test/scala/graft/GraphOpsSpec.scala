package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the co-purchase graph operators, plus a brute-force
  * triangle cross-check at sf0.001 (the DuckDB oracle at sf0.01 is the
  * primary gate; this pins the degree-ordered orientation against the
  * definitional enumeration inside one engine too).
  */
class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("triangle_count matches the definitional u<v<w enumeration") {
    import org.apache.spark.sql.functions._
    val row = graft.ops.GraphOps.triangleCount(spark, dir).collect().head
    val (nNodes, nEdges, nWedges, nTri) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    // definitional count: canonical edges e1=(a,b), e2=(b,c), e3=(a,c)
    val li = graft.ops.Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val a = li.as("a"); val b = li.as("b")
    val edges = a.join(b, col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct().cache()
    try {
      val e1 = edges.as("e1"); val e2 = edges.as("e2"); val e3 = edges.as("e3")
      val brute = e1
        .join(e2, col("e2.u") === col("e1.v"))
        .join(e3, col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
        .count()
      assert(nTri == brute, s"oriented $nTri vs brute-force $brute")
      assert(nEdges == edges.count())
    } finally edges.unpersist()
    // structural sanity: every triangle closes 3 wedges
    assert(3 * nTri <= nWedges)
    assert(nNodes > 0 && row.getDouble(4) >= 0.0 && row.getDouble(4) <= 1.0)
  }

  test("label_propagation: dominant community only grows with rounds") {
    val r1 = graft.ops.GraphOps.labelPropagation(spark, dir, rounds = 1)
      .collect()
    val r2 = graft.ops.GraphOps.labelPropagation(spark, dir, rounds = 2)
      .collect()
    assert(r1.nonEmpty && r2.nonEmpty)
    // output sorted by size desc, label asc
    Seq(r1, r2).foreach { rows =>
      val sizes = rows.map(_.getLong(1)).toSeq
      assert(sizes == sizes.sorted.reverse)
    }
    // propagation concentrates mass: the biggest community after 2 rounds
    // is at least as large as after 1 (mode adoption never fragments the
    // dominant label on this near-clique co-purchase graph)
    assert(r2.head.getLong(1) >= r1.head.getLong(1))
  }

  test("corpus_reservoir: at most k rows per stratum, deterministic") {
    val rows = graft.ops.CurationOps.corpusReservoir(spark, dir).collect()
    val bySource = rows.groupBy(_.getString(0))
    bySource.foreach { case (src, rs) =>
      assert(rs.length <= 20, src)
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length).toSeq)
    }
    val again = graft.ops.CurationOps.corpusReservoir(spark, dir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("kcore_2step: peeling only shrinks the graph, k is the mean degree") {
    val r = graft.ops.GraphOps.kcore2Step(spark, dir).collect().head
    val (n0, e0, k) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (n2, e2, minDeg) = (r.getLong(3), r.getLong(4), r.getLong(5))
    assert(n0 > 0 && e0 > 0)
    assert(k == math.ceil(2.0 * e0 / n0).toLong)
    assert(n2 <= n0 && e2 <= e0)
    // peeling never produces degree-0 nodes (nodes exist only via edges)
    if (n2 > 0) assert(minDeg >= 1)
    // one more round can only shrink further (monotone peel)
    val r3 = graft.ops.GraphOps.kcorePeel(spark, dir, rounds = 3)
      .collect().head
    assert(r3.getLong(3) <= n2 && r3.getLong(4) <= e2)
  }

  test("equidepth_histogram: complete, near-balanced, ordered buckets") {
    val rows = graft.ops.AnalyticsOps.equidepthHistogram(spark, dir).collect()
    val total = graft.ops.Tables(spark, dir, "orders").count()
    assert(rows.map(_.getLong(1)).sum == total)
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    // exact-percentile cuts keep every decile within a tie's width of n/10
    rows.foreach { r =>
      assert(math.abs(r.getLong(1) - total / 10.0) <= total * 0.05,
        s"bucket ${r.getInt(0)} has ${r.getLong(1)} of $total")
    }
    // bucket value ranges are disjoint and increasing
    rows.sliding(2).filter(_.length == 2).foreach { w =>
      assert(w(0).getDouble(3) <= w(1).getDouble(2),
        s"bucket ${w(0).getInt(0)} hi > bucket ${w(1).getInt(0)} lo")
    }
  }

  test("degree_distribution masses sum to the node and edge totals") {
    val rows = graft.ops.GraphOps.degreeDistribution(spark, dir).collect()
    assert(rows.nonEmpty)
    val tri = graft.ops.GraphOps.triangleCount(spark, dir).collect().head
    // Σ n_nodes over buckets = n_nodes; Σ degree·n_nodes = 2·|E|
    assert(rows.map(_.getLong(1)).sum == tri.getLong(0))
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == 2 * tri.getLong(1))
    // degrees strictly increasing (grouped + ordered)
    val degs = rows.map(_.getLong(0)).toSeq
    assert(degs == degs.sorted && degs.distinct == degs)
  }

  test("bfs_2step: levels are disjoint, cumulative, and frontier-consistent") {
    val two = graft.ops.GraphOps.bfsFrom(spark, dir, rounds = 2).collect()
    val dists = two.map(_.getInt(0)).toSeq
    assert(dists == dists.sorted && dists.head == 0, s"levels: $dists")
    two.foreach(r => assert(r.getLong(1) > 0, s"empty level ${r.getInt(0)}"))
    // one fewer round = identical shared levels (BFS levels are stable)
    val one = graft.ops.GraphOps.bfsFrom(spark, dir, rounds = 1).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    two.filter(_.getInt(0) <= 1).foreach { r =>
      assert(one(r.getInt(0)) == ((r.getLong(1), r.getLong(2), r.getLong(3))),
        s"level ${r.getInt(0)} changed between rounds=1 and rounds=2")
    }
  }

  test("sssp_2step: sources at 0, distances ordered, and ≤ the BFS hop bound") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.GraphOps.sssp2Step(spark, dir).collect()
    assert(rows.length == 20)
    val dists = rows.map(_.getDouble(1))
    dists.sliding(2).foreach { case Array(a, b) => assert(a <= b) }
    // the source basket all sits at distance 0 and heads the ranking
    val li = graft.ops.Tables(spark, dir, "lineitem")
    val srcParts = li.filter(col("l_orderkey") ===
        li.agg(min(col("l_orderkey"))).collect().head.getLong(0))
      .select("l_partkey").distinct().collect().map(_.getLong(0)).toSet
    val zeros = rows.filter(_.getDouble(1) == 0.0).map(_.getLong(0)).toSet
    assert(zeros.nonEmpty && zeros.subsetOf(srcParts),
      s"zero-distance nodes $zeros must be source parts")
    // every finite 2-round distance is ≤ 2 (each hop weight ≤ 1)
    dists.foreach(d => assert(d >= 0.0 && d <= 2.0 + 1e-9))
  }

  test("hits_bipartite: top-20 authorities match the definitional 2-step sums") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.GraphOps.hitsBipartite(spark, dir).collect()
    assert(rows.length == 20)
    // descending by raw score, partkey tie-break, normalized scores in (0,1]
    rows.sliding(2).foreach { case Array(a, b) =>
      val (ra, rb) = (a.getLong(1), b.getLong(1))
      assert(ra > rb || (ra == rb && a.getLong(0) < b.getLong(0)))
    }
    rows.foreach(r => assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0))
    // definitional cross-check inside one engine: a2(p) for the winner
    // equals Σ_{c∈N(p)} Σ_{p'∈N(c)} indeg(p') computed the naive way
    val ord = graft.ops.Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = graft.ops.Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val e = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct().cache()
    try {
      val top = rows.head.getLong(0)
      val e1 = e.as("e1"); val e2 = e.as("e2"); val e3 = e.as("e3")
      // paths p ← c ← p' : count (c,p') pairs reachable = Σ indeg via path enum
      val brute = e1.filter(col("e1.p") === top)
        .join(e2, col("e2.c") === col("e1.c"))
        .join(e3, col("e3.p") === col("e2.p"))
        .count()
      assert(rows.head.getLong(1) == brute,
        s"a2(top) ${rows.head.getLong(1)} vs path enumeration $brute")
    } finally e.unpersist()
  }

  test("degree_assortativity: Pearson bounds hold and a driver-side " +
    "recount matches") {
    val dir = "/root/testdata/sf0.001"
    val row = graft.ops.GraphOps.degreeAssortativity(spark, dir)
      .collect().head
    val (nEnds, meanDeg, r) =
      (row.getLong(0), row.getDouble(1), row.getDouble(2))
    assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9)
    val edges = graft.ops.GraphEdges.canonical(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(nEnds == 2L * edges.length)
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toDouble).toMap
    val xs = edges.flatMap { case (u, v) =>
      Seq((deg(u), deg(v)), (deg(v), deg(u))) }
    val n = xs.length
    val (mx, my) = (xs.map(_._1).sum / n, xs.map(_._2).sum / n)
    val cov = xs.map { case (a, b) => (a - mx) * (b - my) }.sum / (n - 1)
    val sx = math.sqrt(xs.map(a => math.pow(a._1 - mx, 2)).sum / (n - 1))
    val sy = math.sqrt(xs.map(a => math.pow(a._2 - my, 2)).sum / (n - 1))
    val expect = cov / (sx * sy)
    assert(math.abs(r - expect) < 1e-3, s"assortativity $r vs $expect")
    assert(math.abs(meanDeg - mx) < 1e-3)
  }

  test("random_walks: complete walks, every step a real edge, hub starts, md5-replayable") {
    val rows = graft.ops.GraphOps.randomWalks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byWalk = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byWalk.size == 10, s"expected 10 walks, got ${byWalk.size}")
    assert(byWalk.values.forall(_.length == 4),
      "every walk must emit steps 0..3 (no dead-ends on this graph)")
    // starts are the degree-desc/min-id top-10 hubs, and walk_id = start
    val edges = graft.ops.GraphEdges.canonical(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val und = (edges ++ edges.map(_.swap)).toSet
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length).toMap
    val hubs = deg.toSeq.sortBy { case (n, d) => (-d, n) }.take(10)
      .map(_._1).toSet
    assert(byWalk.keySet == hubs, "walk starts are not the top-10 hubs")
    byWalk.foreach { case (w, path) =>
      assert(path.head == w, s"walk $w does not start at its id")
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(und.contains((a, b)), s"walk $w took a non-edge $a->$b")
      }
    }
    // replay one step driver-side: the md5-mod rule is the contract
    val w0 = byWalk.keys.min
    val nbrs = und.filter(_._1 == w0).map(_._2).toSeq.sorted
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"walk_${w0}_1_$w0".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val sel = (java.lang.Long.parseLong(h.take(15), 16) % nbrs.length).toInt
    assert(byWalk(w0)(1) == nbrs(sel),
      s"step 1 of walk $w0: emitted ${byWalk(w0)(1)}, replay ${nbrs(sel)}")
  }
}
