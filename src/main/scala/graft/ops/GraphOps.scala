package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the part co-purchase graph (parts sharing an order
  * are neighbors — the same graph [[AnalyticsOps.pagerankStep]] walks).
  * The edge build is linear in lineitem (fanout bounded by items-per-order,
  * reference: the basket shape of `InvoiceFileSearchFromSQL.ps1:66-81`'s
  * key-set semantics scaled up), canonicalized to u < v so each undirected
  * edge is stored once.
  */
object GraphOps {

  /** Distinct canonical (u < v) co-purchase edges — via the session
    * materialization seam ([[GraphEdges]]), built once per session.
    */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    GraphEdges.canonical(s, dir)

  /** Undirected degree per node from canonical edges. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Exact triangle count + global clustering coefficient via
    * DEGREE-ORDERED ORIENTATION plus adjacency-set intersection (the
    * "compact-forward" algorithm — Latapy TCS'08; Suri & Vassilvitskii
    * WWW'11 for the MapReduce orientation argument): each undirected edge
    * is directed from its lower-(degree, key) endpoint to the higher, so
    * out-degrees are ~√m-bounded, and T = Σ over oriented edges (x,y) of
    * |N⁺(x) ∩ N⁺(y)| — each triangle counted once, at the edge between
    * its two lowest-ranked vertices. The intersections ride the
    * codegen'd [[graft.functions.expressions.ArrayIntersectSize]]
    * (allocation-free) over out-neighbor lists built in ONE keyed
    * aggregate, so nothing ever materializes the Σ outdeg² wedge set the
    * naive wedge-join shape shuffles (measured 2.3× on sf0.1: 13.3 s →
    * 5.7 s warm — the residual is the shared co-purchase edge build, the
    * same ~4 s [[degreeDistribution]] pays). The out-neighbor attach
    * joins are edge-linear; AQE
    * broadcasts the adjacency side while it fits and shuffles it when it
    * doesn't. The oracle is the definitional cubic u<v<w 3-way
    * self-join — orientation + intersection change the plan, never the
    * count.
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    // the edge list and degree table each feed 3-4 downstream subtrees;
    // the edges are the seam's parquet and the degrees localCheckpoint
    // once, so no branch leans on runtime exchange reuse across five
    // re-planned copies (31 plan-time exchanges → 6, and the stats/
    // adjacency branches read materialized data) — the ClusterOps lineage
    // discipline applied to a DAG query
    val edges = GraphEdges.canonical(s, dir)
    val deg = degrees(edges).localCheckpoint()
    val withDegs = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    // orient from lower (deg, key) to higher
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDegs.select(
      when(lowFirst, col("u")).otherwise(col("v")).as("x"),
      when(lowFirst, col("v")).otherwise(col("u")).as("y"))
    val adj = oriented.groupBy(col("x")).agg(collect_list(col("y")).as("nbrs"))
    val triangles = oriented
      .join(adj.select(col("x"), col("nbrs").as("nx")), "x")
      // heads with no out-edges would intersect to 0 — inner join drops them
      .join(adj.select(col("x").as("y"), col("nbrs").as("ny")), "y")
      .select(graft.functions.ArrayFunctions
        .intersectSize(col("nx"), col("ny")).as("c"))
      .agg(sum(col("c")).cast("long").as("n_triangles"))
    val stats = edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))))
    stats.crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering"))
  }

  val triangleCountOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      |  GROUP BY node),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM edges e1
      |  JOIN edges e2 ON e2.u = e1.v
      |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
      |st AS (
      |  SELECT (SELECT count(*) FROM deg) AS n_nodes,
      |         (SELECT count(*) FROM edges) AS n_edges,
      |         (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) FROM deg)
      |           AS n_wedges)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |       round(3.0 * n_triangles / n_wedges, 6) AS clustering
      |FROM st, tri""".stripMargin

  /** Degree distribution of the co-purchase graph: how many nodes have
    * each degree — the first diagnostic run on any production graph
    * (skew detection: a heavy-tailed distribution is what makes the
    * un-oriented triangle join explode). Two keyed aggregates, both with
    * map-side partials.
    */
  def degreeDistribution(s: SparkSession, dir: String): DataFrame =
    degrees(coPurchaseEdges(s, dir))
      .groupBy(col("deg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  val degreeDistributionOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      |  GROUP BY node)
      |SELECT deg AS degree, count(*) AS n_nodes
      |FROM deg GROUP BY deg ORDER BY degree""".stripMargin

  /** Two synchronized rounds of Label Propagation (Raghavan et al.,
    * Phys. Rev. E '07) for community detection: labels start as node ids;
    * each round every node adopts its neighbors' MODE label
    * (count desc, label asc tie-break — fully deterministic, so the
    * DuckDB 2-round CTE unroll is an exact oracle). Per round: one
    * edge-keyed shuffle for the (node, label) counts and a
    * `max_by(struct)` argmax per node — the mode aggregation that makes
    * LPA a different operator from PageRank's weighted sum or Borůvka's
    * min propagation. Node-sized label vector localCheckpointed per
    * round ([[ClusterOps]] discipline); isolated parts keep their own
    * label via the left join. Output: the 20 largest communities.
    */
  def labelPropagation(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val edges = GraphEdges.canonical(s, dir)
    val sym = edges.unionAll(
      edges.select(col("v").as("u"), col("u").as("v")))
    val parts = Tables(s, dir, "part").select(col("p_partkey").as("node"))
    var labels = parts.select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val nbr = sym
        .join(labels.select(col("node").as("v"), col("label")), "v")
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val best = nbr.groupBy(col("u"))
        .agg(max_by(col("label"), struct(col("cnt"), -col("label")))
          .as("new_label"))
      labels = parts
        .join(best, col("node") === col("u"), "left")
        .select(col("node"), coalesce(col("new_label"), col("node")).as("label"))
        .localCheckpoint()
    }
    labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("label"))
      .limit(20)
  }

  def labelPropagation2Step(s: SparkSession, dir: String): DataFrame =
    labelPropagation(s, dir, rounds = 2)

  /** N=2 unrolled; the argmax is a row_number window (count desc, label
    * asc) — semantically identical to the engine's max_by tie-break.
    */
  val labelPropagation2StepOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
      |l0 AS (SELECT p_partkey AS node, p_partkey AS label FROM part),
      |c1 AS (
      |  SELECT s.u, l.label, count(*) AS cnt
      |  FROM sym s JOIN l0 l ON l.node = s.v
      |  GROUP BY s.u, l.label),
      |b1 AS (
      |  SELECT u, label AS new_label FROM (
      |    SELECT u, label, row_number() OVER (PARTITION BY u
      |      ORDER BY cnt DESC, label) AS rn FROM c1)
      |  WHERE rn = 1),
      |l1 AS (
      |  SELECT node, coalesce(b.new_label, node) AS label
      |  FROM l0 LEFT JOIN b1 b ON b.u = node),
      |c2 AS (
      |  SELECT s.u, l.label, count(*) AS cnt
      |  FROM sym s JOIN l1 l ON l.node = s.v
      |  GROUP BY s.u, l.label),
      |b2 AS (
      |  SELECT u, label AS new_label FROM (
      |    SELECT u, label, row_number() OVER (PARTITION BY u
      |      ORDER BY cnt DESC, label) AS rn FROM c2)
      |  WHERE rn = 1),
      |l2 AS (
      |  SELECT node, coalesce(b.new_label, node) AS label
      |  FROM (SELECT node FROM l0) n LEFT JOIN b2 b ON b.u = n.node)
      |SELECT label, count(*) AS n_members
      |FROM l2 GROUP BY label
      |ORDER BY n_members DESC, label LIMIT 20""".stripMargin

  /** Two rounds of k-core peeling (Seidman '83; the distributed peel is
    * Montresor et al.'s message-passing formulation collapsed to keyed
    * aggregates): repeatedly drop nodes of degree < k and re-derive the
    * induced subgraph. k is data-derived (⌈mean degree⌉ = ⌈2·|E|/|V|⌉) so
    * the peel is non-vacuous at every SF. Unlike PageRank (value
    * iteration) or LPA (label iteration), the LOOP MUTATES STRUCTURE:
    * each round is one degree aggregate + two semi joins of the
    * checkpointed edge list against surviving nodes. Reports the graph
    * before/after: nodes, edges, min degree.
    */
  def kcorePeel(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    var edges = GraphEdges.canonical(s, dir)
    val n0 = degrees(edges).count()
    val e0 = edges.count()
    val k = math.ceil(2.0 * e0 / n0).toLong
    for (_ <- 1 to rounds) {
      val keep = degrees(edges)
        .filter(col("deg") >= k).select(col("node"))
      edges = edges
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
    }
    val degAfter = degrees(edges)
    degAfter.agg(
        count(lit(1)).as("n_nodes"),
        coalesce(min(col("deg")), lit(0L)).as("min_degree"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
      .select(lit(n0).as("nodes_before"), lit(e0).as("edges_before"),
        lit(k).as("k"), col("n_nodes"), col("n_edges"), col("min_degree"))
  }

  def kcore2Step(s: SparkSession, dir: String): DataFrame =
    kcorePeel(s, dir, rounds = 2)

  /** N=2 unrolled peel; k = ceil(2E/V) computed in the same CTE. */
  val kcore2StepOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg0 AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      |  GROUP BY node),
      |kv AS (
      |  SELECT (SELECT count(*) FROM deg0) AS n0,
      |         (SELECT count(*) FROM edges) AS e0,
      |         CAST(ceil(2.0 * (SELECT count(*) FROM edges) /
      |                   (SELECT count(*) FROM deg0)) AS BIGINT) AS k),
      |keep1 AS (SELECT node FROM deg0, kv WHERE deg >= k),
      |e1 AS (
      |  SELECT u, v FROM edges
      |  WHERE u IN (SELECT node FROM keep1)
      |    AND v IN (SELECT node FROM keep1)),
      |deg1 AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
      |  GROUP BY node),
      |keep2 AS (SELECT node FROM deg1, kv WHERE deg >= k),
      |e2 AS (
      |  SELECT u, v FROM e1
      |  WHERE u IN (SELECT node FROM keep2)
      |    AND v IN (SELECT node FROM keep2)),
      |deg2 AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
      |  GROUP BY node)
      |SELECT kv.n0 AS nodes_before, kv.e0 AS edges_before, kv.k,
      |       (SELECT count(*) FROM deg2) AS n_nodes,
      |       (SELECT count(*) FROM e2) AS n_edges,
      |       (SELECT coalesce(min(deg), 0) FROM deg2) AS min_degree
      |FROM kv""".stripMargin

  /** Seeded link prediction: for the 10 highest-degree parts, the top-5
    * NEW links (non-adjacent parts) ranked by neighborhood Jaccard — the
    * "customers who bought X also bought Y" recommender primitive, scored
    * on graph structure alone.
    *
    * Scale shape — the [[SimilarityOps]] NQueries discipline applied to
    * graphs: enumerating ALL distance-2 pairs costs Σ deg(c)² wedges
    * (2.8e7 on this deliberately dense co-purchase instance, and worse at
    * 100 TB), so candidates generate from the SEED side only: explode the
    * 10 broadcast seed neighborhoods and hop once through the edge list —
    * ≤ seeds · deg² rows, independent of graph size. Scoring attaches the
    * two sorted adjacency arrays and intersects with the codegen'd
    * [[graft.functions.expressions.ArrayIntersectSize]] (the
    * [[triangleCount]] kernel); existing edges drop via an ids-only
    * left-anti. Jaccard = |∩| / (deg(s)+deg(c)−|∩|) — small-int ratios,
    * bit-identical across engines.
    */
  def linkPrediction(s: SparkSession, dir: String): DataFrame = {
    val edges = GraphEdges.canonical(s, dir)
    // both-direction long form + sorted adjacency arrays
    val adjLong = edges.unionAll(
      edges.select(col("v").as("u"), col("u").as("v")))
    val adj = adjLong.groupBy(col("u"))
      .agg(sort_array(collect_set(col("v"))).as("nbrs"),
        count(lit(1)).as("deg"))
      .localCheckpoint()
    val seeds = adj
      .orderBy(col("deg").desc, col("u")).limit(10)
      .select(col("u").as("seed"), col("nbrs").as("seed_nbrs"),
        col("deg").as("seed_deg"))
      .localCheckpoint()
    // one hop out of each seed neighborhood → distance-≤2 candidates.
    // IDS ONLY through the explode/distinct: the seed's O(deg) adjacency
    // array re-attaches AFTER dedup from the 10-row broadcast — carrying
    // it through the hop would put O(seeds·deg²) array elements on the
    // broadcast and an O(deg) payload on every distinct row
    val hop = seeds.select(col("seed"), explode(col("seed_nbrs")).as("mid"))
    val cands = adjLong.join(broadcast(hop), col("u") === col("mid"))
      .filter(col("v") =!= col("seed"))
      .select(col("seed"), col("v").as("cand"))
      .distinct()
      .join(broadcast(seeds), "seed")
      // drop already-linked pairs: candidate ∈ N(seed)
      .filter(!array_contains(col("seed_nbrs"), col("cand")))
    val scored = cands
      .join(adj.select(col("u").as("cand"), col("nbrs").as("cand_nbrs"),
        col("deg").as("cand_deg")), "cand")
      .withColumn("common", graft.functions.ArrayFunctions
        .intersectSize(col("seed_nbrs"), col("cand_nbrs")))
      .filter(col("common") > 0)
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("seed_deg") + col("cand_deg") - col("common")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seed"))
      .orderBy(col("jaccard").desc, col("cand"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("seed"), col("rank"), col("cand"),
        col("common").cast("long").as("common_nbrs"), col("jaccard"))
      .orderBy("seed", "rank")
  }

  val linkPredictionOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS (SELECT u AS x, v AS y FROM edges
      |      UNION ALL SELECT v, u FROM edges),
      |deg AS (SELECT x AS node, count(*) AS d FROM e GROUP BY 1),
      |seeds AS (
      |  SELECT node AS seed, d AS seed_deg FROM (
      |    SELECT node, d, row_number() OVER (ORDER BY d DESC, node) AS rn
      |    FROM deg) WHERE rn <= 10),
      |common AS (
      |  SELECT sa.x AS seed, cb.x AS cand, count(*) AS common
      |  FROM e sa JOIN seeds s ON sa.x = s.seed
      |  JOIN e cb ON cb.y = sa.y AND cb.x <> sa.x
      |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE x = sa.x AND y = cb.x)
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT c.seed, c.cand, c.common,
      |         round(CAST(c.common AS DOUBLE) /
      |           (s.seed_deg + dc.d - c.common), 6) AS jaccard
      |  FROM common c JOIN seeds s ON s.seed = c.seed
      |  JOIN deg dc ON dc.node = c.cand)
      |SELECT seed, rank, cand, common AS common_nbrs, jaccard FROM (
      |  SELECT seed, cand, common, jaccard,
      |         row_number() OVER (PARTITION BY seed
      |           ORDER BY jaccard DESC, cand) AS rank
      |  FROM scored)
      |WHERE rank <= 5 ORDER BY seed, rank""".stripMargin

  /** Multi-source BFS, `rounds` frontier expansions from the parts of the
    * lowest order key (a deterministic, data-derived seed set): per-level
    * reach counts — the shortest-path primitive under every "within N
    * hops" graph query (recommendation radius, blast-radius analysis,
    * neighborhood sampling for graph-ML training data).
    *
    * Scale shape — textbook frontier BFS on a shuffle engine: each round
    * is ONE frontier-keyed semi-join into the (mirrored) edge list plus an
    * ids-only left-anti against the visited set — no per-node state, no
    * Σ deg² wedge materialization, rows bounded by the frontier's edge
    * incidence. localCheckpoint per round truncates the growing iterative
    * lineage exactly like [[kcorePeel]]; visited stays (node, dist) ids
    * only. The oracle unrolls N=2 as CTE levels with NOT IN guards.
    */
  def bfsFrom(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val edges = GraphEdges.canonical(s, dir)
    val und = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val li = Tables(s, dir, "lineitem")
    val minOrd = li.agg(min(col("l_orderkey")).as("mo"))
    val src = li.join(broadcast(minOrd), col("l_orderkey") === col("mo"))
      .select(col("l_partkey").as("node")).distinct()
    var visited = src.withColumn("dist", lit(0)).localCheckpoint()
    var frontier = src
    for (r <- 1 to rounds) {
      val next = und
        .join(frontier.select(col("node").as("u")), Seq("u"), "left_semi")
        .select(col("v").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .localCheckpoint()
      visited = visited.union(next.withColumn("dist", lit(r))).localCheckpoint()
      frontier = next
    }
    visited.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy("dist")
  }

  def bfs2Step(s: SparkSession, dir: String): DataFrame =
    bfsFrom(s, dir, rounds = 2)

  val bfs2StepOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |und AS (
      |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
      |src AS (
      |  SELECT DISTINCT l_partkey AS node FROM lineitem
      |  WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)),
      |d1 AS (
      |  SELECT DISTINCT e.v AS node FROM und e JOIN src ON e.u = src.node
      |  WHERE e.v NOT IN (SELECT node FROM src)),
      |d2 AS (
      |  SELECT DISTINCT e.v AS node FROM und e JOIN d1 ON e.u = d1.node
      |  WHERE e.v NOT IN (SELECT node FROM src)
      |    AND e.v NOT IN (SELECT node FROM d1)),
      |lvl AS (
      |  SELECT node, 0 AS dist FROM src
      |  UNION ALL SELECT node, 1 FROM d1
      |  UNION ALL SELECT node, 2 FROM d2)
      |SELECT dist, count(*) AS n_nodes, min(node) AS min_node,
      |       max(node) AS max_node
      |FROM lvl GROUP BY dist ORDER BY dist""".stripMargin

  /** HITS hubs-and-authorities (Kleinberg, J.ACM'99) on the customer→part
    * purchase BIPARTITE graph: customers are hubs ("good buyers point at
    * good products"), parts are authorities. Two mutual-reinforcement
    * iterations from h₀≡1:
    *
    *   a₁(p) = Σ_{c∈N(p)} h₀(c)   (= the in-degree),
    *   h₁(c) = Σ_{p∈N(c)} a₁(p),
    *   a₂(p) = Σ_{c∈N(p)} h₁(c),
    *
    * run UNNORMALIZED in exact BIGINT arithmetic — per-step L2
    * normalization rescales every score by the same constant and never
    * changes the ranking (J.ACM'99 §3 normalizes only so the power
    * iteration converges numerically; a fixed 2-step prefix doesn't need
    * it), so the cross-engine float-summation-order hazard vanishes from
    * the iteration entirely. The single final L2 normalization is one
    * 1-row scalar broadcast (squares cast to double BEFORE summing — the
    * long×long square would overflow first at web-scale counts).
    *
    * Scale shape: the edge build is the orders⋈lineitem keyed join
    * (edge-linear), each iteration is one keyed join + keyed aggregate on
    * the natural key (p then c then p) — never a Σ deg² wedge set — and
    * the top-20 cut is TakeOrderedAndProject. Reference basket semantics:
    * `InvoiceFileSearchFromSQL.ps1:66-81` key-set scaled to ranking.
    */
  def hitsBipartite(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      // three downstream consumers (a1, the h1 join, the a2 join) — pay
      // the orders⋈lineitem build once (the triangleCount discipline)
      .localCheckpoint()
    val a1 = edges.groupBy(col("p")).agg(count(lit(1)).as("a1"))
    val h1 = edges.join(a1, "p").groupBy(col("c")).agg(sum(col("a1")).as("h1"))
    val a2 = edges.join(h1, "c").groupBy(col("p")).agg(sum(col("h1")).as("a2"))
      // the norm scalar AND the output both read a2 — without this the
      // whole two-iteration join chain re-executes for the 1-row norm
      // aggregate (r18 plan audit; part-keyed, ≤|parts| rows)
      .localCheckpoint()
    val ad = col("a2").cast("double")
    val nrm = a2.agg(sqrt(sum(ad * ad)).as("nrm"))
    a2.crossJoin(broadcast(nrm))
      .select(col("p").as("partkey"), col("a2").as("authority_raw"),
        round(col("a2") / col("nrm"), 6).as("authority"))
      .orderBy(desc("authority_raw"), col("partkey")).limit(20)
  }

  val hitsBipartiteOracle: String =
    """WITH e AS (
      |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |a1 AS (SELECT p, count(*) AS a1 FROM e GROUP BY p),
      |h1 AS (SELECT e.c, CAST(sum(a1.a1) AS BIGINT) AS h1
      |       FROM e JOIN a1 USING (p) GROUP BY e.c),
      |a2 AS (SELECT e.p, CAST(sum(h1.h1) AS BIGINT) AS a2
      |       FROM e JOIN h1 USING (c) GROUP BY e.p),
      |nrm AS (SELECT sqrt(sum(CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE))) AS nrm
      |        FROM a2)
      |SELECT p AS partkey, a2 AS authority_raw,
      |       round(a2 / nrm.nrm, 6) AS authority
      |FROM a2, nrm
      |ORDER BY authority_raw DESC, partkey LIMIT 20""".stripMargin

  /** Weighted single-source shortest paths, 2 relaxation rounds — the
    * Bellman–Ford step expressed as join + keyed min (the Pregel/GraphX
    * "message + merge" shape on a shuffle engine). Edge weight is the
    * INVERSE co-occurrence PAIR count — 1 over the number of lineitem
    * row pairs sharing an order (an order holding a part on m lines
    * contributes m·m' pairs, not 1, so this is pair multiplicity rather
    * than |shared orders|; both engines compute the identical quantity) —
    * strongly-associated
    * parts are "close" — so unlike [[bfsFrom]]'s hop counts the frontier
    * ordering is weight-driven and a 2-hop path can beat a 1-hop edge.
    * Source = the basket of the minimum order key (the BFS source set).
    *
    * Determinism: weights are 1/BIGINT (exact inputs), a round-r distance
    * is a sum of ≤r weights (fixed association order, no reduction-order
    * variance), and min() over identical candidate sets agrees across
    * engines; round(6) only at output.
    *
    * Scale shape: each round is ONE frontier⋈edges keyed join + ONE
    * node-keyed min-aggregate — rows bounded by the frontier's edge
    * incidence, state is (node, dist) pairs only, lineage truncated per
    * round via localCheckpoint (the [[bfsFrom]] discipline). The oracle
    * unrolls both rounds as min-plus CTE levels.
    */
  def ssspFrom(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    // weights are ONE narrow projection over the seam's canonical edge
    // list (w = 1/cnt, cnt materialized alongside the edges) — the pair
    // join is never re-derived here (VERDICT r9 #3)
    val canon = GraphEdges.canonicalWeighted(s, dir)
      .select(col("u"), col("v"), (lit(1.0) / col("cnt")).as("w"))
    val edges = canon.union(canon.select(col("v"), col("u"), col("w")))
    val minOrd = li.agg(min(col("l_orderkey")).as("mo"))
    val src = li.join(broadcast(minOrd), col("l_orderkey") === col("mo"))
      .select(col("l_partkey").as("node")).distinct()
      .withColumn("dist", lit(0.0))
    var dists = src.localCheckpoint()
    for (_ <- 1 to rounds) {
      val relaxed = edges
        .join(dists.select(col("node").as("u"), col("dist")), Seq("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      dists = dists.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dists.select(col("node"), round(col("dist"), 6).as("dist"))
      .orderBy(col("dist"), col("node")).limit(20)
  }

  def sssp2Step(s: SparkSession, dir: String): DataFrame =
    ssspFrom(s, dir, rounds = 2)

  val sssp2StepOracle: String =
    """WITH canon AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v,
      |         CAST(1 AS DOUBLE) / count(*) AS w
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |edges AS (SELECT u, v, w FROM canon
      |          UNION ALL SELECT v AS u, u AS v, w FROM canon),
      |d0 AS (SELECT DISTINCT l_partkey AS node, CAST(0 AS DOUBLE) AS dist
      |       FROM lineitem
      |       WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)),
      |d1 AS (SELECT node, min(dist) AS dist FROM (
      |         SELECT node, dist FROM d0
      |         UNION ALL
      |         SELECT e.v AS node, d0.dist + e.w AS dist
      |         FROM edges e JOIN d0 ON e.u = d0.node) GROUP BY node),
      |d2 AS (SELECT node, min(dist) AS dist FROM (
      |         SELECT node, dist FROM d1
      |         UNION ALL
      |         SELECT e.v AS node, d1.dist + e.w AS dist
      |         FROM edges e JOIN d1 ON e.u = d1.node) GROUP BY node)
      |SELECT node, round(dist, 6) AS dist
      |FROM d2 ORDER BY dist, node LIMIT 20""".stripMargin

  /** Incremental maintenance of the co-purchase edge table (r10) — the
    * [[GraphEdges]] materialization's production story made CONCRETE and
    * PROVEN: because both endpoints of a co-purchase pair live in ONE
    * order, a batch of new orders contributes pair counts computed from
    * the new orders ALONE, and the maintained table is base ⊎ delta
    * merged by a keyed sum — no base rescan, the `incremental_agg`
    * partial-state algebra applied to the graph's edge weights. Split is
    * deterministic (`o_orderkey % 10 == 9` plays the newly-arrived 10%).
    *
    * The query computes the MAINTAINED table (base pairs ⊎ delta pairs,
    * full-outer merge) and reduces it to one audit row: edge count, total
    * co-occurrence mass, how many edges the delta created vs grew, and an
    * order-independent md5 checksum over (u, v, cnt). The ORACLE computes
    * the checksum/totals from a from-scratch FULL-corpus pair count — a
    * green row therefore proves maintenance ≡ recompute across engines,
    * which is exactly the invariant an incrementally-maintained
    * [[GraphEdges]] deployment relies on.
    *
    * Scale shape: delta pair generation touches only the delta's
    * lineitem rows; the merge is one full-outer join co-partitioned on
    * (u, v); the audit is one keyless aggregate. At 100 TB the base side
    * is the stored table (scan, no recompute) — here both sides derive
    * from the same corpus so the oracle can restate the claim exactly.
    */
  def incrementalEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    def pairsOf(df: DataFrame): DataFrame = {
      val a = df.as("a"); val b = df.as("b")
      a.join(b, col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("cnt"))
    }
    val base = pairsOf(li.filter(pmod(col("l_orderkey"), lit(10)) =!= 9))
      .select(col("u"), col("v"), col("cnt").as("base_cnt"))
    val delta = pairsOf(li.filter(pmod(col("l_orderkey"), lit(10)) === 9))
      .select(col("u"), col("v"), col("cnt").as("delta_cnt"))
    val merged = base.join(delta, Seq("u", "v"), "full_outer")
      .select(col("u"), col("v"),
        (coalesce(col("base_cnt"), lit(0L)) +
          coalesce(col("delta_cnt"), lit(0L))).as("cnt"),
        col("base_cnt").isNotNull.as("has_base"),
        col("delta_cnt").isNotNull.as("has_delta"))
    val edgeMd5 = conv(substring(md5(concat(
        col("u").cast("string"), lit("_"), col("v").cast("string"))),
      1, 15), 16, 10).cast("long") % 1000000L
    merged.agg(
      count(lit(1)).as("n_edges"),
      sum(col("cnt")).as("total_cnt"),
      sum(when(col("has_delta") && !col("has_base"), 1L).otherwise(0L))
        .as("n_new_edges"),
      sum(when(col("has_base") && col("has_delta"), 1L).otherwise(0L))
        .as("n_grown_edges"),
      sum(edgeMd5 * col("cnt")).as("checksum"))
  }

  /** Totals/checksum from a from-scratch FULL pair count (the recompute),
    * new/grown flags from the same base/delta split — equality with the
    * query's merge-maintained numbers is the maintenance ≡ recompute
    * proof.
    */
  val incrementalEdgesOracle: String =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |full_pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS cnt
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |base_pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS cnt
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  WHERE a.l_orderkey % 10 <> 9
      |  GROUP BY 1, 2),
      |delta_pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS cnt
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  WHERE a.l_orderkey % 10 = 9
      |  GROUP BY 1, 2),
      |flags AS (
      |  SELECT coalesce(b.u, d.u) AS u, coalesce(b.v, d.v) AS v,
      |         b.u IS NOT NULL AS has_base, d.u IS NOT NULL AS has_delta
      |  FROM base_pairs b FULL JOIN delta_pairs d
      |    ON d.u = b.u AND d.v = b.v)
      |SELECT
      |  (SELECT count(*) FROM full_pairs) AS n_edges,
      |  (SELECT CAST(sum(cnt) AS BIGINT) FROM full_pairs) AS total_cnt,
      |  (SELECT count(*) FROM flags WHERE has_delta AND NOT has_base)
      |    AS n_new_edges,
      |  (SELECT count(*) FROM flags WHERE has_base AND has_delta)
      |    AS n_grown_edges,
      |  (SELECT CAST(sum(
      |     (('0x' || substr(md5(CAST(u AS VARCHAR) || '_'
      |        || CAST(v AS VARCHAR)), 1, 15))::BIGINT % 1000000) * cnt)
      |     AS BIGINT) FROM full_pairs) AS checksum""".stripMargin

  /** Degree assortativity (Newman 2002, Phys. Rev. Lett. 89): the Pearson
    * correlation of end-point degrees over every edge END (both
    * orientations — the undirected convention). Positive r = hubs attach
    * to hubs (social-graph-like), negative = hub-and-spoke
    * (technological/co-purchase-like). For a dedup/co-occurrence
    * pipeline this is the one-number structure check between
    * [[degreeDistribution]] (how skewed) and [[triangleCount]] (how
    * clustered) — and a sharp structural shift between corpus snapshots
    * is a data-drift signal upstream metrics miss.
    *
    * Scale shape: degrees are ONE keyed aggregation over the edge ends;
    * the per-edge attach is two node-keyed joins (edge-list-sized);
    * `corr` is a single partial-aggregable pass (Spark's and DuckDB's
    * shared definition — the [[AnalyticsOps]] corr_matrix precedent).
    */
  def degreeAssortativity(s: SparkSession, dir: String): DataFrame = {
    val e = coPurchaseEdges(s, dir)
    val d = degrees(e)
    val sym = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    sym
      .join(d.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(d.select(col("node").as("v"), col("deg").as("dv")), "v")
      .agg(count(lit(1)).as("n_edge_ends"),
        round(avg(col("du")), 4).as("mean_end_degree"),
        round(corr(col("du").cast("double"), col("dv").cast("double")), 4)
          .as("assortativity"))
  }

  val degreeAssortativityOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      |  GROUP BY node),
      |sym AS (
      |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges)
      |SELECT count(*) AS n_edge_ends,
      |       round(avg(du.deg), 4) AS mean_end_degree,
      |       round(corr(CAST(du.deg AS DOUBLE), CAST(dv.deg AS DOUBLE)), 4)
      |         AS assortativity
      |FROM sym
      |JOIN deg du ON du.node = sym.u
      |JOIN deg dv ON dv.node = sym.v""".stripMargin

  /** Deterministic random-walk corpus generation — the sampling pass of
    * DeepWalk/node2vec (Perozzi et al. KDD'14; Grover & Leskovec KDD'16):
    * graph-embedding training data IS a corpus of short walks, and at
    * 100 TB the walk generator is a first-class pipeline operator (the
    * walks feed the same skip-gram machinery as text). Walks start at the
    * top-`walks` hub nodes (degree desc, min-id ties) and take `steps`
    * uniform steps; each step's neighbor choice is DERANDOMIZED the
    * repo's usual way (md5 of walk/step/node mod degree over the
    * v-ordered adjacency index), so both engines replay the identical
    * walks and every emitted step is value-oracle-backed — the
    * [[SimilarityOps.annHnswTopk]] determinism convention applied to
    * walk sampling.
    *
    * Scale shape: each step broadcast-semi-joins the edge list on the
    * frontier FIRST and indexes only that slice (Σ deg(frontier) rows
    * through the step window — never an edge-wide adjacency window per
    * step), and the per-step frontier localCheckpoints (walk-count rows,
    * the [[bfsFrom]] lineage discipline). Production runs millions of
    * walks with the SAME plan — the frontier join flips from broadcast
    * to shuffled when the walk count outgrows the threshold, and a
    * standing walk workload would materialize the indexed adjacency once
    * ([[HnswIndex]]-style) instead of slicing per step.
    */
  def randomWalks(s: SparkSession, dir: String, walks: Int = 10,
      steps: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = GraphEdges.canonical(s, dir)
    val und = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // walk_id = the start node id (no synthetic numbering — keeps the
    // starts window-free)
    val starts = deg.orderBy(col("deg").desc, col("u")).limit(walks)
      .select(col("u").as("walk_id"), col("u").as("node"))
    var cur = starts
    var out = starts.withColumn("step", lit(0))
    for (t <- 1 to steps) {
      // index ONLY the frontier's neighbor lists: semi-join the edge
      // list on the ≤`walks` current nodes FIRST, then window the slice
      // (Σ deg(frontier) rows) — never an edge-wide adjacency index per
      // step (the first cut paid that window 3× and probed 5.9–7.0 s;
      // this shape probes 1.59 s warm at sf0.1). The per-partition
      // count(*) IS the node's full degree, since the slice keeps every
      // neighbor of the node.
      val wSlice = Window.partitionBy(col("walk_id"), col("u"))
      val slice = und
        .join(broadcast(cur.select(col("node").as("u"), col("walk_id"))), "u")
        .withColumn("idx",
          row_number().over(wSlice.orderBy(col("v"))) - 1)
        .withColumn("deg", count(lit(1)).over(wSlice))
      cur = slice
        .filter(col("idx") ===
          conv(substring(md5(concat_ws("_", lit("walk"), col("walk_id"),
            lit(t), col("u")).cast("binary")), 1, 15), 16, 10)
            .cast("long") % col("deg"))
        .select(col("walk_id"), col("v").as("node"))
        .localCheckpoint()
      out = out.unionByName(cur.withColumn("step", lit(t)))
    }
    out.select(col("walk_id"), col("step"), col("node"))
      .orderBy("walk_id", "step")
  }

  /** Every beam step restated: the same adjacency index, degree table,
    * hub starts, and the three md5-mod step selections as CTE levels
    * (the [[bfs2StepOracle]] unroll convention).
    */
  val randomWalksOracle: String =
    s"""WITH ${randomWalksCtes()}
       |SELECT walk_id, step, node FROM walk_rows
       |ORDER BY walk_id, step""".stripMargin

  /** The walk transliteration's CTE chain through `walk_rows(walk_id,
    * step, node)` (no WITH keyword) — shared by [[randomWalksOracle]] and
    * the [[walkSkipgramPairsOracle]] so both restate ONE walk corpus.
    */
  private[graft] def randomWalksCtes(steps: Int = 3): String = {
    val stepCtes = (1 to steps).map { t =>
      val prev = if (t == 1) "starts" else s"s${t - 1}"
      s"""s$t AS (
         |  SELECT p.walk_id, a.v AS node
         |  FROM $prev p
         |  JOIN deg d ON d.u = p.node
         |  JOIN adj a ON a.u = p.node
         |   AND a.idx = ('0x' || substr(md5('walk_' || p.walk_id ||
         |         '_' || $t || '_' || p.node), 1, 15))::BIGINT % d.deg)"""
        .stripMargin
    }.mkString(",\n")
    val levels = (1 to steps)
      .map(t => s"UNION ALL SELECT walk_id, $t AS step, node FROM s$t")
      .mkString("\n  ")
    s"""edges AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |und AS (
       |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
       |adj AS (
       |  SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) - 1
       |           AS idx
       |  FROM und),
       |deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
       |starts AS (
       |  SELECT u AS walk_id, u AS node FROM deg
       |  ORDER BY deg DESC, u LIMIT 10),
       |$stepCtes,
       |walk_rows AS (
       |  SELECT walk_id, 0 AS step, node FROM starts
       |  $levels)""".stripMargin
  }

  /** Skip-gram pair extraction over the walk corpus — the stage between
    * [[randomWalks]] and the embedding trainer (DeepWalk §4.2: walks are
    * sentences, nodes are words, and training examples are (center,
    * context) pairs within a window): every ordered pair of nodes
    * co-occurring within `window` steps on the same walk, aggregated to
    * pair counts. At production walk volume this table IS the
    * graph-embedding training set (and its marginals drive the negative-
    * sampling distribution).
    *
    * Scale shape: one walk_id-keyed self-join bounded by the step-window
    * predicate (≤ window·L pairs per walk — never walk-length²) over the
    * walk frame, then one pair-keyed count. The walk build cost is
    * [[randomWalks]]'s; production materializes the walk corpus once and
    * runs extraction incrementally per walk batch.
    */
  def walkSkipgramPairs(s: SparkSession, dir: String,
      window: Int = 2): DataFrame = {
    val walks = randomWalks(s, dir)
    walks.as("a")
      .join(walks.as("b"),
        col("a.walk_id") === col("b.walk_id") &&
          col("a.step") =!= col("b.step") &&
          abs(col("a.step") - col("b.step")) <= window)
      .groupBy(col("a.node").as("center"), col("b.node").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("center"), col("context"))
  }

  val walkSkipgramPairsOracle: String =
    s"""WITH ${randomWalksCtes()}
       |SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
       |FROM walk_rows a JOIN walk_rows b
       |  ON a.walk_id = b.walk_id AND a.step <> b.step
       | AND abs(a.step - b.step) <= 2
       |GROUP BY 1, 2 ORDER BY center, context""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "random_walks" -> ((s: SparkSession, dir: String) => randomWalks(s, dir)),
    "walk_skipgram_pairs" -> ((s: SparkSession, dir: String) =>
      walkSkipgramPairs(s, dir)),
    "degree_assortativity" -> (degreeAssortativity _),
    "incremental_edges" -> (incrementalEdges _),
    "bfs_2step" -> (bfs2Step _),
    "sssp_2step" -> (sssp2Step _),
    "hits_bipartite" -> (hitsBipartite _),
    "link_prediction" -> (linkPrediction _),
    "triangle_count" -> (triangleCount _),
    "degree_distribution" -> (degreeDistribution _),
    "label_propagation_2step" -> (labelPropagation2Step _),
    "kcore_2step" -> (kcore2Step _))

  val oracles: Map[String, String] = Map(
    "random_walks" -> randomWalksOracle,
    "walk_skipgram_pairs" -> walkSkipgramPairsOracle,
    "degree_assortativity" -> degreeAssortativityOracle,
    "incremental_edges" -> incrementalEdgesOracle,
    "bfs_2step" -> bfs2StepOracle,
    "sssp_2step" -> sssp2StepOracle,
    "hits_bipartite" -> hitsBipartiteOracle,
    "link_prediction" -> linkPredictionOracle,
    "triangle_count" -> triangleCountOracle,
    "degree_distribution" -> degreeDistributionOracle,
    "label_propagation_2step" -> labelPropagation2StepOracle,
    "kcore_2step" -> kcore2StepOracle)
}
