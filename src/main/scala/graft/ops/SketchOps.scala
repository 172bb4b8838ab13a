package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, oracle-backed streaming sketches — the md5 value-pinning
  * pattern (r7 winnowing → r7 minhash → r8 simhash) applied to the two
  * classic frequency/cardinality sketches. Spark's own
  * `approx_count_distinct` HLL is engine-internal (hence
  * `cardinality_sketches` stays rows-only); these implementations derive
  * every hash from md5, so signature, buckets, estimator arithmetic, and
  * correction branches are transliterated 1:1 into DuckDB SQL and
  * value-checked end-to-end. Both sketches are pure keyed aggregates —
  * map-side partial aggregation bounds the shuffle at (groups × sketch
  * width) rows regardless of input size, the whole point of sketching a
  * 100 TB stream.
  */
object SketchOps {

  /** HLL parameters shared by the Column tree and the oracle SQL (the
    * LayoutOps `lanes` single-source discipline): p=5 → m=32 buckets; the
    * 60-bit md5 hash splits into 5 bucket bits + 55 rank bits; integer
    * bucket weights 2^(56-rank) make the harmonic-mean SUM exactly
    * order-independent (summing doubles would make the estimate depend on
    * Spark's partition order), with ONE double division at the end. At
    * real scale p would be 12–14; 32 buckets keeps the sf-domain estimate
    * honest (±1.04/√32 ≈ 18%) while every branch still exercises.
    */
  private val hllM = 32
  private val hllP = 5 // log2(m)
  private val wBits = 55 // 60-bit md5 prefix minus p
  private val pow56 = 1L << 56 // weight scale: 2^(wBits+1)
  private val alphaM2: Double = 0.7213 / (1 + 1.079 / hllM) * hllM * hllM

  /** Per-supplier distinct-order cardinality via a fully deterministic
    * HyperLogLog (Flajolet et al. 2007), compared against the exact
    * distinct count. Plan: narrow hash map → groupBy (supplier, bucket)
    * max(rank) — partial agg caps the shuffle at m rows per supplier per
    * partition — → groupBy supplier harmonic sum (integer!) → one
    * broadcast-sized frame joined to the exact counts. The exact
    * countDistinct is the accuracy baseline (same role as
    * `cardinality_sketches`), deliberately paid.
    */
  def hllEstimate(s: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.spread(Tables(s, dir, "lineitem"), col("l_suppkey"))
      .select(col("l_suppkey"),
        conv(substring(md5(col("l_orderkey").cast("string").cast("binary")),
          1, 15), 16, 10).cast("long").as("h"))
    val ranked = hashed.select(col("l_suppkey"),
      col("h").bitwiseAND(lit((hllM - 1).toLong)).as("bucket"),
      when(shiftright(col("h"), hllP) === 0, lit(wBits + 1))
        .otherwise(instr(lpad(bin(shiftright(col("h"), hllP)), wBits, "0"),
          "1")).as("rank"))
    val sums = ranked.groupBy(col("l_suppkey"), col("bucket"))
      .agg(max(col("rank")).as("mr"))
      .groupBy(col("l_suppkey"))
      .agg((sum(expr("shiftleft(CAST(1 AS BIGINT), 56 - mr)")).cast("long") +
        (lit(hllM.toLong) - count(lit(1))) * lit(pow56)).as("s_int"),
        (lit(hllM) - count(lit(1))).cast("long").as("v"))
    val est = sums.select(col("l_suppkey"), col("v"),
      (lit(alphaM2) / (col("s_int").cast("double") / lit(pow56.toDouble)))
        .as("raw"))
      .select(col("l_suppkey"),
        when(col("raw") <= lit(2.5 * hllM) && col("v") > 0,
          lit(hllM.toDouble) * log(lit(hllM.toDouble) / col("v").cast("double")))
          .otherwise(col("raw")).as("est"))
    val exact = Tables(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(countDistinct(col("l_orderkey")).as("n_exact"))
    est.join(exact, "l_suppkey")
      .select(col("l_suppkey"), col("n_exact"),
        round(col("est"), 2).as("hll_est"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 4)
          .as("rel_err"))
      .orderBy("l_suppkey")
  }

  /** Same HLL, transliterated: md5 hash split, bin/lpad/strpos rank
    * (Spark `instr` ≡ DuckDB `strpos`, both 1-based), integer harmonic
    * sum, identical division/branch shapes so both engines compute the
    * SAME doubles before the rounding.
    */
  val hllEstimateOracle: String =
    s"""WITH h AS (
       |  SELECT l_suppkey,
       |         ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM lineitem),
       |br AS (
       |  SELECT l_suppkey, h & ${hllM - 1} AS bucket,
       |         CASE WHEN (h >> $hllP) = 0 THEN ${wBits + 1}
       |              ELSE strpos(lpad(bin(h >> $hllP), $wBits, '0'), '1') END AS rank
       |  FROM h),
       |mx AS (SELECT l_suppkey, bucket, max(rank) AS mr FROM br GROUP BY 1, 2),
       |s AS (
       |  SELECT l_suppkey,
       |         CAST(sum(1::BIGINT << (56 - mr)) AS BIGINT)
       |           + CAST($hllM - count(*) AS BIGINT) * $pow56 AS s_int,
       |         CAST($hllM - count(*) AS BIGINT) AS v
       |  FROM mx GROUP BY 1),
       |est AS (
       |  SELECT l_suppkey, v,
       |         CAST($alphaM2 AS DOUBLE) /
       |           (CAST(s_int AS DOUBLE) / CAST(${pow56.toDouble} AS DOUBLE)) AS raw
       |  FROM s),
       |corrected AS (
       |  SELECT l_suppkey,
       |         CASE WHEN raw <= ${2.5 * hllM} AND v > 0
       |              THEN ${hllM.toDouble} * ln(${hllM.toDouble} / CAST(v AS DOUBLE))
       |              ELSE raw END AS est
       |  FROM est),
       |exact AS (
       |  SELECT l_suppkey, count(DISTINCT l_orderkey) AS n_exact
       |  FROM lineitem GROUP BY 1)
       |SELECT e.l_suppkey, x.n_exact, round(e.est, 2) AS hll_est,
       |       round(abs(e.est - x.n_exact) / x.n_exact, 4) AS rel_err
       |FROM corrected e JOIN exact x USING (l_suppkey)
       |ORDER BY l_suppkey""".stripMargin

  private val cmDepth = 4
  private val cmWidth = 64

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) over event user
    * activity: d=4 md5-derived hash rows × w=64 buckets, point-queried for
    * the exact top-20 users. The sketch build is ONE keyed aggregate over
    * a 4× row expansion (partial agg caps the shuffle at d·w rows per
    * partition — the sketch IS the aggregation state); estimates are
    * min-over-rows, integers end to end, so the overcount column shows the
    * ε=e/w one-sided error live against ground truth. w=64 at 150 users
    * deliberately overloads buckets so collisions are visible; at scale w
    * grows to 2^16+ and the shuffle stays d·w.
    */
  def countminEst(s: SparkSession, dir: String): DataFrame = {
    val rows = array((0 until cmDepth).map(i => lit(i)): _*)
    def bucketOf(key: org.apache.spark.sql.Column,
        i: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(i.cast("string"), lit(","),
        key.cast("string")).cast("binary")), 1, 15), 16, 10)
        .cast("long") % cmWidth
    val ev = Tables(s, dir, "events")
    val sketch = Tables.spread(ev, col("user_id"))
      .select(col("user_id"), explode(rows).as("i"))
      .select(col("i"), bucketOf(col("user_id"), col("i")).as("bucket"))
      .groupBy(col("i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val top20 = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), col("user_id"))
      .limit(20)
    val keyed = top20.select(col("user_id"), col("exact_cnt"),
        explode(rows).as("i"))
      .select(col("user_id"), col("exact_cnt"), col("i"),
        bucketOf(col("user_id"), col("i")).as("bucket"))
    keyed.join(sketch, Seq("i", "bucket"))
      .groupBy(col("user_id"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cm_est"))
      .select(col("user_id"), col("exact_cnt"), col("cm_est"),
        (col("cm_est") - col("exact_cnt")).as("overcount"))
      .orderBy(desc("exact_cnt"), col("user_id"))
  }

  val countminEstOracle: String =
    s"""WITH hashes AS (
       |  SELECT e.user_id, r.i,
       |         ('0x' || substr(md5(r.i || ',' || CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % $cmWidth AS bucket
       |  FROM events e CROSS JOIN (SELECT unnest(generate_series(0, ${cmDepth - 1})) AS i) r),
       |sketch AS (SELECT i, bucket, count(*) AS cnt FROM hashes GROUP BY 1, 2),
       |top20 AS (
       |  SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1
       |  ORDER BY exact_cnt DESC, user_id LIMIT 20),
       |keyed AS (
       |  SELECT t.user_id, t.exact_cnt, r.i,
       |         ('0x' || substr(md5(r.i || ',' || CAST(t.user_id AS VARCHAR)), 1, 15))::BIGINT % $cmWidth AS bucket
       |  FROM top20 t CROSS JOIN (SELECT unnest(generate_series(0, ${cmDepth - 1})) AS i) r)
       |SELECT k.user_id, k.exact_cnt, CAST(min(s.cnt) AS BIGINT) AS cm_est,
       |       CAST(min(s.cnt) - k.exact_cnt AS BIGINT) AS overcount
       |FROM keyed k JOIN sketch s ON s.i = k.i AND s.bucket = k.bucket
       |GROUP BY k.user_id, k.exact_cnt
       |ORDER BY k.exact_cnt DESC, k.user_id""".stripMargin

  private val ipWidth = 4096

  /** Join-cardinality estimation from Count-Min sketch INNER PRODUCTS
    * (Cormode & Muthukrishnan's second classic use): |A ⋈ B| =
    * Σ_k f_A(k)·f_B(k), estimated as min over the d hash rows of
    * Σ_b A[i][b]·B[i][b] — the optimizer-statistics move that sizes a
    * join from two (d × w)-cell summaries WITHOUT executing it (here the
    * orders ⋈ customer custkey join; the exact join runs alongside as
    * the audit, like every sketch in this file). The estimate is
    * one-sided (collision mass only adds), within ε·‖f_A‖₁·‖f_B‖₁/w in
    * expectation per row — w=4096 keeps that ≈ 5% of the true mass at
    * sf0.01. Same md5 bucket scheme as [[countminEst]], so the whole
    * estimator is value-checked in DuckDB; sketch builds are keyed
    * aggregates with (d·w)-bounded shuffles, the inner product a
    * (d·w)-row join.
    */
  def cmsJoinCard(s: SparkSession, dir: String): DataFrame = {
    def sketch(df: DataFrame, key: String): DataFrame =
      Tables.spread(df, col(key))
        .select(col(key), explode(array((0 until cmDepth).map(lit): _*)).as("i"))
        .select(col("i"),
          (conv(substring(md5(concat(col("i").cast("string"), lit(","),
            col(key).cast("string")).cast("binary")), 1, 15), 16, 10)
            .cast("long") % ipWidth).as("bucket"))
        .groupBy(col("i"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
    val a = sketch(Tables(s, dir, "orders"), "o_custkey")
    val b = sketch(Tables(s, dir, "customer"), "c_custkey")
    val est = a.as("a").join(b.as("b"),
        col("a.i") === col("b.i") && col("a.bucket") === col("b.bucket"))
      .groupBy(col("a.i"))
      .agg(sum(col("a.cnt") * col("b.cnt")).as("ip"))
      .agg(min(col("ip")).as("cms_est"))
    val exact = Tables(s, dir, "orders").select(col("o_custkey"))
      .join(Tables(s, dir, "customer").select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("exact_card"))
    exact.crossJoin(broadcast(est))
      .select(col("exact_card"), col("cms_est"),
        (col("cms_est") - col("exact_card")).as("overcount"),
        round(col("cms_est").cast("double") / col("exact_card"), 4).as("ratio"))
  }

  val cmsJoinCardOracle: String =
    s"""WITH r AS (SELECT unnest(generate_series(0, ${cmDepth - 1})) AS i),
       |a AS (
       |  SELECT r.i,
       |         ('0x' || substr(md5(r.i || ',' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT % $ipWidth AS bucket,
       |         count(*) AS cnt
       |  FROM orders CROSS JOIN r GROUP BY 1, 2),
       |b AS (
       |  SELECT r.i,
       |         ('0x' || substr(md5(r.i || ',' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % $ipWidth AS bucket,
       |         count(*) AS cnt
       |  FROM customer CROSS JOIN r GROUP BY 1, 2),
       |ip AS (
       |  SELECT a.i, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS ip
       |  FROM a JOIN b ON a.i = b.i AND a.bucket = b.bucket GROUP BY a.i),
       |est AS (SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM ip),
       |exact AS (
       |  SELECT count(*) AS exact_card
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
       |SELECT x.exact_card, e.cms_est,
       |       CAST(e.cms_est - x.exact_card AS BIGINT) AS overcount,
       |       round(CAST(e.cms_est AS DOUBLE) / x.exact_card, 4) AS ratio
       |FROM exact x, est e""".stripMargin

  private val dpDomain = 1L << 60

  /** Differentially-private per-source document counts: Laplace(1/ε)
    * noise (ε = 1, sensitivity 1 for a count) via the inverse CDF of an
    * md5-uniform draw keyed on the source name. The draw being a pure
    * function of the key makes the release IDEMPOTENT — re-running the
    * pipeline republishes the SAME noisy value instead of spending fresh
    * ε per run (deterministic-noise single-release semantics: the ε
    * budget is paid once per key, and the scaladoc is the accounting
    * record). The +0.5 offset keeps u strictly inside (0,1) so the ln
    * never sees 0; identical arithmetic shapes on both engines make the
    * noise — not just the count — value-checked. Keyed aggregate + a
    * narrow noise map: nothing here grows past the group count.
    */
  def dpCounts(s: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(col("source").cast("binary")), 1, 15), 16, 10)
      .cast("long").cast("double") + 0.5) / lit(dpDomain.toDouble)
    Tables(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("true_count"))
      .withColumn("u", u)
      .select(col("source"), col("true_count"),
        round(col("true_count") +
          when(col("u") < 0.5, log(lit(2.0) * col("u")))
            .otherwise(-log(lit(2.0) * (lit(1.0) - col("u")))), 4)
          .as("dp_count"))
      .orderBy("source")
  }

  val dpCountsOracle: String =
    s"""WITH c AS (SELECT source, count(*) AS true_count FROM documents
       |           GROUP BY 1),
       |u AS (
       |  SELECT source, true_count,
       |         (CAST(('0x' || substr(md5(source), 1, 15))::BIGINT AS DOUBLE)
       |            + 0.5) / CAST(${dpDomain.toDouble} AS DOUBLE) AS u
       |  FROM c)
       |SELECT source, true_count,
       |       round(true_count + (CASE WHEN u < 0.5 THEN ln(2.0 * u)
       |                           ELSE -ln(2.0 * (1.0 - u)) END), 4) AS dp_count
       |FROM u ORDER BY source""".stripMargin

  private val bootReps = 32

  /** Integer inverse-CDF cutoffs for Poisson(1) on the 32-bit affine-hash
    * domain: `u < cuts(k)` ⇒ weight k (else 5). ONE Scala definition
    * feeds both the Column tree and the oracle SQL as literals, and the
    * comparison is pure integer — the resample "randomness" is exactly
    * reproducible on both engines.
    */
  private val poissonCuts: Seq[Long] = {
    val pmf = (0 until 5).map(k =>
      math.exp(-1.0) / (1 to k).foldLeft(1.0)(_ * _))
    val dom = math.pow(2.0, 32)
    pmf.scanLeft(0.0)(_ + _).tail.map(c => (c * dom).toLong)
  }

  /** Poisson bootstrap (the large-scale bootstrap: per-row replicate
    * weights ~ Poisson(1) instead of true multinomial resampling, exact
    * as n → ∞) of the per-priority mean order value: 32 replicates,
    * weights drawn DETERMINISTICALLY via [[poissonCuts]] from ONE md5
    * per row re-keyed per replicate by the
    * [[graft.functions.expressions.AffineMinHash]] constant family —
    * per-(row, replicate) md5 was the first cut and measured 7 s warm at
    * sf0.1 (the documented conv∘md5 builtin-chain allocation cost × R);
    * one digest + 32 codegen'd multiply-adds per row is ~5× cheaper.
    * Affine re-keys of one hash are pairwise DEPENDENT uniforms per row,
    * but replicate MEANS average that dependence out across rows — the
    * spec pins se_boot within 3× of σ/√n, and the DuckDB cross-check at
    * sf0.01 lands within 10% of theory. The whole sampling distribution
    * — standard error and the 2.5/97.5% percentile CI — is value-checked
    * against DuckDB. This is how error bars work at 100 TB: no data
    * movement per replicate, just a ×R narrow expansion feeding ONE
    * keyed aggregate whose shuffle is (groups × R) partial rows per
    * partition; the replicate means then live on a 160-row frame. Means
    * are rounded (6dp) BEFORE the quantile/stddev pass so both engines
    * interpolate identical inputs.
    */
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.AffineMinHash.{A, B, Mod}
    val ords = Tables(s, dir, "orders")
    val w = poissonCuts.zipWithIndex.foldRight(lit(5): org.apache.spark.sql.Column) {
      case ((cut, k), acc) => when(col("u") < cut, k).otherwise(acc)
    }
    val reps = array((0 until bootReps).map(r =>
      struct(lit(r).as("r"),
        ((lit(A(r)) * col("m") + lit(B(r))) % lit(Mod)).as("u"))): _*)
    val boot = ords
      .select(col("o_orderpriority").as("pri"), col("o_totalprice").as("x"),
        (conv(substring(md5(col("o_orderkey").cast("string").cast("binary")),
          1, 15), 16, 10).cast("long") % lit(Mod)).as("m"))
      .select(col("pri"), col("x"), explode(reps).as("rep"))
      .select(col("pri"), col("x"), col("rep.r").as("r"), col("rep.u").as("u"))
      .withColumn("w", w)
      .groupBy(col("pri"), col("r"))
      .agg(round(sum(col("w") * col("x")) / sum(col("w")), 6).as("m"))
    val stats = boot.groupBy(col("pri"))
      .agg(round(stddev_samp(col("m")), 4).as("se_boot"),
        round(percentile(col("m"), lit(0.025)), 4).as("ci_lo"),
        round(percentile(col("m"), lit(0.975)), 4).as("ci_hi"))
    val actual = ords.groupBy(col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n_rows"),
        round(avg(col("o_totalprice")), 4).as("mean_actual"))
    actual.join(stats, "pri")
      .select(col("pri").as("o_orderpriority"), col("n_rows"),
        col("mean_actual"), col("se_boot"), col("ci_lo"), col("ci_hi"))
      .orderBy("o_orderpriority")
  }

  /** The row hash, affine re-key, weight CASE, and stats chain
    * transliterated; the same [[poissonCuts]] and
    * [[graft.functions.expressions.AffineMinHash]] constants guarantee
    * identical resamples. Spark's exact `percentile` and DuckDB's
    * `quantile_cont` share linear interpolation (pinned previously by
    * `events_value_percentiles`).
    */
  val bootstrapCiOracle: String = {
    import graft.functions.expressions.AffineMinHash.{A, B, Mod}
    val wCase = "CASE " + poissonCuts.zipWithIndex.map { case (cut, k) =>
      s"WHEN u < $cut THEN $k" }.mkString(" ") + " ELSE 5 END"
    val repRows = (0 until bootReps).map(r =>
      s"(${r}, ${A(r)}, ${B(r)})").mkString(", ")
    s"""WITH reps AS (SELECT * FROM (VALUES $repRows) v(r, a, b)),
       |h0 AS (
       |  SELECT o_orderpriority AS pri, o_totalprice AS x,
       |         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
       |           % $Mod AS m
       |  FROM orders),
       |w AS (
       |  SELECT h0.pri, h0.x, reps.r,
       |         (reps.a * h0.m + reps.b) % $Mod AS u
       |  FROM h0 CROSS JOIN reps),
       |wts AS (SELECT pri, x, r, $wCase AS w FROM w),
       |boot AS (
       |  SELECT pri, r, round(sum(w * x) / sum(w), 6) AS m
       |  FROM wts GROUP BY pri, r),
       |stats AS (
       |  SELECT pri,
       |         round(stddev_samp(m), 4) AS se_boot,
       |         round(quantile_cont(m, 0.025), 4) AS ci_lo,
       |         round(quantile_cont(m, 0.975), 4) AS ci_hi
       |  FROM boot GROUP BY pri),
       |actual AS (
       |  SELECT o_orderpriority AS pri, count(*) AS n_rows,
       |         round(avg(o_totalprice), 4) AS mean_actual
       |  FROM orders GROUP BY 1)
       |SELECT a.pri AS o_orderpriority, a.n_rows, a.mean_actual,
       |       s.se_boot, s.ci_lo, s.ci_hi
       |FROM actual a JOIN stats s ON s.pri = a.pri
       |ORDER BY o_orderpriority""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hll_estimate" -> (hllEstimate _),
    "bootstrap_ci" -> (bootstrapCi _),
    "cms_join_card" -> (cmsJoinCard _),
    "dp_counts" -> (dpCounts _),
    "countmin_est" -> (countminEst _))

  val oracles: Map[String, String] = Map(
    "hll_estimate" -> hllEstimateOracle,
    "bootstrap_ci" -> bootstrapCiOracle,
    "cms_join_card" -> cmsJoinCardOracle,
    "dp_counts" -> dpCountsOracle,
    "countmin_est" -> countminEstOracle)
}
