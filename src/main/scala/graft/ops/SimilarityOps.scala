package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over embedding columns (SURVEY.md §7.5): brute-force
  * cosine top-k as the exactness baseline, plus the IVF-style bucketed
  * variant (labels = coarse-quantizer assignment, nprobe=1) as the scale
  * path. A third, fully unsupervised scale path is sign-LSH (random
  * hyperplane) bucketing — see [[annSignLsh]], value-pinned via md5-derived
  * hyperplanes since r9.
  *
  * Scale design: queries are a small broadcast side against a corpus that
  * only shuffles for the per-query top-k window (partitioned by query id —
  * k rows per query survive the partial top-k thanks to
  * `spark.sql.execution.topKSortFallbackThreshold`-friendly window+filter).
  */
object SimilarityOps {

  private[graft] val K = 5
  private val NQueries = 10

  /** The 4×20 GATE banding config (r15 — named so the streaming
    * maintainer [[graft.streaming.StreamingKnn]], the batch builds, AND
    * every oracle SQL string can never silently de-align, the HnswIndex
    * constant-hoist lesson): the `ann_sign_lsh` OR-construction the
    * whole knn family rides — every consumer (Spark side and
    * `signLshBucketsOracleCte` interpolation alike) references these
    * two names, so a retune moves all of them together. Since r17 this
    * pair is the CLAMP FLOOR of the occupancy-derived default
    * ([[bitsFor]]/[[bandsFor]]): at the gate corpora the derived config
    * equals it exactly (oracle parity), and it only scales up from
    * here.
    */
  private[graft] val KnnBitsPerBand = 4
  private[graft] val KnnBands = 20

  /** Upper clamp for [[bitsFor]]: 24 bits = 16.7M buckets per band holds
    * the [[BandPlanOccTarget]] occupancy up to ~2.7B vectors — beyond
    * any single-table corpus this engine would band in one pass. Plane
    * cost is linear in bits (bits × bands dots per vector), so the clamp
    * is a sanity bound, not a cost cliff.
    */
  private[graft] val MaxAutoBits = 24

  /** Occupancy-derived bits-per-band — the r16 sf1 scaling finding made
    * the DEFAULT (VERDICT r16 #1). At fixed buckets the bucket cogroup's
    * candidate mass Σ c·(c−1) grows ∝ n² (the probe measured the knn
    * builds ×20–37 at the ×10 step, `scripts/probe_r16_scale.log`);
    * holding mean occupancy at [[BandPlanOccTarget]] keeps it ∝ n
    * (measured: bits=7 cut the sf1 build 180.9 → 16.3 s). So:
    * bits = ⌈log2(n / target)⌉, clamped to
    * [[[KnnBitsPerBand]], [[MaxAutoBits]]].
    *
    * The clamp FLOOR is the oracle-parity invariant: at every gate
    * corpus (sf0.001/0.01: 500 vectors, sf0.1: 2000) the derived value
    * IS the pinned [[KnnBitsPerBand]] — n ≤ 2^4·target — so every
    * oracle SQL interpolating the constant stays value-exact while any
    * larger corpus gets the scaled config automatically
    * (BandingDefaultSpec pins the equality at the gate sizes and the
    * =7 value at the 20k-vector probe size `ScaleProbe band` measured).
    * Recall lost to finer buckets is bought back with BANDS (linear),
    * never occupancy (quadratic) — [[bandsFor]].
    */
  private[graft] def bitsFor(n: Long): Int =
    bitsFor(n, BandPlanOccTarget.toLong, KnnBitsPerBand)

  /** The general occupancy rule: smallest b with n ≤ target·2^b, clamped
    * to [floor, [[MaxAutoBits]]] — integer-exact (no ceil(log2) float
    * math: `ann_auto_config`'s oracle states the SAME rule in SQL, and
    * a float log at an exact power-of-two boundary is the r16
    * rounding-tie class all over again). Each banded family passes ITS
    * gate occupancy as the target — the knn lists run at ~160/bucket,
    * the HNSW build at ~8 — so "keep the load the config was tuned at"
    * is one rule, not one rule per family.
    */
  private[graft] def bitsFor(n: Long, target: Long, floor: Int): Int = {
    var b = 0
    while (b < MaxAutoBits && n > (target << b)) b += 1
    math.max(floor, b)
  }

  /** Band count paired with [[bitsFor]]: the shipped [[KnnBands]] at the
    * gate config, DOUBLED PER 3 BITS above the floor. The measured
    * anchor (BASELINE.md r17 — `ScaleProbe band`, 20k vectors): +3 bits at
    * fixed bands drops recall@5 vs exact 0.981 → 0.619, and one
    * doubling buys it back to 0.850 — consistent with the sign-LSH
    * collision model (per-band collision p = (1−θ/π)^bits falls ≈ 2×
    * per 3 bits at the corpus' near-pair angles, so the OR-construction
    * needs ≈ 2× the draws). Beyond bits 7 the rule is that model's
    * extrapolation, not a measurement (r16 review discipline: say so) —
    * a 100 TB deployment re-anchors against `knn_recall_audit`, which
    * exists precisely to make that re-anchoring a query. Cost stays
    * linear: planes per vector = bits × bands, growing with
    * log(n) · n^(log2(2)/3-ish) of the corpus — the recall-preserving
    * price, paid in the map pass, never in the cogroup.
    */
  private[graft] def bandsFor(bits: Int): Int =
    scaledBands(KnnBands, bits - KnnBitsPerBand)

  /** The band-compensation half of the occupancy rule: a family sized
    * `bitsDelta` bits past its tuned floor doubles its band count per
    * `bitsPerDoubling` bits. The doubling rate is a FAMILY property,
    * measured per family on the sf1 corpus (`probe_r17_band.log`):
    * the knn lists (occupancy 160 — fat buckets, few collisions
    * suffice) hold recall at 3 bits per doubling (the [[bandsFor]]
    * anchor); the HNSW build (occupancy 8 — sparse buckets, each band
    * contributes little) needs 1 bit per doubling — its beam ladder at
    * 12 bits read 0.52 / 0.72 / **0.90** at ×4 / ×8 / ×16 bands vs the
    * tuned config's 0.78, so only the ×2-per-bit point restores (and
    * beats) serving recall.
    */
  private[graft] def scaledBands(baseBands: Int, bitsDelta: Int,
      bitsPerDoubling: Int = 3): Int = {
    val d = math.max(0, bitsDelta)
    baseBands << ((d + bitsPerDoubling - 1) / bitsPerDoubling)
  }

  /** Per-(session, corpus) memo of [[bitsFor]] over the embeddings row
    * count — one count() per corpus per session (the same
    * amortization contract as the [[SessionSeam]] materializations),
    * so per-query derivation never re-scans. WEAK session keys (r17
    * review): a strong static key would pin every stopped SparkSession
    * in a many-sessions JVM forever; and the count() job runs OUTSIDE
    * the map lock — a racing first call counts twice, deterministically
    * identically, which beats blocking a hash bin for a Spark job.
    */
  private val corpusCounts = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()

  /** Memoized embeddings row count — the ONE number every banded family
    * derives its config from (knn lists at target 160, HNSW at target
    * 8), counted once per (session, corpus).
    */
  private[graft] def corpusCount(s: SparkSession, dir: String): Long = {
    val per = corpusCounts.synchronized {
      var m = corpusCounts.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
        corpusCounts.put(s, m)
      }
      m
    }
    val cached = per.get(dir)
    if (cached != null) cached.longValue()
    else {
      val v = java.lang.Long.valueOf(Tables(s, dir, "embeddings").count())
      per.putIfAbsent(dir, v)
      per.get(dir).longValue()
    }
  }

  private[graft] def derivedBits(s: SparkSession, dir: String): Int =
    bitsFor(corpusCount(s, dir))

  /** The SemDeDup edge threshold (r15 — named for the same reason as the
    * banding constants above: [[semdedupKnn]], its oracle, AND the
    * [[DedupOps.dedupAgreement]] calibration audit all threshold the kNN
    * lists at this value, so a retune moves the dedup and its audit
    * together instead of leaving the audit describing an edge set the
    * dedup no longer uses).
    */
  private[graft] val SemDedupCos = 0.35

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        normalize(toDoubleArray(col("embedding"))).as("v"))

  /** Brute-force exact top-k neighbors for the first NQueries vectors. */
  def annCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rank")
  }

  val annCosineTopkOracle: String =
    s"""SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${cosineOracle("q.embedding", "c.embedding")} AS cos,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${cosineOracle("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQueries)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** IVF-bucketed top-k: candidates restricted to the query's own label
    * bucket (coarse quantizer, nprobe=1) — the candidate set shrinks by the
    * bucket count, the classic recall-for-throughput ANN trade.
    */
  def annIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"))
    val scored = emb.join(broadcast(queries),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rank")
  }

  val annIvfTopkOracle: String =
    s"""SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${cosineOracle("q.embedding", "c.embedding")} AS cos,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${cosineOracle("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings c
       |    ON c.label = q.label AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQueries)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** IVF with nprobe > 1 — the recall-for-throughput knob every real ANN
    * deployment tunes ([[annIvfTopk]] is the nprobe=1 degenerate case,
    * hard-wired to the query's own label). Here the coarse quantizer is
    * LEARNED: per-label centroids (mean of the normalized member vectors,
    * the [[embeddingCentroids]] shape), each query ranks all centroids by
    * squared distance and probes the `nprobe` nearest buckets; candidates
    * from those buckets are exact-cosine scored and top-k'd.
    *
    * Scale shape: the centroid table is labels × d — broadcast-sized by
    * construction (that IS what makes it a coarse quantizer), so query →
    * probe-list is a narrow broadcast join; candidate scan touches only
    * nprobe/L of the corpus via the (label=probe) equi-join; the only
    * corpus shuffle is the per-query top-k window. Recall(nprobe=2) ≥
    * recall(nprobe=1) is pinned in DedupOpsSpec against the exact
    * [[annCosineTopk]], including recall = 1.0 when probing every bucket.
    *
    * Measured at sf0.01: own-label nprobe=1 ([[annIvfTopk]]) recall 0.08,
    * learned-centroid nprobe=2 recall 0.32 — honest numbers for a corpus
    * whose labels are NOT cosine-aligned clusters. The trade is
    * corpus-dependent: on the same corpus the unsupervised sign-LSH path
    * ([[annSignLsh]]) reaches 0.94–0.96, which is why IT is the
    * recommended default and IVF exists as the bucketed-index SHAPE with
    * its tuning knob.
    */
  def annIvfProbe(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val emb = embeddings(s, dir)
    // learned coarse quantizer: per-label mean of normalized vectors,
    // components rounded to 6 (cross-engine accumulation-order damping)
    val cents = emb
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col")), 6).as("m"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("label"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("cdist", round(squaredDistance(col("qv"), col("cv")), 6))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("qv"), col("label").as("probe_label"))
    val scored = emb.join(broadcast(probes),
        col("label") === col("probe_label") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rank")
  }

  def annIvfProbe2(s: SparkSession, dir: String): DataFrame =
    annIvfProbe(s, dir, nprobe = 2)

  val annIvfProbe2Oracle: String =
    s"""WITH e AS (SELECT vec_id, label,
       |                  ${normalizeOracle("embedding")} AS v
       |           FROM embeddings),
       |m AS (
       |  SELECT label, i AS pos, round(avg(v[i]), 6) AS m
       |  FROM e, LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY label, i),
       |c AS (SELECT label, list(m ORDER BY pos) AS cv FROM m GROUP BY label),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE vec_id < $NQueries),
       |pd AS (
       |  SELECT q.query_id, c.label,
       |         round(sum((qv[i] - cv[i]) * (qv[i] - cv[i])), 6) AS cdist
       |  FROM q, c, LATERAL unnest(generate_series(1, len(qv))) t(i)
       |  GROUP BY q.query_id, c.label),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT query_id, label,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cdist, label) AS prn
       |    FROM pd)
       |  WHERE prn <= 2),
       |cand AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |         list_dot_product(q.qv, e.v) AS cos
       |  FROM probes p
       |  JOIN e ON e.label = p.label
       |  JOIN q ON q.query_id = p.query_id
       |  WHERE e.vec_id <> p.query_id)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM cand)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Sign-LSH (random hyperplane) multi-table ANN — VALUE-PINNED since r9:
    * `bands` hash tables, each keyed by a `bitsPerBand`-bit bucket id from
    * the signs of projections onto hyperplanes derived deterministically
    * from md5(dim, plane) (the r8 `dedup_simhash` md5 trick applied to the
    * hyperplane family — no external randomness, reproducible across runs
    * AND engines, so the whole pipeline — buckets, candidates, exact
    * re-score, top-k — is transliterated into the DuckDB oracle and
    * value-checked end-to-end). A candidate is any vector sharing a bucket
    * with the query in ANY
    * band (the classic OR-construction; a single-table variant measured
    * recall 0/50 against the exact top-k on this corpus — one 8-bit exact
    * signature match is hopeless at top-neighbor cos ≈ 0.4); candidates are
    * then exact-cosine scored and top-k'd. All band buckets come from ONE
    * narrow-map pass (native [[graft.functions.expressions.SignLshBuckets]],
    * bit-identical to the per-plane composition — VectorExpressionsSpec);
    * the band index rows are ids-only (vectors do not ride the 20× explode)
    * and the search is a shuffle on (band, bucket) — the fully unsupervised
    * analog of [[annIvfTopk]]. Measured at the 4×20 default on this corpus:
    * recall 0.94–0.96 vs the exact top-k (pinned ≥ 0.8 in DedupOpsSpec);
    * candidate
    * volume tunes with (bitsPerBand, bands) per corpus similarity profile.
    */
  def annSignLsh(s: SparkSession, dir: String): DataFrame = {
    val bits = derivedBits(s, dir)
    annSignLsh(s, dir, bitsPerBand = bits, bands = bandsFor(bits))
  }

  def annSignLsh(s: SparkSession, dir: String,
      bitsPerBand: Int, bands: Int): DataFrame = {
    val emb = embeddings(s, dir)
    // ids-only band index: (vec_id, band, bucket)
    val banded = emb.select(col("vec_id"),
      posexplode(signLshBuckets(col("v"), bitsPerBand, bands)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
    val qBands = banded.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        col("band").as("qband"), col("bucket").as("qbucket"))
    val candidates = banded.join(broadcast(qBands),
        col("band") === col("qband") && col("bucket") === col("qbucket") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val qVecs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = candidates
      .join(emb.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .join(broadcast(qVecs), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Full transliteration of [[annSignLsh]] (4×20 default) — md5 weights,
    * plane-sum signs, band buckets, OR-construction candidates, exact
    * cosine re-score, top-k.
    */
  val annSignLshOracle: String =
    s"""WITH ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
       |  FROM bb q JOIN bb n ON n.band = q.band AND n.bucket = q.bucket
       |  WHERE q.vec_id < $NQueries AND n.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, list_dot_product(eq.v, en.v) AS cos
       |  FROM cand c JOIN e eq ON eq.vec_id = c.query_id
       |  JOIN e en ON en.vec_id = c.neighbor_id)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Corpus-wide k-NN self-join (r14 — VERDICT r13 #3/#4): top-K
    * neighbors for EVERY document, not just a query handful — the
    * building block SemDeDup-style semantic dedup and kNN-LM pipelines
    * actually run, and what [[semdedup]] only did implicitly inside its
    * within-cluster pass. Candidate generation is the [[annSignLsh]]
    * OR-construction at the occupancy-derived banding ([[bitsFor]] ×
    * [[bandsFor]] — the gate 4×20 at gate corpus sizes, scaled buckets
    * beyond; measured query recall
    * 0.94–0.96 on this corpus): every pair cohabiting ANY band bucket is
    * exact-cosine scored in the buckets it shares, and each node keeps its
    * top-K by (cos DESC, neighbor). Self-join recall vs the exact
    * all-pairs baseline is measured and pinned ≥ 0.8 in DedupOpsSpec
    * (sf0.001: 0.9+).
    *
    * Scale shape: NEVER all-pairs, and no pair table — the build is the
    * fused [[bandedTopK]] kernel: bands × n vector-carrying band rows
    * through ONE (band, bucket) exchange, per-bucket exact scoring with a
    * bounded per-node top-K (dot work linear in bucket occupancy;
    * occupancy is the [[annLshOccupancy]]-audited knob), then ONE
    * node-keyed merge of at most bands × K rows per node. At 100 TB this
    * is the shape a full-corpus kNN materialization job runs: band-
    * partitioned verify → per-node TopK, both stages keyed and bounded.
    * Nodes with no bucket cohabitant anywhere emit no rows (correct for
    * LSH-kNN: they have no near neighbor at the banding's similarity
    * floor). Seeded sessions serve the
    * [[KnnLists]] materialization of this build (r15 — the production
    * artifact-serving shape); the inline build stays the unseeded path
    * and its honest cost stays bench-visible through
    * [[incrementalKnn]] / [[knnDeleteRepair]], which rebuild by design.
    */
  def knnJoin(s: SparkSession, dir: String): DataFrame = {
    val bits = derivedBits(s, dir)
    knnJoin(s, dir, bitsPerBand = bits, bands = bandsFor(bits), k = K)
  }

  def knnJoin(s: SparkSession, dir: String, bitsPerBand: Int,
      bands: Int, k: Int): DataFrame = {
    val emb = embeddings(s, dir)
    val w = Window.partitionBy(col("node"))
      .orderBy(col("ncos").desc, col("nbr"))
    bandedTopK(hnswBanded(emb, bitsPerBand, bands), emb, k)
      .withColumn("rank", row_number().over(w))
      .select(col("node").as("vec_id"), col("rank"),
        col("nbr").as("neighbor_id"), round(col("ncos"), 4).as("cos"))
      .orderBy("vec_id", "rank")
  }

  /** Full transliteration of [[knnJoin]]: md5-derived buckets, cohabiting
    * candidate pairs, exact re-score, per-node top-K.
    */
  val knnJoinOracle: String =
    s"""WITH ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
       |  FROM bb a JOIN bb b ON b.band = a.band AND b.bucket = a.bucket
       |   AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT c.node, c.nbr, list_dot_product(en.v, eb.v) AS cos
       |  FROM cand c JOIN e en ON en.vec_id = c.node
       |              JOIN e eb ON eb.vec_id = c.nbr)
       |SELECT vec_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT node AS vec_id, nbr AS neighbor_id, cos,
       |         row_number() OVER (PARTITION BY node
       |           ORDER BY cos DESC, nbr) AS rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY vec_id, rank""".stripMargin

  /** Delete maintenance for the kNN artifact (r14 — the
    * [[ClusterOps.deletePropagation]] question asked of the similarity
    * surface): when a delete batch lands (`vec_id % 10 = 3` — disjoint
    * from the insert family's `% 10 = 9` convention), a production
    * deployment does NOT rebuild the corpus-wide [[knnJoin]] lists — it
    * (a) drops the deleted nodes' own lists, (b) keeps every surviving
    * node whose top-K contains no deleted neighbor, and (c) REPAIRS only
    * the damaged nodes by re-probing THEIR buckets against survivors.
    * Repair ≡ rebuild exactly, by dominance: an undamaged node's top-K
    * over (candidates − deleted) is its original top-K (nothing it kept
    * was removed, and everything below stays below); a damaged node's
    * re-probe candidate set IS the rebuild's candidate set (banding is
    * per-vector). The oracle rebuilds the lists over survivors from
    * scratch; hash equality is the maintenance ≡ rebuild proof. Both the
    * artifact build and the repair run in this one query by design (the
    * `delete_propagation` / `incremental_dedup_edges`
    * recompute-vs-maintain demonstration convention).
    *
    * Scale shape: the artifact build is [[knnJoin]]'s banded top-K
    * kernel; damage detection is a semi-join of the n×K list table
    * against the delete ids; repair re-probes ONLY damaged nodes' bands
    * against surviving bands (the kernel again, damaged → survivors) —
    * |damaged banding| × bucket occupancy dots, not a second corpus
    * pass; the lists table is localCheckpointed (n×K rows) because
    * keep/damage/union all read it.
    */
  def knnDeleteRepair(s: SparkSession, dir: String): DataFrame = {
    val kk = K
    val emb = embeddings(s, dir)
    val isDel = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 3
    val bits = derivedBits(s, dir)
    // banded is read 4× (artifact self-join ×2 + repair probe ×2) but NOT
    // checkpointed (r18): since the banding spread repartition the pass is
    // a cheap parallel map, while the eager checkpoint serialized the whole
    // query into a job chain (A/B at 16k AQE floor: 4.5 s with / 3.1
    // without; the pre-r18 "6.38 with / 7.34 without" reading was taken
    // when everything ran single-core and recomputation was 4× a serial
    // pass)
    val banded = hnswBanded(emb, bits, bandsFor(bits))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("ncos").desc, col("nbr"))
    // the persisted artifact: every node's top-K lists (knn_join's build)
    val lists = bandedTopK(banded, emb, kk)
      .withColumn("rank", row_number().over(w))
      .localCheckpoint() // n×K rows; keep, damage, and union all read it
    val surviving = lists.filter(!isDel(col("node")))
    val damaged = surviving.filter(isDel(col("nbr")))
      .select(col("node")).distinct()
    val kept = surviving
      .join(damaged.select(col("node")), Seq("node"), "left_anti")
    // bounded repair: re-probe ONLY damaged nodes' buckets vs survivors
    val bandedDamaged = banded
      .join(damaged.select(col("node").as("vec_id")), Seq("vec_id"),
        "left_semi")
    val bandedSurvivors = banded.filter(!isDel(col("vec_id")))
    val repaired = bandedTopK(bandedDamaged, bandedSurvivors, emb, kk)
      .withColumn("rank", row_number().over(w))
    kept.unionByName(repaired)
      .select(col("node").as("vec_id"), col("rank"),
        col("nbr").as("neighbor_id"), round(col("ncos"), 4).as("cos"))
      .orderBy("vec_id", "rank")
  }

  /** The lists rebuilt over survivors from scratch — banding is
    * per-vector, so filtering the shared bucket CTE afterwards is the
    * survivor-only build; equality with the tombstone+repair path is the
    * proof.
    */
  val knnDeleteRepairOracle: String =
    s"""WITH ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |bs AS (SELECT vec_id, band, bucket FROM bb WHERE vec_id % 10 <> 3),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
       |  FROM bs a JOIN bs b ON b.band = a.band AND b.bucket = a.bucket
       |   AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT c.node, c.nbr, list_dot_product(en.v, eb.v) AS cos
       |  FROM cand c JOIN e en ON en.vec_id = c.node
       |              JOIN e eb ON eb.vec_id = c.nbr)
       |SELECT vec_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT node AS vec_id, nbr AS neighbor_id, cos,
       |         row_number() OVER (PARTITION BY node
       |           ORDER BY cos DESC, nbr) AS rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY vec_id, rank""".stripMargin

  /** Insert maintenance for the kNN lists artifact (r15 — VERDICT r14
    * #2, the dual of [[knnDeleteRepair]] and the op a production
    * SemDeDup ingest actually runs per batch): when an insert batch
    * lands (`vec_id % 10 = 9` — the insert-family convention,
    * disjoint from the delete family's `% 10 = 3`), the corpus-wide
    * [[knnJoin]] lists are NOT rebuilt — (a) each new vector gets its
    * own top-K list from its bucket probes against the whole banded
    * corpus, and (b) surviving nodes get a BOUNDED list update: only
    * delta-involving pairs (a survivor cohabiting a bucket with a new
    * vector) enter the re-rank, against the survivor's already-kept
    * top-K. Maintained ≡ rebuild exactly, by the [[HnswIndex.insert]]
    * pigeonhole read at k=K: a rebuild's top-K pick for a survivor is
    * either delta-involving (all present in the delta-scored set) or
    * base-base — and a base-base pair that outranks all but < K base
    * candidates was already inside the base artifact's kept top-K; a
    * new node's candidates are ALL delta-involving. Tie order
    * (cos DESC, neighbor) and the per-pair dot are the build's own, so
    * the selection is bit-identical — the oracle rebuilds the lists
    * over the UNION corpus from scratch and hash equality is the proof.
    * Both the base-artifact build and the maintenance run in this one
    * query by design (the `delete_propagation` /
    * `incremental_dedup_edges` recompute-vs-maintain convention).
    *
    * Scale shape: both eras are narrow filters of ONE banding pass
    * (checkpointed — the base build and the insert form's three reads
    * share it); the base build is [[knnJoin]]'s banded top-K kernel over
    * the base era; maintenance is the kernel's insert form
    * ([[bandedInsertTopK]]): base rows semi-joined to the delta's
    * buckets, base-base pairs never scored — |delta banding| × bucket
    * occupancy dots, never a second corpus pass; the re-rank window is
    * bounded by 2K rows per node.
    * With [[knnDeleteRepair]] this completes the artifact lifecycle:
    * the n×K lists table now has a build, an insert path, and a
    * delete+repair path, each proven hash-equal to the rebuild.
    */
  def incrementalKnn(s: SparkSession, dir: String): DataFrame = {
    val kk = K
    val emb = embeddings(s, dir)
    val isIns = pmod(col("vec_id"), lit(10)) === 9
    val bits = derivedBits(s, dir)
    val banded = hnswBanded(emb, bits, bandsFor(bits))
      .localCheckpoint() // the base build + the insert form's base,
                         // delta and delta-keys reads: one plan-time
                         // banding exchange for the four (r18 measured the
                         // checkpoint a wash at the parallel banding)
    val bandedBase = banded.filter(!isIns)
    val bandedDelta = banded.filter(isIns)
    val w = Window.partitionBy(col("node"))
      .orderBy(col("ncos").desc, col("nbr"))
    // the persisted artifact: the base era's top-K lists (knn_join's
    // build over the pre-arrival corpus; production loads it)
    val baseLists = bandedTopK(bandedBase, emb, kk)
    // delta-involving pairs only: (delta → any) ∪ (base → delta), the
    // disjoint split, so no pair takes two top-K slots
    baseLists.unionByName(bandedInsertTopK(bandedBase, bandedDelta, emb, kk))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kk)
      .select(col("node").as("vec_id"), col("rank"),
        col("nbr").as("neighbor_id"), round(col("ncos"), 4).as("cos"))
      .orderBy("vec_id", "rank")
  }

  /** The lists rebuilt over the UNION corpus from scratch — exactly
    * [[knnJoinOracle]]: the maintained artifact must be
    * indistinguishable from never having maintained at all.
    */
  val incrementalKnnOracle: String = knnJoinOracle

  /** Tombstone-damage audit of the kNN lists artifact (r15 — the numbers
    * [[graft.streaming.StreamingHnsw.maybeCompact]]'s policy reads, made
    * oracle-visible on the batch artifact): under the `% 10 = 3` delete
    * family, one row with the tombstoned fraction of the artifact's
    * nodes (dead lists still occupying the store), the live-edge damage
    * (edges whose neighbor is tombstoned — beam slots the tombstone
    * filter discards at serving time), and the resulting recall proxy.
    * Read against [[hnswTombstoneRecall]]'s measured end-to-end recall,
    * this is the cheap always-on alarm a deployment compacts on: it
    * costs one lists build + two aggregates — no query set, no exact
    * baseline.
    *
    * Scale shape: the lists build is [[knnJoin]]'s banded top-K kernel
    * (checkpointed — the node audit and the edge audit both read it);
    * the audits are ONE keyed distinct + two 1-row aggregates; the final
    * row is a broadcast scalar cross.
    */
  def knnDamageStats(s: SparkSession, dir: String): DataFrame = {
    val kk = K
    val emb = embeddings(s, dir)
    val isDel = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 3
    val bits = derivedBits(s, dir)
    val banded = hnswBanded(emb, bits, bandsFor(bits))
    val lists = bandedTopK(banded, emb, kk)
      .select(col("node"), col("nbr"))
      .localCheckpoint() // node audit + edge audit both read it;
                         // measured sf0.1 warm: 3.58 s with / 3.99 without
    val nodeAgg = lists.select(col("node")).distinct()
      .agg(count(lit(1)).as("n_nodes"),
        count(when(isDel(col("node")), lit(1))).as("n_dead"))
    val edgeAgg = lists.filter(!isDel(col("node")))
      .agg(count(lit(1)).as("n_live_edges"),
        sum(when(isDel(col("nbr")), lit(1L)).otherwise(lit(0L)))
          .as("n_damaged_edges"))
    nodeAgg.crossJoin(broadcast(edgeAgg))
      .select(col("n_nodes"), col("n_dead"),
        // exact integer ppm, not round(int/int, 6) DOUBLEs: integer
        // ratios can land exactly on a .5 µ rounding boundary, where
        // the engine and the oracle disagree per their doubles'
        // rounding (the r16 pack_sequences red-row class — swept out
        // of the registry at r17)
        expr("n_dead * 1000000L div n_nodes").as("tomb_ppm"),
        col("n_live_edges"), col("n_damaged_edges"),
        expr("n_damaged_edges * 1000000L div n_live_edges")
          .as("damage_ppm"),
        expr("(n_live_edges - n_damaged_edges) * 1000000L div n_live_edges")
          .as("recall_ppm"))
  }

  /** The same lists, the same two audits, restated over the shared
    * bucket CTE chain.
    */
  val knnDamageStatsOracle: String =
    s"""WITH ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
       |  FROM bb a JOIN bb b ON b.band = a.band AND b.bucket = a.bucket
       |   AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT c.node, c.nbr, list_dot_product(en.v, eb.v) AS cos
       |  FROM cand c JOIN e en ON en.vec_id = c.node
       |              JOIN e eb ON eb.vec_id = c.nbr),
       |lists AS (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |           row_number() OVER (PARTITION BY node
       |             ORDER BY cos DESC, nbr) AS rank
       |    FROM scored)
       |  WHERE rank <= $K),
       |nodes AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |         CAST(count(CASE WHEN node % 10 = 3 THEN 1 END) AS BIGINT)
       |           AS n_dead
       |  FROM (SELECT DISTINCT node FROM lists)),
       |edges AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_live_edges,
       |         CAST(sum(CASE WHEN nbr % 10 = 3 THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_damaged_edges
       |  FROM lists WHERE node % 10 <> 3)
       |SELECT n_nodes, n_dead,
       |       CAST(n_dead * 1000000 // n_nodes AS BIGINT) AS tomb_ppm,
       |       n_live_edges, n_damaged_edges,
       |       CAST(n_damaged_edges * 1000000 // n_live_edges AS BIGINT)
       |         AS damage_ppm,
       |       CAST((n_live_edges - n_damaged_edges) * 1000000
       |         // n_live_edges AS BIGINT) AS recall_ppm
       |FROM nodes, edges""".stripMargin

  /** Mutual-kNN graph with shared-neighbor strength (r15 — the SNN
    * primitive: Jarvis–Patrick / SNN-DBSCAN build exactly this from the
    * kNN lists, and SemDeDup variants symmetrize to mutual edges to cut
    * hub-induced false merges): a pair is MUTUAL iff each is in the
    * other's top-K, and its SNN strength is |top-K(a) ∩ top-K(b)| —
    * hubness-robust where raw cosine is not (a hub cohabits everyone's
    * list; a genuine near-pair SHARES neighbors). Emits each mutual pair
    * once (a < b) with its cosine and shared-neighbor count.
    *
    * Scale shape: the FIRST pure artifact consumer — every input is the
    * n×K [[KnnLists]] table (seeded sessions never touch the corpus or
    * banding at all): mutuality is one id-keyed semi-join of the lists
    * against their reversal, the SNN count one keyed join-join-aggregate
    * over K-bounded lists. At 100 TB this runs entirely on the
    * materialized kNN artifact — the production shape for every
    * lists-derived graph analytic.
    */
  def knnMutual(s: SparkSession, dir: String): DataFrame = {
    val lists = KnnLists.lists(s, dir)
      .select(col("vec_id").as("node"), col("neighbor_id").as("nbr"),
        col("cos"))
      .localCheckpoint() // 4 consumers (mutual semi ×2, SNN join ×2):
                         // seeded it's a wash (sf0.1 warm 0.51 with /
                         // 0.45 without — 4 reads of a tiny artifact)
                         // but UNSEEDED the 4 consumers would each
                         // re-run the full lists build — the skew_stats
                         // local-wash-isn't-scale-safe lesson
    val rev = lists.select(col("nbr").as("node"), col("node").as("nbr"))
    val mut = lists.filter(col("node") < col("nbr"))
      .join(rev, Seq("node", "nbr"), "left_semi")
      .select(col("node").as("va"), col("nbr").as("vb"), col("cos"))
    val shared = mut.select(col("va"), col("vb"))
      .join(lists.select(col("node").as("va"), col("nbr").as("x")), "va")
      .join(lists.select(col("node").as("vb"), col("nbr").as("x")),
        Seq("vb", "x"))
      .groupBy(col("va"), col("vb")).agg(count(lit(1)).as("shared_k"))
    mut.join(shared, Seq("va", "vb"), "left")
      .na.fill(0L, Seq("shared_k"))
      .select(col("va").as("vec_id_a"), col("vb").as("vec_id_b"),
        col("cos"), col("shared_k"))
      .orderBy("vec_id_a", "vec_id_b")
  }

  /** The same mutuality and SNN count restated over the lists CTE. */
  val knnMutualOracle: String =
    s"""WITH ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
       |  FROM bb a JOIN bb b ON b.band = a.band AND b.bucket = a.bucket
       |   AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT c.node, c.nbr, list_dot_product(en.v, eb.v) AS cos
       |  FROM cand c JOIN e en ON en.vec_id = c.node
       |              JOIN e eb ON eb.vec_id = c.nbr),
       |lists AS (
       |  SELECT node, nbr, round(cos, 4) AS cos FROM (
       |    SELECT node, nbr, cos,
       |           row_number() OVER (PARTITION BY node
       |             ORDER BY cos DESC, nbr) AS rank
       |    FROM scored)
       |  WHERE rank <= $K),
       |mut AS (
       |  SELECT a.node AS va, a.nbr AS vb, a.cos
       |  FROM lists a JOIN lists b ON b.node = a.nbr AND b.nbr = a.node
       |  WHERE a.node < a.nbr),
       |shared AS (
       |  SELECT m.va, m.vb, count(*) AS shared_k
       |  FROM mut m JOIN lists x ON x.node = m.va
       |             JOIN lists y ON y.node = m.vb AND y.nbr = x.nbr
       |  GROUP BY m.va, m.vb)
       |SELECT m.va AS vec_id_a, m.vb AS vec_id_b, m.cos,
       |       CAST(coalesce(s.shared_k, 0) AS BIGINT) AS shared_k
       |FROM mut m LEFT JOIN shared s ON s.va = m.va AND s.vb = m.vb
       |ORDER BY vec_id_a, vec_id_b""".stripMargin

  /** Jarvis–Patrick SNN clustering (r15 — the classic shared-nearest-
    * neighbor algorithm run on the [[knnMutual]] graph): two vectors
    * cluster together iff they are MUTUAL k-neighbors sharing at least
    * `SnnMinShared` of their top-K lists, components closed
    * transitively — the density-from-shared-context definition that
    * survives hubness and varying local density where a raw cosine
    * threshold ([[semdedupKnn]]) does not. Emits each clustered vector
    * with its min-id representative and the keep/drop verdict.
    *
    * Scale shape: the edge set is [[knnMutual]] (artifact-only, K-
    * bounded per node) filtered by a scalar; the closure is the audited
    * Borůvka hook-compress-contract ([[ClusterOps]]) — joins-only,
    * O(log diameter) levels. The oracle composes the mutual/SNN CTEs
    * with the recursive closure verbatim. The threshold is calibrated
    * to this corpus's measured shared_k distribution (max 2 at both
    * gate SFs — 64-dim near-uniform vectors shard the lists).
    */
  private[graft] val SnnMinShared = 2

  def snnClusters(s: SparkSession, dir: String): DataFrame =
    ClusterOps.clustersOver(
        knnMutual(s, dir)
          .filter(col("shared_k") >= SnnMinShared)
          .select(col("vec_id_a").as("doc_a"), col("vec_id_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_rep"), col("keep"))
      .orderBy("vec_id")

  val snnClustersOracle: String =
    s"""WITH RECURSIVE ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
       |  FROM bb a JOIN bb b ON b.band = a.band AND b.bucket = a.bucket
       |   AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT c.node, c.nbr, list_dot_product(en.v, eb.v) AS cos
       |  FROM cand c JOIN e en ON en.vec_id = c.node
       |              JOIN e eb ON eb.vec_id = c.nbr),
       |lists AS (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |           row_number() OVER (PARTITION BY node
       |             ORDER BY cos DESC, nbr) AS rank
       |    FROM scored)
       |  WHERE rank <= $K),
       |mut AS (
       |  SELECT a.node AS va, a.nbr AS vb
       |  FROM lists a JOIN lists b ON b.node = a.nbr AND b.nbr = a.node
       |  WHERE a.node < a.nbr),
       |pairs AS (
       |  SELECT m.va AS doc_a, m.vb AS doc_b
       |  FROM mut m JOIN lists x ON x.node = m.va
       |             JOIN lists y ON y.node = m.vb AND y.nbr = x.nbr
       |  GROUP BY m.va, m.vb
       |  HAVING count(*) >= $SnnMinShared),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM pairs),
       |reach(src, dst) AS (
       |  SELECT u AS src, u AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
       |SELECT src AS vec_id, min(dst) AS cluster_rep,
       |       src = min(dst) AS keep
       |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin

  /** Sign-LSH bucket-occupancy audit (r14 — the `dedup_lsh_tune` genre
    * for the VECTOR banding): every sign-LSH consumer's cost is linear
    * in bucket occupancy — candidate volume is Σ c·(c−1) over bucket
    * sizes c — so this per-band table (bucket count, max/mean occupancy,
    * exact directed candidate-pair mass) is the number that PREDICTS
    * [[knnJoin]] / [[hnswOutInline]] / [[annSignLsh]] work before
    * running it, and the knob an operator re-tunes `bitsPerBand` against
    * when a corpus grows or drifts denser. At the search banding (4×20)
    * a band has ≤ 16 buckets; a `max_occ` approaching n says that band
    * contributes near-quadratic candidates and the banding needs more
    * bits.
    *
    * Scale shape: ONE narrow banding pass + one (band, bucket)-keyed
    * count + one band-keyed rollup — no joins at all; the audit costs
    * less than any consumer it predicts.
    */
  def annLshOccupancy(s: SparkSession, dir: String): DataFrame = {
    val bits = derivedBits(s, dir)
    annLshOccupancy(s, dir, bitsPerBand = bits, bands = bandsFor(bits))
  }

  def annLshOccupancy(s: SparkSession, dir: String, bitsPerBand: Int,
      bands: Int): DataFrame = {
    val emb = embeddings(s, dir)
    hnswBanded(emb, bitsPerBand, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("c")).as("max_occ"),
        round(avg(col("c")), 4).as("mean_occ"),
        sum(col("c") * (col("c") - 1)).as("cand_pairs"))
      .orderBy("band")
  }

  val annLshOccupancyOracle: String =
    s"""WITH ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |occ AS (
       |  SELECT band, bucket, count(*) AS c
       |  FROM bb GROUP BY band, bucket)
       |SELECT CAST(band AS INT) AS band, count(*) AS n_buckets,
       |       CAST(max(c) AS BIGINT) AS max_occ,
       |       round(avg(c), 4) AS mean_occ,
       |       CAST(sum(c * (c - 1)) AS BIGINT) AS cand_pairs
       |FROM occ GROUP BY band ORDER BY band""".stripMargin

  /** Audit resolution of [[annBandPlan]]: every candidate config's
    * bucket id is the low-k-bit slice of one 8-bit banding pass.
    */
  private[graft] val BandPlanBits = 8

  /** Bands the plan averages over — occupancy statistics are
    * plane-agnostic in distribution, so a handful of bands stabilizes
    * the estimate without paying the full production band count.
    */
  private[graft] val BandPlanBands = 4

  /** The occupancy band the r16 sf1 probe measured the kNN builds
    * running LINEAR at (sf0.1's ~125/bucket met its floor; 10× data at
    * fixed 16 buckets → ~1250/bucket → ×20–37 runtime; bits=7 → ~156 →
    * 11× recovered — BASELINE.md r16 sf1 row, SCALE.md r16 section).
    */
  private[graft] val BandPlanOccTarget = 160.0

  /** Banding PLANNER (r16 — the operational form of the sf1 scaling
    * finding): [[annLshOccupancy]] watches ONE config after the fact;
    * this plans ACROSS configs before a build. For every bits-per-band
    * k in 2..[[BandPlanBits]]: occupied-bucket mean/max occupancy and
    * the exact directed candidate mass Σ c·(c−1) per band — the number
    * that PREDICTS every sign-LSH consumer's cogroup cost — plus the
    * projection to the shipped [[KnnBands]]-band build and the verdict
    * against [[BandPlanOccTarget]]. The production rule this table
    * encodes (measured at sf1, `scripts/probe_r16_scale.log`): hold
    * occupancy ~constant by growing bits with log(corpus) — candidate
    * mass at fixed buckets grows ∝ n² — and buy recall with bands
    * (linear cost), never with occupancy (quadratic).
    *
    * Scale shape: ONE narrow banding pass at the audit resolution; each
    * coarser config's bucket is the low-k-bit slice of the 8-bit id
    * (a 7-row explode per banded row — occupancy statistics only need
    * SOME k planes per band, not the production plane set); one
    * (bits, band, bucket)-keyed count + one bits-keyed rollup. No
    * joins; costs less than any build it plans.
    */
  def annBandPlan(s: SparkSession, dir: String): DataFrame = {
    // aggregate the 8-bit occupancy FIRST (corpus -> <= bands*2^8 rows),
    // THEN fan out the 7 configs over that tiny table — exploding the
    // corpus-scale banded rows 7x before the first aggregate paid 7x
    // the map-side work for identical stats (r16 review)
    val occ8 = hnswBanded(embeddings(s, dir), BandPlanBits, BandPlanBands)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("c8"))
    val occ = occ8
      .select(col("band"), col("bucket"), col("c8"),
        explode(array((2 to BandPlanBits).map(lit): _*)).as("bits"))
      .select(col("bits"), col("band"),
        expr("pmod(bucket, shiftleft(1, bits))").as("kb"), col("c8"))
      .groupBy(col("bits"), col("band"), col("kb"))
      .agg(sum(col("c8")).as("c"))
    occ.groupBy(col("bits"))
      .agg(
        round(avg(col("c")), 2).as("mean_occ"),
        max(col("c")).as("max_occ"),
        round(sum(col("c") * (col("c") - 1)).cast("double") /
          BandPlanBands, 2).as("cand_per_band"))
      .select(col("bits"), col("mean_occ"), col("max_occ"),
        col("cand_per_band"),
        round(col("cand_per_band") * KnnBands, 2).as("est_candidates"),
        (col("mean_occ") <= BandPlanOccTarget).as("occ_ok"))
      .orderBy("bits")
  }

  val annBandPlanOracle: String =
    s"""WITH ${signLshBucketsOracleCte(BandPlanBits, BandPlanBands)},
       |ks AS (SELECT k FROM unnest(generate_series(2, $BandPlanBits)) t(k)),
       |occ8 AS (
       |  SELECT band, bucket, count(*) AS c8 FROM bb GROUP BY 1, 2),
       |occ AS (
       |  SELECT k, band, bucket % (1 << k) AS kb, sum(c8) AS c
       |  FROM occ8, ks GROUP BY 1, 2, 3),
       |per AS (
       |  SELECT CAST(k AS INT) AS bits,
       |         round(avg(c), 2) AS mean_occ,
       |         CAST(max(c) AS BIGINT) AS max_occ,
       |         round(CAST(sum(c * (c - 1)) AS DOUBLE) / $BandPlanBands, 2)
       |           AS cand_per_band
       |  FROM occ GROUP BY k)
       |SELECT bits, mean_occ, max_occ, cand_per_band,
       |       round(cand_per_band * $KnnBands, 2) AS est_candidates,
       |       mean_occ <= $BandPlanOccTarget AS occ_ok
       |FROM per ORDER BY bits""".stripMargin

  /** SemDeDup-proper cluster formation over the kNN artifact (r14 —
    * Abbas et al. 2023's actual pipeline shape: build the semantic
    * neighbor graph, threshold it, take connected components, keep one
    * representative per component): [[knnJoin]]'s corpus-wide top-K
    * lists filtered at cosine ≥ 0.35 (the [[DedupOps.semDedup]] family
    * threshold) become the edge set, and the audited Borůvka
    * hook-compress-contract closure ([[ClusterOps]]) labels every
    * clustered vector with its min-id representative and the keep/drop
    * verdict. Complements [[DedupOps.semDedup]] (cluster-seeded GREEDY
    * min-id drop — cheap, transitive-closure-free) with the exact
    * component semantics a dedup audit wants: A~B~C all land in ONE
    * cluster even when cos(A,C) < τ.
    *
    * Scale shape: the edge set is the knn artifact (the banded top-K
    * kernel, never all-pairs; K-bounded per node, so |edges| ≤ K·n), and
    * the closure is the node-sized CC machinery every dedup_clusters query
    * already runs — joins-only, O(log diameter) levels, propagation
    * behind localCheckpoints. The oracle composes the knn
    * transliteration with the recursive-CTE closure verbatim.
    */
  def semdedupKnn(s: SparkSession, dir: String): DataFrame =
    ClusterOps.clustersOver(
        KnnLists.lists(s, dir) // the materialized artifact when seeded
          .filter(col("cos") >= SemDedupCos)
          .select(col("vec_id").as("doc_a"), col("neighbor_id").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_rep"), col("keep"))
      .orderBy("vec_id")

  val semdedupKnnOracle: String =
    s"""WITH RECURSIVE ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
       |  FROM bb a JOIN bb b ON b.band = a.band AND b.bucket = a.bucket
       |   AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT c.node, c.nbr, list_dot_product(en.v, eb.v) AS cos
       |  FROM cand c JOIN e en ON en.vec_id = c.node
       |              JOIN e eb ON eb.vec_id = c.nbr),
       |lists AS (
       |  SELECT node, nbr, cos FROM (
       |    SELECT node, nbr, cos,
       |           row_number() OVER (PARTITION BY node
       |             ORDER BY cos DESC, nbr) AS rank
       |    FROM scored)
       |  WHERE rank <= $K),
       |pairs AS (
       |  SELECT node AS doc_a, nbr AS doc_b FROM lists
       |  WHERE round(cos, 4) >= $SemDedupCos),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM pairs),
       |reach(src, dst) AS (
       |  SELECT u AS src, u AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
       |SELECT src AS vec_id, min(dst) AS cluster_rep,
       |       src = min(dst) AS keep
       |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin

  /** Tombstoned-serving recall audit for the graph index (r14 — the
    * SERVING side of the delete story [[knnDeleteRepair]] answers for
    * the kNN artifact): real HNSW deployments (hnswlib, FAISS) handle
    * deletes by TOMBSTONING — deleted nodes stay in the graph as
    * traversal waypoints but are filtered from results — and compact
    * only when degradation warrants the rebuild. This query measures
    * exactly that degradation: the shipped best-first beam runs over the
    * INTACT graph, deleted nodes (`vec_id % 10 = 3`, the delete-family
    * convention) are dropped from the final beam, and the surviving
    * top-K is scored against the exact top-K over survivors — per
    * surviving query, `hits` and `recall`. Read against
    * [[annHnswTopk]]'s intact-graph 0.96–1.0 recall, the gap IS the
    * compaction trigger a deployment alarms on.
    *
    * Scale shape: one audited beam search (per-round work bounded by
    * beamWidth·degree per query) + the exact baseline's broadcast-
    * queries × survivor-corpus pass (the [[annCosineTopk]] shape — the
    * ground truth is the audit's deliberate cost, queries are a bounded
    * broadcast); the recall join touches K rows per query. The oracle
    * restates the same beam via the shared CTE chain and filters the
    * SAME final beam — both engines rank the identical candidate set.
    */
  def hnswTombstoneRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val isDel = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 3
    val (hBits, hBands) = HnswIndex.derivedConfig(s, dir)
    val beam = annHnswBeam(s, dir, bitsPerBand = hBits,
      bands = hBands, degree = HnswIndex.Degree,
      levelMod = HnswIndex.LevelMod, entries = HnswIndex.Entries,
      beamWidth = HnswIndex.BeamWidth, rounds = HnswIndex.Rounds)
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    val ttop = beam
      .filter(col("node") =!= col("query_id") &&
        !isDel(col("node")) && !isDel(col("query_id")))
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= K)
      .select(col("query_id"), col("node"))
    val qs = emb.filter(col("vec_id") < NQueries && !isDel(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = emb.filter(!isDel(col("vec_id")))
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("node"),
        dot(col("qv"), col("v")).as("cos"))
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= K)
      .select(col("query_id"), col("node"))
    val hits = ttop.join(exact, Seq("query_id", "node"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    qs.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("query_id"), col("hits"),
        round(col("hits").cast("double") / K, 4).as("recall"))
      .orderBy("query_id")
  }

  /** The same final beam filtered the same way, against the same exact
    * survivor baseline — per-query hit counts value-checked.
    */
  val hnswTombstoneRecallOracle: String = {
    val r = HnswIndex.Rounds
    s"""WITH ${annHnswBeamCtes(degree = HnswIndex.Degree,
      levelMod = HnswIndex.LevelMod, entries = HnswIndex.Entries,
      beamWidth = HnswIndex.BeamWidth, rounds = r)},
       |ttop AS (
       |  SELECT query_id, node FROM (
       |    SELECT s.query_id, s.node,
       |           row_number() OVER (PARTITION BY s.query_id
       |             ORDER BY s.cos DESC, s.node) AS rk
       |    FROM s$r s JOIN b$r b ON b.query_id = s.query_id
       |                         AND b.node = s.node
       |    WHERE s.node <> s.query_id AND s.node % 10 <> 3
       |      AND s.query_id % 10 <> 3)
       |  WHERE rk <= $K),
       |qs AS (SELECT query_id FROM q WHERE query_id % 10 <> 3),
       |exact AS (
       |  SELECT query_id, node FROM (
       |    SELECT q.query_id, c.vec_id AS node,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY list_dot_product(q.qv, c.v) DESC,
       |                      c.vec_id) AS rk
       |    FROM q JOIN e c ON c.vec_id <> q.query_id
       |                   AND c.vec_id % 10 <> 3
       |    WHERE q.query_id % 10 <> 3)
       |  WHERE rk <= $K),
       |hits AS (
       |  SELECT t.query_id, count(*) AS hits
       |  FROM ttop t JOIN exact x ON x.query_id = t.query_id
       |                          AND x.node = t.node
       |  GROUP BY t.query_id)
       |SELECT qs.query_id,
       |       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |       round(coalesce(h.hits, 0) / CAST($K AS DOUBLE), 4) AS recall
       |FROM qs LEFT JOIN hits h ON h.query_id = qs.query_id
       |ORDER BY qs.query_id""".stripMargin
  }

  /** Per-label embedding centroids — the coarse-quantizer training step an
    * IVF index needs ([[annIvfTopk]] consumes exactly these buckets), and
    * the per-cluster drift monitor of an embedding pipeline. Emits per
    * label the vector count, the L2 norm of the centroid (mean vector) and
    * the mean per-vector L2 norm — centroid norm ≪ mean norm flags a
    * label whose members point in scattered directions.
    *
    * Scale shape: `posexplode` fans each vector to (label, dim) rows — 64×
    * row growth but constant width — then TWO map-side-combined keyed
    * aggregations on (label, dim) and label. No window, no driver-side
    * vectors; at 1000 executors each partial aggregate carries ≤
    * labels × dims rows. Sums are rounded at 5 decimals: the per-dimension
    * accumulation order differs between engines, but doubles carry ~13
    * significant digits against values of magnitude ~0.1.
    */
  def embeddingCentroids(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        toDoubleArray(col("embedding")).as("v"))
    val byDim = emb
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("m"))
    val centroidNorm = byDim.groupBy("label")
      .agg(sqrt(sum(col("m") * col("m"))).as("centroid_norm"))
    val vecNorm = emb
      .select(col("label"),
        sqrt(aggregate(col("v"), lit(0.0d),
          (acc, x) => acc + x * x)).as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), avg(col("norm")).as("avg_vec_norm"))
    vecNorm.join(centroidNorm, "label")
      .select(col("label"), col("n_vecs"),
        round(col("centroid_norm"), 5).as("centroid_norm"),
        round(col("avg_vec_norm"), 5).as("avg_vec_norm"))
      .orderBy("label")
  }

  val embeddingCentroidsOracle: String =
    s"""WITH bydim AS (
       |  SELECT label, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
       |  FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) t(i)
       |  GROUP BY label, i),
       |cn AS (
       |  SELECT label, sqrt(sum(m * m)) AS centroid_norm FROM bydim GROUP BY label),
       |vn AS (
       |  SELECT label, count(*) AS n_vecs,
       |         avg(sqrt(list_sum(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS avg_vec_norm
       |  FROM embeddings GROUP BY label)
       |SELECT label, n_vecs,
       |       round(centroid_norm, 5) AS centroid_norm,
       |       round(avg_vec_norm, 5) AS avg_vec_norm
       |FROM vn JOIN cn USING (label) ORDER BY label""".stripMargin

  /** One Lloyd's iteration of k-means (k = 8, seeded on the first k
    * vectors) — the distributed-ML pattern every embedding pipeline runs:
    * centroids BROADCAST to every executor, each vector scored against all
    * k in a narrow pass, assignment by argmin, then per-cluster occupancy
    * and inertia in one keyed aggregation. No driver-side vectors, no
    * shuffle of the embedding table — per iteration the only exchange is
    * the k-row aggregate.
    *
    * Engine parity: distances are Σ(x−y)² (NOT the |a|²+|b|²−2ab identity,
    * which cancels catastrophically for near-duplicate vectors and
    * diverges from the oracle's accumulation), rounded to 6 before the
    * argmin; ties break on centroid id via struct/tuple ordering in both
    * engines.
    */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    emb.crossJoin(broadcast(cents))
      .withColumn("dist",
        round(squaredDistance(col("v"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cluster"),
        min(col("dist")).as("min_dist"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("min_dist")), 4).as("inertia"))
      .orderBy("cluster")
  }

  val kmeansStepOracle: String =
    """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      |      WHERE vec_id < 8),
      |d AS (
      |  SELECT e.vec_id, c.cid,
      |         round(sum((CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
      |                 * (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))), 6)
      |           AS dist
      |  FROM e, c, LATERAL unnest(generate_series(1, len(v))) t(i)
      |  GROUP BY e.vec_id, c.cid),
      |a AS (
      |  SELECT vec_id, cid AS cluster, dist AS min_dist,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
      |           AS rn
      |  FROM d)
      |SELECT cluster, count(*) AS n_members,
      |       round(sum(min_dist), 4) AS inertia
      |FROM a WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin

  /** Multi-iteration Lloyd's k-means (k = 8, seeded on the first k
    * vectors) — [[kmeansStep]] driven to N rounds, the converged-loop
    * pattern [[ClusterOps]] established (localCheckpoint per round against
    * lineage blowup). Emits per-round cluster occupancy and inertia, the
    * monotone-descent trace a training pipeline monitors.
    *
    * Scale shape, per round: ONE pass over the corpus. The broadcast-
    * centroid cross join + argmin is the only corpus-sized shuffle; the
    * posexplode fans the assigned vectors to (cluster, dim) rows whose
    * keyed aggregation produces BOTH the round summary (count/inertia read
    * off the pos=0 rows — dims are uniform, so any one position sees every
    * member exactly once) and the next round's centroids. That k×d-row
    * aggregate is `localCheckpoint`ed eagerly: one job per round, the
    * summary and the update both read the tiny checkpoint blocks, the next
    * round's plan starts from k×d rows instead of a growing lineage, and
    * the driver never holds a vector.
    *
    * Engine parity: distances as in [[kmeansStep]] (Σ(x−y)² rounded to 6,
    * cid tie-break); updated centroid components are means rounded to 6
    * (damps cross-engine accumulation-order ulps, and makes round-2 input
    * exactly reproducible); inertia rounded to 4.
    */
  /** One Lloyd round: assign to broadcast centroids, reduce to the
    * checkpointed (cluster, pos) table carrying the per-dim mean, member
    * count, and round inertia — the shared kernel of [[kmeansIterate]]
    * and [[kmeansConverged]].
    */
  private[graft] def kmeansRound(emb: DataFrame, cents: DataFrame,
      eager: Boolean = true): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("dist", round(squaredDistance(col("v"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(
        min_by(struct(col("cid").as("cluster"), col("v")),
          struct(col("dist"), col("cid"))).as("m"),
        min(col("dist")).as("min_dist"))
      .select(col("m.cluster").as("cluster"), col("m.v").as("v"),
        col("min_dist"))
      .select(col("cluster"), col("min_dist"), posexplode(col("v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(avg(col("col")).as("m"), count(lit(1)).as("n"),
        round(sum(col("min_dist")), 4).as("inertia"))
      // eager for the fixed-round iterate (construction-runs-jobs); the
      // convergence loop passes eager=false so its per-round scalar probe
      // is the materializing action — ONE job per round instead of two
      // (the ClusterOps contract-count pattern, r19)
      .localCheckpoint(eager)

  /** The k-row array-form centroid table the next round broadcasts. */
  private[graft] def centsOf(byDim: DataFrame): DataFrame =
    byDim
      .select(col("cluster"), col("pos"), round(col("m"), 6).as("m"))
      .groupBy(col("cluster"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
      .select(col("cluster").as("cid"), col("cv"))

  private[graft] def roundSummary(byDim: DataFrame, r: Int): DataFrame =
    byDim.filter(col("pos") === 0)
      .select(lit(r).as("iter"), col("cluster"),
        col("n").as("n_members"), col("inertia"))

  def kmeansIterate(s: SparkSession, dir: String,
      k: Int = 8, rounds: Int = 2): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val byDim = kmeansRound(emb, cents)
      val summary = roundSummary(byDim, r)
      out = if (out == null) summary else out.unionByName(summary)
      if (r < rounds) cents = centsOf(byDim)
    }
    out.orderBy("iter", "cluster")
  }

  /** Lloyd's driven TO CONVERGENCE — the `iterate(n)` wrapper completed
    * (VERDICT r4 #4): rounds run until the largest per-component centroid
    * move drops below ε (or maxRounds), emitting the same per-round
    * occupancy/inertia trace as [[kmeansIterate]] for however many rounds
    * that took. The stopping probe is a 1-row MAX over the k×d joined
    * consecutive centroid tables — a scalar driver action per round, the
    * [[ClusterOps]] convergence-probe discipline (the corpus itself never
    * reaches the driver); state between rounds is the checkpointed k×d
    * table, so lineage stays flat no matter how many rounds ε demands.
    * Because rounds-to-converge is data-dependent, no static SQL unroll
    * can oracle this query — it ships rows-only, pinned in ScalaTest
    * against [[kmeansIterate]]'s oracle-verified trace at the observed
    * round count plus the convergence criterion itself.
    */
  def kmeansConverged(s: SparkSession, dir: String, k: Int = 8,
      eps: Double = 1e-2, maxRounds: Int = 15): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    var out: DataFrame = null
    var r = 0
    var shift = Double.MaxValue
    while (shift >= eps && r < maxRounds) {
      r += 1
      // lazy checkpoint: the shift probe below materializes the round's
      // k×d table in the SAME job that computes the scalar (was: eager
      // checkpoint job + probe job per round)
      val byDim = kmeansRound(emb, cents, eager = false)
      val next = centsOf(byDim)
      // 1-row scalar probe: max |Δcomponent| between consecutive rounds
      shift = next.select(col("cid"), posexplode(col("cv")).as(Seq("pos", "m")))
        .join(cents.select(col("cid"),
          posexplode(col("cv")).as(Seq("pos", "m0"))), Seq("cid", "pos"))
        .agg(max(abs(col("m") - col("m0")))).collect()(0).getDouble(0)
      // the round's shift rides on its summary rows (r11) so the stopping
      // criterion is part of the OUTPUT. This query is in the no-oracle
      // set (the round count is data-dependent, so no static SQL unroll
      // can oracle it) — the criterion is verified by IterativeOpsSpec
      // instead: shift ≥ eps on every emitted round but the last, < eps
      // on the last (readable straight off the result)
      val summary = roundSummary(byDim, r)
        .withColumn("shift", round(lit(shift), 6))
      out = if (out == null) summary else out.unionByName(summary)
      cents = next
    }
    out.orderBy("iter", "cluster")
  }

  def kmeans2Step(s: SparkSession, dir: String): DataFrame =
    kmeansIterate(s, dir, k = 8, rounds = 2)

  /** N=2 unrolled in CTEs: assign → summarize → per-dimension mean
    * centroids → re-assign → summarize.
    */
  val kmeans2StepOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      |d1 AS (
      |  SELECT e.vec_id, c0.cid,
      |         round(sum((v[i] - cv[i]) * (v[i] - cv[i])), 6) AS dist
      |  FROM e, c0, LATERAL unnest(generate_series(1, len(v))) t(i)
      |  GROUP BY e.vec_id, c0.cid),
      |a1 AS (
      |  SELECT vec_id, cid AS cluster, dist AS min_dist,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
      |           AS rn
      |  FROM d1),
      |s1 AS (
      |  SELECT 1 AS iter, cluster, count(*) AS n_members,
      |         round(sum(min_dist), 4) AS inertia
      |  FROM a1 WHERE rn = 1 GROUP BY cluster),
      |m1 AS (
      |  SELECT a.cluster, t.i AS pos, round(avg(v[i]), 6) AS m
      |  FROM (SELECT vec_id, cluster FROM a1 WHERE rn = 1) a
      |  JOIN e USING (vec_id),
      |  LATERAL unnest(generate_series(1, len(v))) t(i)
      |  GROUP BY a.cluster, t.i),
      |c1 AS (SELECT cluster AS cid, list(m ORDER BY pos) AS cv
      |       FROM m1 GROUP BY cluster),
      |d2 AS (
      |  SELECT e.vec_id, c1.cid,
      |         round(sum((v[i] - cv[i]) * (v[i] - cv[i])), 6) AS dist
      |  FROM e, c1, LATERAL unnest(generate_series(1, len(v))) t(i)
      |  GROUP BY e.vec_id, c1.cid),
      |a2 AS (
      |  SELECT vec_id, cid AS cluster, dist AS min_dist,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
      |           AS rn
      |  FROM d2),
      |s2 AS (
      |  SELECT 2 AS iter, cluster, count(*) AS n_members,
      |         round(sum(min_dist), 4) AS inertia
      |  FROM a2 WHERE rn = 1 GROUP BY cluster)
      |SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |ORDER BY iter, cluster""".stripMargin

  /** One power-iteration step toward the corpus's top principal component:
    * w¹ ∝ Σᵢ vᵢ·(vᵢ·w⁰) from the deterministic uniform seed w⁰ = 1/√d —
    * the distributed-linear-algebra kernel under PCA/spectral embedding
    * whitening. Emits the unit-normalized 64 components.
    *
    * Scale shape: NO d×d covariance matrix is ever materialized (at larger
    * d that object is the scale killer) — one narrow pass computes each
    * vector's scalar projection s=v·w, a posexplode + keyed sum reduces
    * Σ vᵢsᵢ to d rows, and the normalization constant is a 1-row broadcast.
    * Vectors shuffle only as (pos, x·s) partials with map-side combine.
    */
  def powerIteration(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
    val d = 64
    val seed = 1.0 / math.sqrt(d.toDouble)
    val projected = emb.withColumn("s",
      aggregate(col("v"), lit(0.0), (acc, x) => acc + x * lit(seed)))
    val byDim = projected
      .select(col("s"), posexplode(col("v")))
      .groupBy(col("pos"))
      .agg(sum(col("col") * col("s")).as("w_raw"))
    val nrm = byDim.agg(sqrt(sum(col("w_raw") * col("w_raw"))).as("nrm"))
    byDim.crossJoin(broadcast(nrm))
      .select(col("pos"), round(col("w_raw") / col("nrm"), 6).as("w1"))
      .orderBy("pos")
  }

  val powerIterationOracle: String = {
    val seed = "(1.0 / sqrt(64.0))"
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |proj AS (
       |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * $seed)) AS s
       |  FROM e),
       |bydim AS (
       |  SELECT i - 1 AS pos, sum(v[i] * s) AS w_raw
       |  FROM proj, LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY i),
       |nrm AS (SELECT sqrt(sum(w_raw * w_raw)) AS nrm FROM bydim)
       |SELECT CAST(pos AS INT) AS pos, round(w_raw / nrm, 6) AS w1
       |FROM bydim, nrm ORDER BY pos""".stripMargin
  }

  /** Multi-iteration power method — [[powerIteration]] driven to N rounds:
    * wⁿ ∝ Σᵢ vᵢ·(vᵢ·wⁿ⁻¹), converging to the top principal component.
    * Round 1 projects onto the deterministic uniform seed exactly as the
    * single step; each later round folds the previous d-row w back into
    * ONE array (a d-element broadcast) so the projection s = v·w stays a
    * narrow codegen'd [[graft.functions.expressions.DotProduct]] pass —
    * the corpus never shuffles vectors, only (pos, x·s) partials with
    * map-side combine, and the d-row w table is `localCheckpoint`ed per
    * round so lineage stays flat.
    *
    * Engine parity: each round's w is the normalized result rounded to 6 —
    * identical to the single step's published output, so round N's input
    * is exactly round N−1's result in both engines.
    */
  def powerIterate(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
    val d = 64
    val seed = 1.0 / math.sqrt(d.toDouble)
    var w: DataFrame = null
    for (r <- 1 to rounds) {
      val projected =
        if (r == 1)
          emb.withColumn("s",
            aggregate(col("v"), lit(0.0), (acc, x) => acc + x * lit(seed)))
        else {
          val wArr = w.groupBy().agg(transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")).as("wv"))
          emb.crossJoin(broadcast(wArr))
            .withColumn("s", dot(col("v"), col("wv")))
        }
      val byDim = projected
        .select(col("s"), posexplode(col("v")))
        .groupBy(col("pos"))
        .agg(sum(col("col") * col("s")).as("w_raw"))
      val nrm = byDim.agg(sqrt(sum(col("w_raw") * col("w_raw"))).as("nrm"))
      w = byDim.crossJoin(broadcast(nrm))
        .select(col("pos"), round(col("w_raw") / col("nrm"), 6).as("w"))
        .localCheckpoint()
    }
    w.select(col("pos"), col("w").as("w2")).orderBy("pos")
  }

  def powerIteration2Step(s: SparkSession, dir: String): DataFrame =
    powerIterate(s, dir, rounds = 2)

  val powerIteration2StepOracle: String = {
    val seed = "(1.0 / sqrt(64.0))"
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |proj1 AS (
       |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * $seed)) AS s
       |  FROM e),
       |bydim1 AS (
       |  SELECT i - 1 AS pos, sum(v[i] * s) AS w_raw
       |  FROM proj1, LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY i),
       |nrm1 AS (SELECT sqrt(sum(w_raw * w_raw)) AS nrm FROM bydim1),
       |w1 AS (SELECT pos, round(w_raw / nrm, 6) AS w FROM bydim1, nrm1),
       |wv AS (SELECT list(w ORDER BY pos) AS wv FROM w1),
       |proj2 AS (
       |  SELECT vec_id, v, list_dot_product(v, wv) AS s FROM e, wv),
       |bydim2 AS (
       |  SELECT i - 1 AS pos, sum(v[i] * s) AS w_raw
       |  FROM proj2, LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY i),
       |nrm2 AS (SELECT sqrt(sum(w_raw * w_raw)) AS nrm FROM bydim2)
       |SELECT CAST(pos AS INT) AS pos, round(w_raw / nrm, 6) AS w2
       |FROM bydim2, nrm2 ORDER BY pos""".stripMargin
  }

  /** Per-vector int8 (256-level) min/max quantization audit: quantize,
    * dequantize, and report the reconstruction error — the compression
    * check run before shipping embeddings to an ANN index at 4 bytes→1
    * byte. A pure narrow map (quantization is per-row); the summary is a
    * 1-row aggregate. Engine parity: the quantizer uses floor(z + 0.5)
    * (exact in doubles) rather than `round` — Spark rounds doubles
    * HALF_UP, DuckDB HALF_EVEN, and a .5-boundary disagreement would
    * shift a level and change the error.
    */
  def embeddingQuantize(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
    // deq(x) = mn + floor((x-mn)*255/(mx-mn) + 0.5) * (mx-mn)/255
    val err = aggregate(
      transform(col("v"), x =>
        abs(x - (col("mn") + floor((x - col("mn")) * 255.0 / (col("mx") - col("mn")) + 0.5)
          * (col("mx") - col("mn")) / 255.0))),
      lit(0.0), (acc, e) => acc + e) / size(col("v"))
    // err must bind to the RAW mn/mx, so it is materialized BEFORE the
    // output select: in a select list that also aliases rounded columns
    // as `mn`/`mx`, lateral-column-alias resolution would rebind err's
    // col("mn")/col("mx") to the rounded outputs and shift the
    // quantization grid (observed: 5.19e-4 → 5.25e-4 on vec 0)
    emb
      .withColumn("raw_err",
        when(col("mx") === col("mn"), 0.0).otherwise(err))
      .select(col("vec_id"),
        round(col("mn"), 4).as("mn"),
        round(col("mx"), 4).as("mx"),
        round(col("raw_err"), 6).as("mean_abs_err"))
      .orderBy("vec_id")
  }

  val embeddingQuantizeOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |mm AS (
      |  SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e)
      |SELECT vec_id, round(mn, 4) AS mn, round(mx, 4) AS mx,
      |       round(CASE WHEN mx = mn THEN 0.0 ELSE
      |         list_sum(list_transform(v, x ->
      |           abs(x - (mn + floor((x - mn) * 255.0 / (mx - mn) + 0.5)
      |                    * (mx - mn) / 255.0)))) / len(v)
      |       END, 6) AS mean_abs_err
      |FROM mm ORDER BY vec_id""".stripMargin

  /** Product-quantization ANN (Jégou et al., PAMI'11 shape): vectors split
    * into `M` subspaces, each subvector coded as its nearest entry in a
    * per-subspace codebook, and queries scored against the CODES via an
    * asymmetric-distance (ADC) lookup table — the memory-bound regime's
    * index: the corpus compresses from d doubles to M bytes per vector.
    * The codebook here is a deterministic seed sample (the first C
    * vectors' subvectors — the [[kmeansIterate]] seeding rule), which
    * keeps the whole pipeline a pure function of the data: unlike the
    * hash-dependent [[annSignLsh]], PQ is fully DuckDB-reproducible, so
    * this is the one compressed-index ANN with a value-pinning oracle.
    *
    * Scale shape: the codebook (M·C subvectors) and the per-query ADC
    * table (M·C partial distances per query) are broadcast-sized by
    * construction; encoding is corpus × M·C via a broadcast join + one
    * (vec, sub) argmin aggregate; search touches only the CODES table
    * (corpus × M ids — the compressed index, never the vectors) joined to
    * the broadcast ADC table, one (query, vec) sum, one per-query top-k
    * window. Vectors are normalized, so squared-L2 order = cosine order
    * and recall vs [[annCosineTopk]] is well-defined (pinned in
    * SimilarityPqSpec). Distances round to 6 before every argmin/sum —
    * the [[kmeansIterate]] cross-engine determinism discipline.
    */
  def annPqTopk(s: SparkSession, dir: String): DataFrame = {
    val approx = pqApproxDistances(s, dir)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist"), col("vec_id"))
    approx.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("approx_dist"), 4).as("approx_dist"))
      .orderBy("query_id", "rank")
  }

  /** The ADC distance frame (query_id, vec_id, approx_dist) — shared by
    * [[annPqTopk]] (pure-ADC top-k, the oracle-pinned surface) and the
    * shortlist-re-rank composition SimilarityPqSpec measures recall on.
    */
  private[graft] def pqApproxDistances(s: SparkSession, dir: String): DataFrame = {
    val m = 4; val subDim = 16; val c = 16
    val emb = embeddings(s, dir)
    val subs = emb.select(col("vec_id"), posexplode(
        array((0 until m).map(j => slice(col("v"), j * subDim + 1, subDim)): _*)))
      .select(col("vec_id"), col("pos").as("sub_id"), col("col").as("sv"))
    val codebook = subs.filter(col("vec_id") < c)
      .select(col("sub_id").as("cb_sub"), col("vec_id").as("cid"),
        col("sv").as("cv"))
    val codes = subs.join(broadcast(codebook), col("sub_id") === col("cb_sub"))
      .withColumn("dist", round(squaredDistance(col("sv"), col("cv")), 6))
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("code"))
    val adc = subs.filter(col("vec_id") < NQueries)
      .join(broadcast(codebook), col("sub_id") === col("cb_sub"))
      .select(col("vec_id").as("query_id"), col("sub_id").as("q_sub"),
        col("cid"),
        round(squaredDistance(col("sv"), col("cv")), 6).as("pd"))
    codes.join(broadcast(adc),
        col("sub_id") === col("q_sub") && col("code") === col("cid") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("pd")), 6).as("approx_dist"))
  }

  /** The shared e/subs/cb/enc/codes/adc/approx CTE chain of the two PQ
    * oracles — a NAMED val (the WinnowOps.oracleSel pattern) so
    * [[annPqTopkOracle]] and [[annPqRerankOracle]] compose from one
    * definition instead of substring surgery (ADVICE r7: an indexOf-based
    * splice threw or silently mis-spliced on any rewording).
    */
  private val pqAdcChain: String = {
    val norm = graft.functions.VectorFunctions.normalizeOracle("embedding")
    s"""WITH e AS (SELECT vec_id, $norm AS v FROM embeddings),
       |subs AS (
       |  SELECT vec_id, j AS sub_id, v[j*16+1 : j*16+16] AS sv
       |  FROM e, LATERAL unnest(generate_series(0, 3)) t(j)),
       |cb AS (SELECT sub_id AS cb_sub, vec_id AS cid, sv AS cv
       |       FROM subs WHERE vec_id < 16),
       |enc AS (
       |  SELECT s.vec_id, s.sub_id, cb.cid,
       |         round(sum((s.sv[i] - cb.cv[i]) * (s.sv[i] - cb.cv[i])), 6)
       |           AS dist
       |  FROM subs s JOIN cb ON cb.cb_sub = s.sub_id,
       |       LATERAL unnest(generate_series(1, 16)) t(i)
       |  GROUP BY s.vec_id, s.sub_id, cb.cid),
       |codes AS (
       |  SELECT vec_id, sub_id, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
       |      ORDER BY dist, cid) AS rn FROM enc)
       |  WHERE rn = 1),
       |adc AS (
       |  SELECT q.vec_id AS query_id, q.sub_id AS q_sub, cb.cid,
       |         round(sum((q.sv[i] - cb.cv[i]) * (q.sv[i] - cb.cv[i])), 6)
       |           AS pd
       |  FROM subs q JOIN cb ON cb.cb_sub = q.sub_id,
       |       LATERAL unnest(generate_series(1, 16)) t(i)
       |  WHERE q.vec_id < $NQueries
       |  GROUP BY q.vec_id, q.sub_id, cb.cid),
       |approx AS (
       |  SELECT a.query_id, c.vec_id, round(sum(a.pd), 6) AS approx_dist
       |  FROM codes c JOIN adc a
       |    ON a.q_sub = c.sub_id AND a.cid = c.code
       |   AND c.vec_id <> a.query_id
       |  GROUP BY a.query_id, c.vec_id)""".stripMargin
  }

  val annPqTopkOracle: String =
    s"""$pqAdcChain
       |SELECT query_id, rank, neighbor_id,
       |       round(approx_dist, 4) AS approx_dist FROM (
       |  SELECT query_id, vec_id AS neighbor_id, approx_dist,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY approx_dist, vec_id) AS rank
       |  FROM approx)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** IVF + PQ, composed (the FAISS IVFPQ architecture — Jégou PAMI'11
    * §V): the learned coarse quantizer of [[annIvfProbe]] prunes the
    * corpus to the query's `nprobe` nearest cells, and within the probed
    * cells the [[annPqTopk]] ADC table scores the compressed CODES — the
    * memory-bound regime's full index: candidate volume shrinks by
    * nprobe/L AND every candidate costs M byte-code lookups instead of a
    * d-dim vector scan. Both constituents are deterministic pure
    * functions of the data, so the composition keeps a value-pinning
    * DuckDB oracle — unlike any hash-seeded ANN.
    *
    * Scale shape: probes (queries × nprobe) and the ADC table (queries ×
    * M·C partials) stay broadcast-sized; the corpus-side scan touches
    * only the CODES table (M small ints per vector) filtered by the
    * broadcast probe list, then one (query, vec) sum and one per-query
    * top-k window. Distances round to 6 before every argmin/sum (the
    * [[kmeansIterate]] cross-engine discipline).
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val m = 4; val subDim = 16; val c = 16; val nprobe = 2
    val emb = embeddings(s, dir)
    // learned coarse quantizer — per-label mean, the annIvfProbe shape
    val cents = emb
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col")), 6).as("m"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
    val qs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("label"))
    val probes = qs.crossJoin(broadcast(cents))
      .withColumn("cdist", round(squaredDistance(col("qv"), col("cv")), 6))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("label").as("probe_label"))
    // PQ encode (label carried through so the probe filter hits the codes)
    val subs = emb.select(col("vec_id"), col("label"), posexplode(
        array((0 until m).map(j => slice(col("v"), j * subDim + 1, subDim)): _*)))
      .select(col("vec_id"), col("label"), col("pos").as("sub_id"),
        col("col").as("sv"))
    val codebook = subs.filter(col("vec_id") < c)
      .select(col("sub_id").as("cb_sub"), col("vec_id").as("cid"),
        col("sv").as("cv"))
    val codes = subs.join(broadcast(codebook), col("sub_id") === col("cb_sub"))
      .withColumn("dist", round(squaredDistance(col("sv"), col("cv")), 6))
      .groupBy(col("vec_id"), col("label"), col("sub_id"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("code"))
    val adc = subs.filter(col("vec_id") < NQueries)
      .join(broadcast(codebook), col("sub_id") === col("cb_sub"))
      .select(col("vec_id").as("query_id"), col("sub_id").as("q_sub"),
        col("cid"),
        round(squaredDistance(col("sv"), col("cv")), 6).as("pd"))
    val scored = codes
      .join(broadcast(probes),
        col("label") === col("probe_label") && col("vec_id") =!= col("query_id"))
      .join(broadcast(adc),
        col("sub_id") === col("q_sub") && col("code") === col("cid") &&
          probes("query_id") === adc("query_id"))
      .groupBy(probes("query_id").as("query_id"), col("vec_id"))
      .agg(round(sum(col("pd")), 6).as("approx_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("approx_dist"), 4).as("approx_dist"))
      .orderBy("query_id", "rank")
  }

  val annIvfPqOracle: String = {
    val norm = graft.functions.VectorFunctions.normalizeOracle("embedding")
    s"""WITH e AS (SELECT vec_id, label, $norm AS v FROM embeddings),
       |m AS (
       |  SELECT label, i AS pos, round(avg(v[i]), 6) AS m
       |  FROM e, LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY label, i),
       |c AS (SELECT label, list(m ORDER BY pos) AS cv FROM m GROUP BY label),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE vec_id < $NQueries),
       |cd AS (
       |  SELECT q.query_id, c.label,
       |         round(sum((qv[i] - cv[i]) * (qv[i] - cv[i])), 6) AS cdist
       |  FROM q, c, LATERAL unnest(generate_series(1, len(qv))) t(i)
       |  GROUP BY q.query_id, c.label),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT query_id, label,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cdist, label) AS prn
       |    FROM cd)
       |  WHERE prn <= 2),
       |subs AS (
       |  SELECT vec_id, label, j AS sub_id, v[j*16+1 : j*16+16] AS sv
       |  FROM e, LATERAL unnest(generate_series(0, 3)) t(j)),
       |cb AS (SELECT sub_id AS cb_sub, vec_id AS cid, sv AS cv
       |       FROM subs WHERE vec_id < 16),
       |enc AS (
       |  SELECT s.vec_id, s.label, s.sub_id, cb.cid,
       |         round(sum((s.sv[i] - cb.cv[i]) * (s.sv[i] - cb.cv[i])), 6)
       |           AS dist
       |  FROM subs s JOIN cb ON cb.cb_sub = s.sub_id,
       |       LATERAL unnest(generate_series(1, 16)) t(i)
       |  GROUP BY s.vec_id, s.label, s.sub_id, cb.cid),
       |codes AS (
       |  SELECT vec_id, label, sub_id, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
       |      ORDER BY dist, cid) AS rn FROM enc)
       |  WHERE rn = 1),
       |adc AS (
       |  SELECT q.vec_id AS query_id, q.sub_id AS q_sub, cb.cid,
       |         round(sum((q.sv[i] - cb.cv[i]) * (q.sv[i] - cb.cv[i])), 6)
       |           AS pd
       |  FROM subs q JOIN cb ON cb.cb_sub = q.sub_id,
       |       LATERAL unnest(generate_series(1, 16)) t(i)
       |  WHERE q.vec_id < $NQueries
       |  GROUP BY q.vec_id, q.sub_id, cb.cid),
       |approx AS (
       |  SELECT p.query_id, c2.vec_id, round(sum(a.pd), 6) AS approx_dist
       |  FROM probes p
       |  JOIN codes c2 ON c2.label = p.label AND c2.vec_id <> p.query_id
       |  JOIN adc a ON a.query_id = p.query_id
       |            AND a.q_sub = c2.sub_id AND a.cid = c2.code
       |  GROUP BY p.query_id, c2.vec_id)
       |SELECT query_id, rank, neighbor_id,
       |       round(approx_dist, 4) AS approx_dist FROM (
       |  SELECT query_id, vec_id AS neighbor_id, approx_dist,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY approx_dist, vec_id) AS rank
       |  FROM approx)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** PQ shortlist → exact re-rank — the PRODUCTION ANN serving shape
    * (SimilarityPqSpec measures its recall curve: ADC-only 0.20–0.34 →
    * 0.82 re-ranked@100): the compressed-code scan nominates a
    * `Shortlist`-sized candidate set per query, and only those ≤100
    * vectors are fetched for exact cosine. At 100 TB this is the whole
    * point of PQ — the corpus-wide pass touches M-byte codes, full
    * vectors ride ONLY the (queries × shortlist) join, which stays
    * broadcast-sized. Deterministic end-to-end (seeded codebook + rounded
    * ADC + exact rerank), so unlike every hash-seeded index the serving
    * path itself is value-level oracle-pinned.
    */
  def annPqRerank(s: SparkSession, dir: String): DataFrame = {
    val shortlist = 100
    val sw = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist"), col("vec_id"))
    val short = pqApproxDistances(s, dir)
      .withColumn("rn", row_number().over(sw))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("vec_id"))
    val emb = embeddings(s, dir)
    val rer = short
      .join(broadcast(emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))),
        "query_id")
      .join(emb, "vec_id")
      .select(col("query_id"), col("vec_id"),
        dot(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rank")
  }

  val annPqRerankOracle: String =
    // the shared ADC chain up to `approx`, then shortlist + exact re-rank
    s"""$pqAdcChain,
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY approx_dist, vec_id) AS rn
       |    FROM approx)
       |  WHERE rn <= 100),
       |qv AS (SELECT vec_id AS query_id, v AS qv FROM e
       |       WHERE vec_id < $NQueries),
       |rer AS (
       |  SELECT s.query_id, s.vec_id,
       |         list_dot_product(q.qv, e2.v) AS cos
       |  FROM shortlist s
       |  JOIN qv q ON q.query_id = s.query_id
       |  JOIN e e2 ON e2.vec_id = s.vec_id)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT query_id, vec_id AS neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, vec_id) AS rank
       |  FROM rer)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Embedding-space outlier pruning — the centroid-distance quality
    * filter (the SemDeDup paper's sibling operation: instead of dropping
    * near-DUPLICATES inside a cluster, drop vectors FAR from every
    * cluster — off-topic/noise docs whose text-level quality scores look
    * fine): each vector's squared distance to its own label centroid,
    * flagged when above the corpus-wide exact 95th percentile.
    *
    * Scale shape: centroids are one posexplode aggregate (labels × d,
    * broadcast-sized); distances are a narrow codegen'd map
    * ([[graft.functions.expressions.SquaredDistance]]); the cutoff is a
    * single `percentile` AGGREGATE (no corpus-wide sort/window — the
    * [[AnalyticsOps.equidepthHistogram]] discipline) attached as a 1-row
    * broadcast. Distances round to 6 before the percentile so the
    * interpolated cut is computed on identical values in both engines.
    */
  def embeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val cents = emb
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col")), 6).as("m"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
    val d = emb.join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        round(squaredDistance(col("v"), col("cv")), 6).as("dist"))
    val cut = d.agg(percentile(col("dist"), lit(0.95)).as("p95"))
    d.crossJoin(broadcast(cut))
      .filter(col("dist") > col("p95"))
      .select(col("vec_id"), col("label"), col("dist"),
        round(col("p95"), 6).as("p95"))
      .orderBy("vec_id")
  }

  val embeddingOutliersOracle: String = {
    val norm = graft.functions.VectorFunctions.normalizeOracle("embedding")
    s"""WITH e AS (SELECT vec_id, label, $norm AS v FROM embeddings),
       |m AS (
       |  SELECT label, i AS pos, round(avg(v[i]), 6) AS m
       |  FROM e, LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY label, i),
       |c AS (SELECT label, list(m ORDER BY pos) AS cv FROM m GROUP BY label),
       |d AS (
       |  SELECT e.vec_id, e.label,
       |         round(sum((v[i] - cv[i]) * (v[i] - cv[i])), 6) AS dist
       |  FROM e JOIN c USING (label),
       |       LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY e.vec_id, e.label),
       |cut AS (SELECT quantile_cont(dist, 0.95) AS p95 FROM d)
       |SELECT vec_id, label, dist, round(p95, 6) AS p95
       |FROM d, cut WHERE dist > p95 ORDER BY vec_id""".stripMargin
  }

  /** Hybrid retrieval — Reciprocal Rank Fusion (Cormack et al. SIGIR'09)
    * of a SPARSE arm (word-level BM25, k1=1.2 / b=0.75 — word granularity
    * on purpose: the 5-shingle `bm25_search` arm yields near-singleton
    * candidate lists on this strictly-paired corpus, worthless for fusion)
    * and a DENSE arm (exact cosine over the document embeddings,
    * vec_id ≡ doc_id) for one deterministic query document (longest text,
    * min-id tiebreak). Each arm cuts an orderBy+limit top-50
    * (TakeOrderedAndProject — the rank window then sits on limit-bounded
    * input, never a corpus window); fused score is
    * Σ 1/(60 + rank) over the lists containing the doc — the standard
    * RAG-serving move that needs NO score calibration between arms, which
    * is exactly why it is the production default for sparse+dense.
    *
    * Scale shape: the BM25 side is the audited inverted-index pattern
    * (tf localCheckpointed once for its five consumers; stop-terms
    * dropped by the RELATIVE df·5 ≤ n_docs·4 cap — integer-exact on both
    * engines, so the cap needs no per-SF retuning); the dense side is one
    * broadcast query vector against the corpus; the fusion itself joins
    * two 50-row frames. Everything score-ranked is rounded before
    * ranking (sparse) or tie-broken by id (dense, the annCosineTopk
    * convention).
    */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val kRrf = 60; val listK = 50; val k1 = 1.2; val b = 0.75
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val qsel = docs
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("qdoc"))
    val tf = docs.select(col("doc_id"),
        explode(split(graft.ops.DedupOps.normText(col("text")), " ")).as("t"))
      .groupBy(col("doc_id"), col("t"))
      // r13 ckpt audit: the word-tf table feeds 5 consumers; A/B at
      // sf0.1 warm: 1.23 s with / 1.65 s without — keep
      .agg(count(lit(1)).as("tf")).localCheckpoint()
    val dfT = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val stats = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val corpus = stats.agg(countDistinct(col("doc_id")).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val qterms = tf.join(dfT, "t").crossJoin(broadcast(qsel))
      .filter(col("doc_id") === col("qdoc"))
      .crossJoin(broadcast(corpus))
      .filter(col("df") >= 2 && col("df") * 5 <= col("n_docs") * 4)
      .select(col("t"),
        round(log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)), 6).as("idf"),
        col("qdoc"), col("avgdl"))
    val scored = tf.join(broadcast(qterms), "t")
      .filter(col("doc_id") =!= col("qdoc"))
      .join(stats, "doc_id")
      .withColumn("contrib", round(col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("score"))
    val sparseRank = scored
      .orderBy(col("score").desc, col("doc_id")).limit(listK)
      .withColumn("r_sparse", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_sparse"))
    val emb = embeddings(s, dir)
    val qv = emb.crossJoin(broadcast(qsel))
      .filter(col("vec_id") === col("qdoc"))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val dense = emb.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("vec_id").as("doc_id"), dot(col("qv"), col("v")).as("cos"))
    val denseRank = dense
      .orderBy(col("cos").desc, col("doc_id")).limit(listK)
      .withColumn("r_dense", row_number()
        .over(Window.orderBy(col("cos").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_dense"))
    sparseRank.join(denseRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_sparse"), col("r_dense"),
        round(coalesce(lit(1.0) / (lit(kRrf) + col("r_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("r_dense")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  val rrfFusionOracle: String = {
    val norm = graft.ops.DedupOps.normTextOracle("text")
    val cos = graft.functions.VectorFunctions
      .cosineOracle("q.embedding", "c.embedding")
    s"""WITH qsel AS (
       |  SELECT doc_id AS qdoc FROM documents
       |  ORDER BY n_chars DESC, doc_id LIMIT 1),
       |tf AS (
       |  SELECT doc_id, u.t AS t, count(*) AS tf
       |  FROM documents, LATERAL unnest(string_split($norm, ' ')) u(t)
       |  GROUP BY doc_id, u.t),
       |dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       |stats AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
       |          GROUP BY doc_id),
       |corpus AS (SELECT count(DISTINCT doc_id) AS n_docs, avg(dl) AS avgdl
       |           FROM stats),
       |qterms AS (
       |  SELECT f.t,
       |         round(ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5)), 6) AS idf,
       |         s.qdoc, c.avgdl
       |  FROM tf f JOIN dft d USING (t), qsel s, corpus c
       |  WHERE f.doc_id = s.qdoc AND d.df >= 2 AND d.df * 5 <= c.n_docs * 4),
       |scored AS (
       |  SELECT t.doc_id,
       |         round(sum(round(q.idf * t.tf * 2.2 /
       |           (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * st.dl / q.avgdl)), 6)), 4)
       |           AS score
       |  FROM tf t JOIN qterms q USING (t)
       |  JOIN stats st ON st.doc_id = t.doc_id
       |  WHERE t.doc_id <> q.qdoc
       |  GROUP BY t.doc_id),
       |sparse_rank AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
       |           AS INTEGER) AS r_sparse
       |  FROM (SELECT doc_id, score FROM scored
       |        ORDER BY score DESC, doc_id LIMIT 50)),
       |dense AS (
       |  SELECT c.vec_id AS doc_id, $cos AS cos
       |  FROM embeddings c JOIN embeddings q
       |    ON q.vec_id = (SELECT qdoc FROM qsel)
       |  WHERE c.vec_id <> q.vec_id),
       |dense_rank AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
       |           AS INTEGER) AS r_dense
       |  FROM (SELECT doc_id, cos FROM dense
       |        ORDER BY cos DESC, doc_id LIMIT 50)),
       |fused AS (
       |  SELECT coalesce(s.doc_id, d.doc_id) AS doc_id, s.r_sparse, d.r_dense,
       |         round(coalesce(CAST(1.0 AS DOUBLE) / (60 + s.r_sparse),
       |                 CAST(0.0 AS DOUBLE))
       |             + coalesce(CAST(1.0 AS DOUBLE) / (60 + d.r_dense),
       |                 CAST(0.0 AS DOUBLE)), 6) AS rrf
       |  FROM sparse_rank s FULL OUTER JOIN dense_rank d ON s.doc_id = d.doc_id)
       |SELECT doc_id, r_sparse, r_dense, rrf FROM fused
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  }

  /** HNSW-lite graph ANN (VERDICT r9 #4) — the production serving shape
    * the flat/IVF/PQ/LSH ladder lacked: a 2-layer deterministic navigable
    * small world, searched by entry-point selection + bounded-degree graph
    * expansion instead of bucket probes.
    *
    * Build (fully declarative, no sequential inserts — the batch analog of
    * Malkov & Yashunin's incremental construction):
    *  - LAYER ASSIGNMENT: node joins the upper layer iff
    *    `md5id60("lvl_" + vec_id) % levelMod == 0` — the md5-deterministic
    *    stand-in for HNSW's geometric level draw, value-identical in any
    *    engine (vs mllib-style JVM RNG, which would be unverifiable).
    *  - NEIGHBOR LISTS: per-node top-`degree` by exact cosine among
    *    sign-LSH bucket candidates (8-bit × 10-band — MORE selective than
    *    the 4×20 search banding, because graph build wants sparse
    *    high-precision candidate sets: 16× fewer candidate pairs on this
    *    similarity-heavy corpus at equal plane count; selection is the
    *    banded top-K kernel, never all pairs), ties to min id. A
    *    bounded-degree proximity graph: layer-0 adjacency ≤ degree rows
    *    per node.
    *  - SEARCH (r11 — VERDICT r10 #5, best-first beam replacing the fixed
    *    two-hop frontier): score the query against the (1/levelMod)-sized
    *    upper layer, keep top-`entries` entry points (the greedy
    *    upper-layer descent collapsed to one ranked scan — exact, and at
    *    this layer size cheaper than hop-by-hop). Then `rounds`
    *    DETERMINISTIC best-first rounds over layer-0 adjacency: each
    *    round expands the current beam's neighbors, exact-scores
    *    beam ∪ frontier, and keeps the top-`beamWidth` by
    *    (cos DESC, node ASC) as the next beam — Malkov & Yashunin's
    *    ef-bounded greedy search, batched per round instead of per node.
    *    Every expanded node joins the visited set; the answer is the
    *    exact top-K of visited. Unlike the old fixed two-hop fan-out
    *    (entries·degree² nodes, depth 2), the beam reaches depth `rounds`
    *    while scoring ≤ beamWidth·(degree+1) nodes per query per round —
    *    score-ordered pruning buys DEPTH with less work.
    *
    * Scale shape: neighbor build is the banded top-K kernel (one
    * (band, bucket) exchange, dot work linear in bucket occupancy) + one
    * node-keyed merge; at 100 TB the adjacency is a materialized table
    * (GraphEdges-style) maintained incrementally, and search touches per
    * round only queries×beamWidth×degree adjacency rows + the same number
    * of id-keyed vector lookups — no corpus-sized shuffle at query time.
    * Each round's beam is `localCheckpoint`ed (≤ NQueries·beamWidth ids —
    * the kmeansIterate lineage discipline; the beam feeds both the next
    * frontier and the next candidate union). Deeper corpora add layers
    * (levelMod^j) for the logarithmic descent; two suffice here.
    *
    * Determinism ⇒ the whole index transliterates to SQL: the oracle
    * rebuilds layers, neighbor lists, entries, every beam round, and the
    * final top-k verbatim ([[annHnswOracleFor]]). Measured recall vs the
    * exact top-k at the shipped defaults (8-bit × 10-band build banding,
    * degree = 20, levelMod = 16, entries = 6, beamWidth = 48,
    * rounds = 3): 0.96 at sf0.001, 1.00 at the sf0.01 gate, 0.98 at
    * sf0.1 — above ann_sign_lsh's 0.94–0.96, vs 0.88 for the two-hop
    * expansion this replaced (pinned in DedupOpsSpec, beam monotonicity
    * included). The ef≈48 beam for top-5 matches production HNSW
    * practice (ef is conventionally several × k).
    */
  def annHnswTopk(s: SparkSession, dir: String): DataFrame = {
    val (bits, bands) = HnswIndex.derivedConfig(s, dir)
    annHnswTopk(s, dir, bitsPerBand = bits,
      bands = bands, degree = HnswIndex.Degree,
      levelMod = HnswIndex.LevelMod, entries = HnswIndex.Entries)
  }

  def annHnswTopk(s: SparkSession, dir: String, bitsPerBand: Int,
      bands: Int, degree: Int, levelMod: Int, entries: Int,
      beamWidth: Int = HnswIndex.BeamWidth,
      rounds: Int = HnswIndex.Rounds): DataFrame = {
    val beam = annHnswBeam(s, dir, bitsPerBand, bands, degree, levelMod,
      entries, beamWidth, rounds)
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    beam.filter(col("node") =!= col("query_id"))
      .select(col("query_id"), col("node").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rank")
  }

  /** The HNSW layer-0 adjacency, built inline: bounded-degree neighbor
    * lists from LSH bucket candidates (directed: every node ranks its
    * bucket cohabitants), per-node top-`degree` OUT selection
    * ([[bandedTopK]]), then SYMMETRIZED (HNSW links are bidirectional):
    * without the reverse edges a hub's top-degree list drops its spokes while
    * every spoke keeps the hub — best-first search could descend INTO
    * dense regions but never back out, and measured sf0.1 recall
    * collapsed to 0.46–0.66 vs 0.96 with the union. Effective degree
    * ≤ 2·degree. localCheckpointed (node-sized, ≤ 2·degree·n ids): every
    * search round re-reads it — probed 5.7 s → 1.7 s at sf0.1 when the
    * materialization landed (r11); the [[HnswIndex]] seam is the
    * session-lifetime form of the same decision.
    */
  private[graft] def hnswAdjacencyInline(s: SparkSession, dir: String,
      bitsPerBand: Int, bands: Int, degree: Int): DataFrame = {
    val nbrsOut = hnswOutInline(s, dir, bitsPerBand, bands, degree)
      .select(col("node"), col("nbr"))
    // no distinct here: a (node, nbr) present in both orientations just
    // duplicates a frontier candidate, and every round's frontier is
    // distinct()'d anyway — one less shuffle on the widest table
    nbrsOut
      .union(nbrsOut.select(col("nbr").as("node"), col("node").as("nbr")))
      .localCheckpoint()
  }

  /** `(vec_id, band, bucket)` sign-LSH banding of an embedding frame —
    * the candidate-generation key of [[bandedTopK]] (every kNN/HNSW build
    * and its incremental maintenance) and of the occupancy audits.
    */
  private[graft] def hnswBanded(emb: DataFrame, bitsPerBand: Int,
      bands: Int): DataFrame =
    emb.select(col("vec_id"),
        posexplode(signLshBuckets(col("v"), bitsPerBand, bands)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
      // spread the banding across the session's shuffle parallelism (r18
      // JobProbe, guide §2.5 input skew): the embeddings corpus arrives as
      // few parquet files, so without this the per-bucket scoring of
      // [[bandedTopK]] — the family's dominant cost — inherits ONE input
      // partition and runs on one core (measured single-task stages of
      // 1.9-2.0 s wall under local[32]). The exchange carries ids-only rows
      // (vec_id, band, bucket) and its key is the kernel's own bucket key,
      // so the kernel's vector attach (a broadcast at gate corpus sizes)
      // keeps this partitioning and its own (band, bucket) exchange plans
      // away. The partition count is EXPLICIT because AQE's coalescer
      // models cost by shuffle BYTES: banding rows are ~24 bytes but each
      // fans out to occupancy² dots downstream, so byte-based coalescing
      // folds every bucket back onto one core (observed: repartition
      // without a count → AQE → 1 partition → the same 2 s single-task
      // stage the repartition was added to break).
      .repartition(bucketPartitions(emb.sparkSession),
        col("band"), col("bucket"))

  private def bucketPartitions(s: SparkSession): Int =
    s.sessionState.conf.numShufflePartitions

  /** A bucket member handed to [[bandedTopK]]'s per-bucket pass; `role`
    * is a set of [[NodeRole]] / [[NbrRole]] / [[BaseRole]] bits. (Not
    * `private`: Spark's generated code builds and reads these classes.)
    */
  private[graft] final case class BandMember(vec_id: Long, v: Array[Double],
      role: Int)

  /** One kept `(node, nbr, ncos)` row of [[bandedTopK]]. */
  private[graft] final case class ScoredPair(node: Long, nbr: Long,
      ncos: Double)

  /** The member ranks neighbors. */
  private val NodeRole = 1
  /** The member is ranked. */
  private val NbrRole = 2
  /** The member is in an insert's base era: two base members never pair. */
  private val BaseRole = 4

  /** Banded top-K, fused: for every node of `a`, its top-`k` neighbors of
    * `b` by (ncos DESC, nbr) among the vectors sharing at least one
    * `(band, bucket)` with it (self excluded), as `(node, nbr, ncos)`.
    * `a` and `b` are [[hnswBanded]] frames, `emb` supplies `(vec_id, v)`.
    * This kernel, with its self-join and insert forms below, serves every
    * kNN/HNSW build and maintenance site.
    *
    * One pass, no pair table: each band row gets its vector attached,
    * ONE exchange groups the rows by `(band, bucket)`, and inside each
    * bucket every qualifying pair is scored with the sequential
    * left-fold dot of [[graft.functions.expressions.DotProduct]] (so a
    * pair's `ncos` is bit-identical wherever it is formed) while each
    * node keeps a bounded top-`k`. A node-keyed merge then drops the
    * pairs found in several bands and takes the final top-`k`. Exact by
    * pigeonhole: a neighbor in a node's global top-`k` has at most k−1
    * better candidates anywhere, so it is also in the top-`k` of every
    * bucket the two share. BandedTopKSpec pins every form ≡ the composed
    * cohabit → score → window reference on random corpora.
    *
    * Traffic: bands × (|a| + |b|) vector-carrying rows through the
    * bucket exchange (bands × n for the self-join, which sends one copy
    * per row), then at most bands × k scored rows per node into the
    * merge — in place of Σ distinct candidate pairs shuffled, each with
    * two vector attaches.
    */
  private[graft] def bandedTopK(a: DataFrame, b: DataFrame, emb: DataFrame,
      k: Int): DataFrame =
    topKMerge(withRole(a, NodeRole).unionByName(withRole(b, NbrRole)), emb, k)

  /** [[bandedTopK]] of a banded frame against itself. */
  private[graft] def bandedTopK(banded: DataFrame, emb: DataFrame,
      k: Int): DataFrame =
    topKMerge(withRole(banded, NodeRole | NbrRole), emb, k)

  /** The insert form of [[bandedTopK]]: the top-`k` of the delta-involving
    * pairs only, (delta → base ∪ delta) ∪ (base → delta), in one pass —
    * base-base pairs are never scored. The two orientations are disjoint
    * (`base` and `delta` hold disjoint ids), so no pair takes two top-`k`
    * slots, and re-ranking a base artifact's kept lists together with
    * this output equals the rebuild over base ∪ delta ([[HnswIndex.insert]]
    * pigeonhole). Only the delta's buckets can hold such a pair, so
    * `base` is semi-joined to them (the delta's keys broadcast) before its
    * vectors are attached.
    */
  private[graft] def bandedInsertTopK(base: DataFrame, delta: DataFrame,
      emb: DataFrame, k: Int): DataFrame = {
    val baseInDeltaBuckets = base.join(
      broadcast(delta.select(col("band"), col("bucket"))),
      Seq("band", "bucket"), "left_semi")
    topKMerge(withRole(baseInDeltaBuckets, NodeRole | NbrRole | BaseRole)
      .unionByName(withRole(delta, NodeRole | NbrRole)), emb, k)
  }

  private def withRole(banded: DataFrame, role: Int): DataFrame =
    banded.select(col("vec_id"), col("band"), col("bucket"),
      lit(role).as("role"))

  private def topKMerge(members: DataFrame, emb: DataFrame,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.Encoders
    val perBucket = members
      .join(emb.select(col("vec_id"), col("v")), "vec_id")
      .repartition(bucketPartitions(members.sparkSession),
        col("band"), col("bucket"))
      .groupBy(col("band"), col("bucket"))
      .as(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong),
        Encoders.product[BandMember])
      .flatMapGroups((_, it) => bucketTopK(it, k))(
        Encoders.product[ScoredPair])
      .toDF()
    // a pair cohabiting several bands arrives once per band with the
    // same (ncos, nbr): dense_rank gives its copies one rank, so
    // rank ≤ k keeps exactly the k best distinct pairs, and the dedup
    // rides the window's node partitioning (no second exchange)
    val w = Window.partitionBy(col("node"))
      .orderBy(col("ncos").desc, col("nbr"))
    perBucket.withColumn("r", dense_rank().over(w))
      .filter(col("r") <= k)
      .dropDuplicates("node", "nbr")
      .select(col("node"), col("nbr"), col("ncos"))
  }

  /** Each node member's top-`k` qualifying nbr members of one bucket. */
  private def bucketTopK(members: Iterator[BandMember],
      k: Int): Iterator[ScoredPair] = {
    val all = members.toArray
    val nbrs = all.filter(m => (m.role & NbrRole) != 0)
    all.iterator.filter(m => (m.role & NodeRole) != 0).flatMap { x =>
      val cos = new Array[Double](k)
      val ids = new Array[Long](k)
      var n = 0
      var j = 0
      while (j < nbrs.length) {
        val y = nbrs(j)
        if (y.vec_id != x.vec_id && (x.role & y.role & BaseRole) == 0) {
          val c = dotFold(x.v, y.v)
          if (n < k || ranksBefore(c, y.vec_id, cos(k - 1), ids(k - 1))) {
            var i = if (n < k) n else k - 1
            while (i > 0 && ranksBefore(c, y.vec_id, cos(i - 1), ids(i - 1))) {
              cos(i) = cos(i - 1); ids(i) = ids(i - 1); i -= 1
            }
            cos(i) = c; ids(i) = y.vec_id
            if (n < k) n += 1
          }
        }
        j += 1
      }
      Iterator.tabulate(n)(i => ScoredPair(x.vec_id, ids(i), cos(i)))
    }
  }

  /** Σ aᵢ·bᵢ in [[graft.functions.expressions.DotProduct]]'s order. */
  private def dotFold(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** (ncos DESC, nbr ASC) with Spark's double ordering (0.0 = −0.0, NaN
    * above every number).
    */
  private def ranksBefore(c: Double, id: Long, c0: Double,
      id0: Long): Boolean = {
    val cmp = if (c == c0) 0 else java.lang.Double.compare(c, c0)
    cmp > 0 || (cmp == 0 && id < id0)
  }

  /** The directed score-carrying out-adjacency build (full corpus):
    * banding → [[bandedTopK]] at `degree`.
    */
  private[graft] def hnswOutInline(s: SparkSession, dir: String,
      bitsPerBand: Int, bands: Int, degree: Int): DataFrame = {
    val emb = embeddings(s, dir)
    bandedTopK(hnswBanded(emb, bitsPerBand, bands), emb, degree)
  }

  /** The HNSW search's final beam — per query the exact-scored
    * top-`beamWidth` of every node visited through `rounds` best-first
    * rounds, as `(query_id, node, cos)`. [[annHnswTopk]] takes its top-K
    * off it; [[mmrRerankAnn]] feeds it to the MMR rerank as the ANN
    * shortlist (the production retrieval composition).
    */
  private[graft] def annHnswBeam(s: SparkSession, dir: String,
      bitsPerBand: Int, bands: Int, degree: Int, levelMod: Int,
      entries: Int, beamWidth: Int, rounds: Int): DataFrame = {
    val emb = embeddings(s, dir)
    // the adjacency IS the index — served by the HnswIndex seam at the
    // corpus-DERIVED build config (what HnswIndex.build materializes;
    // equals the shipped 8×10 at every gate corpus), built inline for
    // experimental configs (HnswProbe's parameter sweeps)
    val derived = HnswIndex.derivedConfig(s, dir)
    val nbrs =
      if ((bitsPerBand, bands) == derived && degree == HnswIndex.Degree)
        HnswIndex.adjacency(s, dir)
      else hnswAdjacencyInline(s, dir, bitsPerBand, bands, degree)
    // md5-deterministic upper layer (~1/levelMod of the corpus)
    val lvl = conv(substring(md5(
        concat(lit("lvl_"), col("vec_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") % levelMod
    val layer1 = emb.filter(lvl === 0)
      .select(col("vec_id").as("l1"), col("v").as("lv"))
    val qVecs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // entry points: exact top-`entries` of the upper layer per query (a
    // query that IS upper-layer may enter at itself — correct HNSW
    // behavior, its own neighborhood is the best place to start; self is
    // excluded from the final answer below)
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    // the beam CARRIES its scores: scores are static (one exact dot per
    // (query, node), unlike graph-distance searches), so the beam after
    // round r is exactly the top-beamWidth of EVERYTHING scored through
    // round r — frontiers are scored once on arrival, beam members never
    // re-scored, and the final top-K reads straight off the last beam
    // (beamWidth ≥ K + 1 covers the self row dropped below). The oracle
    // restates the same rounds by re-scoring each candidate set — equal
    // output, since dot(qv, v) is bit-reproducible per (query, node).
    val entryScored = layer1.crossJoin(broadcast(qVecs))
      .select(col("query_id"), col("l1").as("node"),
        dot(col("qv"), col("lv")).as("cos"))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= entries)
      .select(col("query_id"), col("node"), col("cos"))
    val wB = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    var beam = entryScored
    for (_ <- 1 to rounds) {
      val frontier = beam.select(col("query_id"), col("node"))
        .join(nbrs, "node")
        .select(col("query_id"), col("nbr").as("node"))
        .distinct()
      val scoredFrontier = frontier
        .join(emb.select(col("vec_id").as("node"), col("v")), "node")
        .join(broadcast(qVecs), "query_id")
        .select(col("query_id"), col("node"),
          dot(col("qv"), col("v")).as("cos"))
      // a frontier node already in the beam carries the identical double
      // (same dot over the same vectors) — distinct() dedupes exactly
      beam = beam.union(scoredFrontier).distinct()
        .withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= beamWidth)
        .select(col("query_id"), col("node"), col("cos"))
        .localCheckpoint()
    }
    beam
  }

  /** Full transliteration of [[annHnswTopk]]: layers, symmetrized
    * neighbor lists, entries, every best-first beam round as a
    * `(f_r, c_r, s_r, b_r)` CTE quadruple, final top-k.
    */
  private[graft] def annHnswOracleFor(degree: Int, levelMod: Int,
      entries: Int, beamWidth: Int, rounds: Int): String = {
    val frontierUnion = (1 to rounds)
      .map(r => s"UNION ALL SELECT query_id, node FROM f$r")
      .mkString("\n    ")
    s"""WITH ${annHnswBeamCtes(degree, levelMod, entries, beamWidth, rounds)},
       |visited AS (
       |  SELECT DISTINCT query_id, node FROM (
       |    SELECT query_id, node FROM b0
       |    $frontierUnion)
       |  WHERE node <> query_id),
       |scored AS (
       |  SELECT vi.query_id, vi.node AS neighbor_id,
       |         list_dot_product(eq.v, en.v) AS cos
       |  FROM visited vi JOIN e eq ON eq.vec_id = vi.query_id
       |                  JOIN e en ON en.vec_id = vi.node)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** The HNSW transliteration's CTE chain through the last beam
    * `b$rounds` (no WITH keyword) — shared by [[annHnswOracleFor]] and
    * the [[mmrRerankAnnOracle]] shortlist so the two restate ONE index.
    */
  private def annHnswBeamCtes(degree: Int, levelMod: Int,
      entries: Int, beamWidth: Int, rounds: Int): String =
    s"""${annHnswSharedCtes(degree, levelMod, entries)},
       |${annHnswBeamLevelCtes(beamWidth, rounds, prefix = "")}""".stripMargin

  /** The per-round best-first beam CTE quadruples alone, name-prefixed so
    * several beam widths can ride ONE shared index chain
    * ([[annBeamSweepOracle]]); the unprefixed form is the
    * [[annHnswBeamCtes]] default. Requires `e`, `nbrs`, `b0` in scope.
    */
  private def annHnswBeamLevelCtes(beamWidth: Int, rounds: Int,
      prefix: String): String =
    (1 to rounds).map { r =>
      val prev = if (r == 1) "b0" else s"${prefix}b${r - 1}"
      s"""${prefix}f$r AS (SELECT b.query_id, n.nbr AS node
         |        FROM $prev b JOIN nbrs n ON n.node = b.node),
         |${prefix}c$r AS (SELECT DISTINCT query_id, node FROM (
         |          SELECT query_id, node FROM $prev
         |          UNION ALL SELECT query_id, node FROM ${prefix}f$r)),
         |${prefix}s$r AS (SELECT c.query_id, c.node,
         |               list_dot_product(eq.v, en.v) AS cos
         |        FROM ${prefix}c$r c JOIN e eq ON eq.vec_id = c.query_id
         |                   JOIN e en ON en.vec_id = c.node),
         |${prefix}b$r AS (SELECT query_id, node FROM (
         |          SELECT query_id, node,
         |                 row_number() OVER (PARTITION BY query_id
         |                   ORDER BY cos DESC, node) AS rn
         |          FROM ${prefix}s$r)
         |        WHERE rn <= $beamWidth)""".stripMargin
    }.mkString(",\n")

  /** The full-rebuild index CTE chain alone (LSH buckets → cohabiting
    * candidates → top-`degree` out lists → symmetrized `nbrs`) — shared
    * by the search oracles ([[annHnswSharedCtes]]) and the maintenance
    * proof ([[incrementalHnswOracle]]) so both restate ONE index build.
    */
  private def hnswNbrsCtes(bitsPerBand: Int, bands: Int,
      degree: Int): String =
    s"""${signLshBucketsOracleCte(bitsPerBand, bands)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
       |  FROM bb a JOIN bb b ON b.band = a.band AND b.bucket = a.bucket
       |   AND b.vec_id <> a.vec_id),
       |nbrs_out AS (
       |  SELECT node, nbr FROM (
       |    SELECT c.node, c.nbr,
       |           row_number() OVER (PARTITION BY c.node
       |             ORDER BY list_dot_product(en.v, eb.v) DESC, c.nbr) AS rn
       |    FROM cand c JOIN e en ON en.vec_id = c.node
       |                JOIN e eb ON eb.vec_id = c.nbr)
       |  WHERE rn <= $degree),
       |nbrs AS (
       |  SELECT DISTINCT node, nbr FROM (
       |    SELECT node, nbr FROM nbrs_out
       |    UNION ALL SELECT nbr AS node, node AS nbr FROM nbrs_out))""".stripMargin

  /** The beam-width-independent index chain: LSH buckets, adjacency,
    * upper layer, queries, entry beam `b0`.
    */
  private def annHnswSharedCtes(degree: Int, levelMod: Int,
      entries: Int): String =
    s"""${hnswNbrsCtes(HnswIndex.BitsPerBand, HnswIndex.Bands, degree)},
       |l1 AS (SELECT vec_id, v FROM e
       |       WHERE (('0x' || substr(md5('lvl_' || CAST(vec_id AS VARCHAR)),
       |               1, 15))::BIGINT % $levelMod) = 0),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE vec_id < $NQueries),
       |b0 AS (
       |  SELECT query_id, node FROM (
       |    SELECT q.query_id, l1.vec_id AS node,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY list_dot_product(q.qv, l1.v) DESC,
       |                      l1.vec_id) AS rn
       |    FROM q, l1)
       |  WHERE rn <= $entries)""".stripMargin

  val annHnswTopkOracle: String =
    annHnswOracleFor(degree = HnswIndex.Degree,
      levelMod = HnswIndex.LevelMod, entries = HnswIndex.Entries,
      beamWidth = HnswIndex.BeamWidth, rounds = HnswIndex.Rounds)

  /** HNSW ef-sweep — the [[annIvfTune]] genre applied to the graph
    * index: recall@K of the best-first search at beam widths 12/24/48
    * against the exact top-K. ef (the beam) is THE recall-for-throughput
    * knob of deployed graph ANN (hnswlib's `ef_search`); per-query work
    * scales as beamWidth·(degree+1)·rounds, so this table IS the
    * recall-vs-cost curve an operator sets ef from. Recall monotonicity
    * in the beam is pinned in DedupOpsSpec (here as data, there as the
    * two-point assertion).
    *
    * Scale shape: three searches over the ONE [[HnswIndex]] seam
    * adjacency (no per-beam index rebuild); each search is the audited
    * frontier-bounded beam; the recall join touches K rows per query per
    * beam. The oracle rides one shared index CTE chain with
    * name-prefixed beam levels per width — three beams, one index.
    */
  /** The sweep's beam widths, DERIVED from the shipped ef so a config
    * change re-centers the recall-vs-cost curve on the new operating
    * point instead of silently measuring a stale one (r14 code-review —
    * the same de-alignment the HnswIndex constant hoist fixed for the
    * search parameters).
    */
  private[graft] val BeamSweepWidths =
    Seq(HnswIndex.BeamWidth / 4, HnswIndex.BeamWidth / 2, HnswIndex.BeamWidth)

  def annBeamSweep(s: SparkSession, dir: String): DataFrame = {
    val beams = BeamSweepWidths
    // ONE search pass for all three widths: the beam table carries `bw`
    // as a key and the truncation filters rn <= bw, so each (bw, query)
    // slice evolves exactly as its independent search would while the
    // sweep pays 3 round-jobs instead of 9 (three sequential searches
    // probed 8.1 s warm; this shape 3.7 s)
    val emb = embeddings(s, dir)
    val nbrs = HnswIndex.adjacency(s, dir)
    val lvl = conv(substring(md5(
        concat(lit("lvl_"), col("vec_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") % HnswIndex.LevelMod
    val layer1 = emb.filter(lvl === 0)
      .select(col("vec_id").as("l1"), col("v").as("lv"))
    val qVecs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    val entryScored = layer1.crossJoin(broadcast(qVecs))
      .select(col("query_id"), col("l1").as("node"),
        dot(col("qv"), col("lv")).as("cos"))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= HnswIndex.Entries)
      .select(col("query_id"), col("node"), col("cos"))
    val bwDim = s.range(0, 1)
      .select(explode(array(beams.map(lit): _*)).as("bw"))
    val wB = Window.partitionBy(col("bw"), col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    var beam = entryScored.crossJoin(broadcast(bwDim))
      .select(col("bw"), col("query_id"), col("node"), col("cos"))
    for (_ <- 1 to HnswIndex.Rounds) {
      val frontier = beam.select(col("bw"), col("query_id"), col("node"))
        .join(nbrs, "node")
        .select(col("bw"), col("query_id"), col("nbr").as("node"))
        .distinct()
      val scoredFrontier = frontier
        .join(emb.select(col("vec_id").as("node"), col("v")), "node")
        .join(broadcast(qVecs), "query_id")
        .select(col("bw"), col("query_id"), col("node"),
          dot(col("qv"), col("v")).as("cos"))
      beam = beam.union(scoredFrontier).distinct()
        .withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= col("bw"))
        .select(col("bw"), col("query_id"), col("node"), col("cos"))
        .localCheckpoint()
    }
    val topk = beam.filter(col("node") =!= col("query_id"))
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= K)
      .select(col("bw"), col("query_id"), col("node").as("neighbor_id"))
    val exact = annCosineTopk(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val hits = topk
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("bw"), col("query_id")).agg(count(lit(1)).as("hits"))
    exact.select(col("query_id")).distinct()
      .crossJoin(broadcast(bwDim))
      .join(hits, Seq("bw", "query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .groupBy(col("bw"))
      .agg(round(avg(col("hits").cast("double") / K), 4).as("mean_recall"))
      .select(col("bw").as("beam_width"), col("mean_recall"))
      .orderBy("beam_width")
  }

  val annBeamSweepOracle: String = {
    val levels = BeamSweepWidths.map(bw =>
      annHnswBeamLevelCtes(bw, rounds = HnswIndex.Rounds, prefix = s"w${bw}_"))
      .mkString(",\n")
    val perBeam = BeamSweepWidths.map { bw =>
      s"""rec$bw AS (
         |  SELECT $bw AS beam_width, round(avg(hits / 5.0), 4)
         |           AS mean_recall
         |  FROM (
         |    SELECT q.query_id, CAST(count(hit.node) AS DOUBLE) AS hits
         |    FROM q LEFT JOIN (
         |      SELECT t.query_id, t.node FROM (
         |        SELECT s.query_id, s.node,
         |               row_number() OVER (PARTITION BY s.query_id
         |                 ORDER BY s.cos DESC, s.node) AS rk
         |        FROM w${bw}_s${HnswIndex.Rounds} s
         |        JOIN w${bw}_b${HnswIndex.Rounds} b ON b.query_id = s.query_id
         |                        AND b.node = s.node
         |        WHERE s.node <> s.query_id) t
         |      JOIN exact x ON x.query_id = t.query_id
         |                  AND x.neighbor_id = t.node
         |      WHERE t.rk <= $K) hit ON hit.query_id = q.query_id
         |    GROUP BY q.query_id))""".stripMargin
    }.mkString(",\n")
    val union = BeamSweepWidths
      .map(bw => s"SELECT beam_width, mean_recall FROM rec$bw")
      .mkString(" UNION ALL ")
    s"""WITH ${annHnswSharedCtes(degree = HnswIndex.Degree,
      levelMod = HnswIndex.LevelMod, entries = HnswIndex.Entries)},
       |$levels,
       |exact AS (
       |  SELECT query_id, neighbor_id FROM ($annCosineTopkOracle)),
       |$perBeam
       |$union ORDER BY beam_width""".stripMargin
  }

  /** MMR diversity rerank (r10): the post-retrieval step the serving
    * ladder lacked — `rrf_fusion` fuses retrieval arms, this
    * de-redundifies the result list. Each query's brute-force-scored
    * candidates stream into ONE [[graft.functions.MmrSelect]] keyed
    * aggregation (bounded top-50 shortlist buffer, merge-associative),
    * whose finish runs the greedy λ=0.7 selection of 10 picks. Scale
    * shape: ≤ shortlist rows per (partition, query) reach the shuffle —
    * never a k-round join chain. The oracle unrolls all 10 greedy steps
    * as SQL CTE levels (the sssp_2step convention), so every pick AND its
    * mmr score are value-checked.
    */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val qVecs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = emb.crossJoin(broadcast(qVecs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        dot(col("qv"), col("v")).as("rel"), col("v"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.MmrSelect.mmrPicks(
        col("cand_id"), col("rel"), col("v"),
        // penalty = the literal 0.3 the oracle prints, NOT 1 − 0.7
        // (which is 0.30000000000000004 — ADVICE r10 fp-parity fix)
        k = 10, lambda = 0.7, penalty = 0.3, shortlist = 50).as("picks"))
      .select(col("query_id"), explode(col("picks")).as("p"))
      .select(col("query_id"), col("p.rank").as("rank"),
        col("p.id").as("neighbor_id"),
        round(col("p.score"), 4).as("mmr"))
      .orderBy("query_id", "rank")
  }

  /** All 10 greedy MMR steps unrolled as CTE levels over the explicit
    * top-50 shortlist; λ and the tie order (score desc, id asc) restated
    * verbatim.
    */
  val mmrRerankOracle: String = {
    val shortCte =
      s"""e AS (SELECT vec_id, ${normalizeOracle("embedding")} AS v
         |      FROM embeddings),
         |sl AS MATERIALIZED (
         |  SELECT query_id, cand_id, rel, v FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |           list_dot_product(q.v, c.v) AS rel, c.v AS v,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY list_dot_product(q.v, c.v) DESC, c.vec_id) AS rn
         |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < $NQueries)
         |  WHERE rn <= 50)""".stripMargin
    s"""WITH $shortCte,
       |${mmrGreedyOracleTail(10)}""".stripMargin
  }

  /** The 10 unrolled greedy MMR CTE levels + final select, over ANY
    * already-defined `sl(query_id, cand_id, rel, v)` shortlist CTE —
    * shared by [[mmrRerankOracle]] (exact shortlist) and
    * [[mmrRerankAnnOracle]] (HNSW-beam shortlist), so both compositions
    * restate ONE greedy selection.
    */
  private def mmrGreedyOracleTail(k: Int): String = {
    val pick1 =
      s"""pick1 AS MATERIALIZED (
         |  SELECT query_id, cand_id, 0.7 * rel AS score, 1 AS rank FROM (
         |    SELECT query_id, cand_id, rel,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY rel DESC, cand_id) AS rn
         |    FROM sl)
         |  WHERE rn = 1)""".stripMargin
    val steps = (2 to k).map { i =>
      val selUnion = (1 until i)
        .map(j => s"SELECT query_id, cand_id FROM pick$j")
        .mkString(" UNION ALL ")
      s"""sel$i AS ($selUnion),
         |pick$i AS MATERIALIZED (
         |  SELECT query_id, cand_id, score, $i AS rank FROM (
         |    SELECT c.query_id, c.cand_id,
         |           0.7 * c.rel - 0.3 * mx.m AS score,
         |           row_number() OVER (PARTITION BY c.query_id
         |             ORDER BY 0.7 * c.rel - 0.3 * mx.m DESC, c.cand_id) AS rn
         |    FROM sl c
         |    JOIN (SELECT c2.query_id, c2.cand_id,
         |                 max(list_dot_product(c2.v, sv.v)) AS m
         |          FROM sl c2
         |          JOIN sel$i si ON si.query_id = c2.query_id
         |          JOIN sl sv ON sv.query_id = si.query_id
         |                    AND sv.cand_id = si.cand_id
         |          GROUP BY c2.query_id, c2.cand_id) mx
         |      ON mx.query_id = c.query_id AND mx.cand_id = c.cand_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel$i s2
         |                      WHERE s2.query_id = c.query_id
         |                        AND s2.cand_id = c.cand_id))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val allPicks = (1 to k)
      .map(i => s"SELECT query_id, cand_id, score, rank FROM pick$i")
      .mkString(" UNION ALL ")
    s"""$pick1,
       |$steps
       |SELECT query_id, rank, cand_id AS neighbor_id,
       |       round(score, 4) AS mmr
       |FROM ($allPicks)
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Index-fed MMR — the production retrieval composition (VERDICT r12
    * #3): the HNSW beam ([[annHnswBeam]], ≤ beamWidth exact-scored
    * candidates per query) replaces [[mmrRerank]]'s exact full-corpus
    * shortlist as the input to the SAME greedy λ=0.7 [[graft.functions.MmrSelect]]
    * selection. This is the 100×-safe serving path: candidate generation
    * touches per query only beam-sized id-keyed lookups against the
    * materialized adjacency, never a corpus crossJoin — the exact
    * [[mmrRerank]] stays as the oracle-driven ground-truth form.
    * Shortlist-source parity (ANN vs exact pick overlap ≥ the HNSW
    * recall gate) is pinned in MmrSelectSpec.
    */
  def mmrRerankAnn(s: SparkSession, dir: String): DataFrame = {
    val (hBits, hBands) = HnswIndex.derivedConfig(s, dir)
    val beam = annHnswBeam(s, dir, bitsPerBand = hBits,
        bands = hBands, degree = HnswIndex.Degree,
        levelMod = HnswIndex.LevelMod, entries = HnswIndex.Entries,
        beamWidth = HnswIndex.BeamWidth, rounds = HnswIndex.Rounds)
      .filter(col("node") =!= col("query_id"))
    val emb = embeddings(s, dir)
    // the beam already carries the exact cos — only the candidate VECTOR
    // (for the diversity penalty) needs the id-keyed lookup
    beam.join(emb.select(col("vec_id").as("node"), col("v")), "node")
      .select(col("query_id"), col("node").as("cand_id"),
        col("cos").as("rel"), col("v"))
      .groupBy(col("query_id"))
      .agg(graft.functions.MmrSelect.mmrPicks(
        col("cand_id"), col("rel"), col("v"),
        k = 10, lambda = 0.7, penalty = 0.3, shortlist = 50).as("picks"))
      .select(col("query_id"), explode(col("picks")).as("p"))
      .select(col("query_id"), col("p.rank").as("rank"),
        col("p.id").as("neighbor_id"),
        round(col("p.score"), 4).as("mmr"))
      .orderBy("query_id", "rank")
  }

  /** The HNSW-beam CTE chain feeding the SAME unrolled greedy MMR levels
    * as [[mmrRerankOracle]] — the last beam `b3` (top-48 of everything
    * the best-first search scored) IS the shortlist, self excluded.
    */
  val mmrRerankAnnOracle: String =
    s"""WITH ${annHnswBeamCtes(degree = HnswIndex.Degree,
      levelMod = HnswIndex.LevelMod, entries = HnswIndex.Entries,
      beamWidth = HnswIndex.BeamWidth, rounds = HnswIndex.Rounds)},
       |sl AS MATERIALIZED (
       |  SELECT b.query_id, b.node AS cand_id,
       |         list_dot_product(eq.v, en.v) AS rel, en.v AS v
       |  FROM b${HnswIndex.Rounds} b JOIN e eq ON eq.vec_id = b.query_id
       |            JOIN e en ON en.vec_id = b.node
       |  WHERE b.node <> b.query_id),
       |${mmrGreedyOracleTail(10)}""".stripMargin

  /** Incremental IVF index maintenance (the [[GraphOps.incrementalEdges]]
    * / [[DedupOps.incrementalDedupEdges]] maintenance algebra applied to
    * the ANN index): an IVF index is an assignment table (vector → nearest
    * coarse centroid) plus per-bucket stats, and a production corpus grows
    * by deltas — you do NOT re-train the quantizer per batch, you assign
    * the delta against the FROZEN centroids and merge its bucket stats
    * into the base index. Base = `vec_id % 10 ≠ 9` (the snapshot the
    * quantizer was trained on: per-label centroid of base vectors only,
    * per-dim rounded 6), delta = the rest, assignment by argmin squared
    * distance with (d, cid) tuple tie-break. The query computes bucket
    * stats PER ERA and merges them full-outer — the maintenance path —
    * while the oracle recomputes everything from a single full-corpus
    * assignment; hash equality IS the maintenance ≡ rebuild proof.
    *
    * Beyond the proof it emits the one signal a real IVF deployment
    * watches: `dist_drift` — mean assigned distance of delta vs base
    * vectors under the frozen quantizer. Drift growing across batches
    * means the corpus distribution has left the centroids behind and the
    * quantizer needs re-training (the IVF analog of a model-drift PSI,
    * [[ModelOps]]).
    *
    * Scale shape: centroids are labels × d (broadcast by construction);
    * each era's assignment is one narrow pass — broadcast cross join +
    * map-side-combined argmin aggregate, NO corpus self-join and no
    * per-vector window; bucket stats are keyed aggregates of ≤ L rows.
    * Checksum is Σ (md5(vec_id) mod 10⁶) · (cid+1) — order-independent,
    * assignment-sensitive.
    */
  /** Train the frozen coarse quantizer of the IVF maintenance family:
    * per-label centroid of the given (base-era) vectors, per-dim rounded
    * 6 — shared verbatim by [[incrementalIvf]] and the streaming
    * maintainer ([[graft.streaming.StreamingIvf]]), so stream and batch
    * assign against ONE quantizer definition.
    */
  private[graft] def ivfCentroids(baseEmb: DataFrame): DataFrame =
    baseEmb
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col")), 6).as("m"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
      .select(col("label").as("cid"), col("cv"))

  /** Assign vectors against a FROZEN centroid table: argmin squared
    * distance (rounded 6) with (d, cid) tuple tie-break — one narrow
    * broadcast cross join + a map-side-combined argmin aggregate.
    */
  private[graft] def ivfAssign(df: DataFrame, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .withColumn("d", round(squaredDistance(col("v"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("cid"))).as("a"))
      .select(col("vec_id"), col("a.cid").as("cid"), col("a.d").as("d"))

  def incrementalIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), toDoubleArray(col("embedding")).as("v"))
    val isDelta = pmod(col("vec_id"), lit(10)) === 9
    val cents = ivfCentroids(emb.filter(!isDelta))
    def assign(df: DataFrame): DataFrame = ivfAssign(df, cents)
    val vecMd5 = conv(substring(md5(col("vec_id").cast("string")), 1, 15),
      16, 10).cast("long") % 1000000L
    def stats(a: DataFrame): DataFrame = a.groupBy(col("cid")).agg(
      count(lit(1)).as("cnt"),
      sum(vecMd5 * (col("cid") + 1)).as("ck"),
      sum(col("d")).as("sd"))
    val bs = stats(assign(emb.filter(!isDelta))).select(col("cid"),
      col("cnt").as("bc"), col("ck").as("bk"), col("sd").as("bd"))
    val ds = stats(assign(emb.filter(isDelta))).select(col("cid"),
      col("cnt").as("dc"), col("ck").as("dk"), col("sd").as("dd"))
    bs.join(ds, Seq("cid"), "full_outer").agg(
      count(lit(1)).as("n_buckets"),
      sum(coalesce(col("bc"), lit(0L)) + coalesce(col("dc"), lit(0L)))
        .as("total_cnt"),
      sum(when(col("dc").isNotNull && col("bc").isNull, 1L).otherwise(0L))
        .as("n_new_buckets"),
      sum(when(col("dc").isNotNull && col("bc").isNotNull, 1L).otherwise(0L))
        .as("n_grown_buckets"),
      sum(coalesce(col("bk"), lit(0L)) + coalesce(col("dk"), lit(0L)))
        .as("checksum"),
      round(sum(coalesce(col("bd"), lit(0.0))) /
        sum(coalesce(col("bc"), lit(0L))), 4).as("base_avg_dist"),
      round(sum(coalesce(col("dd"), lit(0.0))) /
        sum(coalesce(col("dc"), lit(0L))), 4).as("delta_avg_dist"))
      .withColumn("dist_drift",
        round(col("delta_avg_dist") - col("base_avg_dist"), 4))
  }

  /** Single full-corpus assignment against the same frozen base-trained
    * centroids — totals, bucket flags, checksum, and era averages all
    * recomputed from scratch; equality with the query's merged
    * maintenance path is the proof.
    */
  val incrementalIvfOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
      |cents AS (
      |  SELECT label, i AS pos, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
      |  FROM e, LATERAL unnest(generate_series(1, len(embedding))) t(i)
      |  WHERE vec_id % 10 <> 9
      |  GROUP BY label, i),
      |d AS (
      |  SELECT e.vec_id, c.label AS cid,
      |         round(sum((CAST(e.embedding[c.pos] AS DOUBLE) - c.m)
      |                 * (CAST(e.embedding[c.pos] AS DOUBLE) - c.m)), 6) AS d
      |  FROM e, cents c
      |  GROUP BY e.vec_id, c.label),
      |a AS (
      |  SELECT vec_id, cid, d,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |  FROM d),
      |asg AS (SELECT vec_id, cid, d FROM a WHERE rn = 1),
      |buckets AS (
      |  SELECT cid,
      |         count(*) FILTER (vec_id % 10 <> 9) AS bc,
      |         count(*) FILTER (vec_id % 10 = 9) AS dc,
      |         sum((('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
      |               % 1000000) * (cid + 1)) AS ck
      |  FROM asg GROUP BY cid)
      |SELECT count(*) AS n_buckets,
      |       CAST(sum(bc + dc) AS BIGINT) AS total_cnt,
      |       CAST(count(*) FILTER (dc > 0 AND bc = 0) AS BIGINT) AS n_new_buckets,
      |       CAST(count(*) FILTER (dc > 0 AND bc > 0) AS BIGINT) AS n_grown_buckets,
      |       CAST(sum(ck) AS BIGINT) AS checksum,
      |       (SELECT round(avg(d), 4) FROM asg WHERE vec_id % 10 <> 9)
      |         AS base_avg_dist,
      |       (SELECT round(avg(d), 4) FROM asg WHERE vec_id % 10 = 9)
      |         AS delta_avg_dist,
      |       round((SELECT round(avg(d), 4) FROM asg WHERE vec_id % 10 = 9)
      |          - (SELECT round(avg(d), 4) FROM asg WHERE vec_id % 10 <> 9), 4)
      |         AS dist_drift
      |FROM buckets""".stripMargin

  /** Incremental HNSW index maintenance (r14 — VERDICT r13 #2, the
    * [[incrementalIvf]] / [[ClusterOps.incrementalLabels]] maintenance ≡
    * rebuild convention applied to the graph-ANN artifact): a production
    * HNSW deployment persists the adjacency ([[HnswIndex.saveOut]]) and
    * INSERTS arriving vectors; it never rebuilds the graph per batch.
    * Base = `vec_id % 10 ≠ 9` (the persisted snapshot: top-`Degree`
    * score-carrying out-lists over base-only bucket cohabitants), delta =
    * the rest. Maintenance scores ONLY the delta-involving pairs (the
    * banded top-K kernel's insert form: delta → all ∪ base → delta in the
    * delta's buckets — |delta| × bucket occupancy work, not a corpus
    * self-join), keeps each node's top-`Degree` of them, and re-ranks
    * over (kept base edges ∪ those) via [[HnswIndex.insert]] —
    * correct by pigeonhole: a rebuild's pick is either delta-involving
    * (all present) or a base-base edge that outranked all but < Degree
    * base candidates (so it survived the base artifact's own cut).
    *
    * The output is the per-node digest of the SERVED symmetrized
    * adjacency (degree + neighbor-id sum/min/max — assignment-sensitive,
    * order-free), while the oracle digests a single full-corpus rebuild:
    * hash equality IS the maintenance ≡ rebuild proof, edge set for edge
    * set. HnswIndexSpec pins the same equality frame-level (insert vs
    * [[HnswIndex.buildOut]]) plus the save/load round trip.
    *
    * Scale shape: both eras are narrow filters of ONE banding pass; the
    * base build is the banded top-K kernel over the base era; the
    * maintenance pass is delta-banding-sized on one side; the re-rank
    * window is bounded by 2 × degree rows per node. No corpus×corpus
    * anywhere.
    */
  def incrementalHnsw(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val isDelta = pmod(col("vec_id"), lit(10)) === 9
    val (hBits, hBands) = HnswIndex.derivedConfig(s, dir)
    val banded = hnswBanded(emb, hBits, hBands)
      .localCheckpoint() // 4 consumers (base self-join ×2, delta joins ×2);
                         // measured sf0.1 warm: 1.63 s with / 1.88 without
    val bandedBase = banded.filter(!isDelta)
    val bandedDelta = banded.filter(isDelta)
    // the persisted artifact, built here from the base era (production
    // loads it via HnswIndex.loadOut — parquet round-trip exact)
    val baseOut = bandedTopK(bandedBase, emb, HnswIndex.Degree)
    // delta-involving pairs only: (delta → any) ∪ (base → delta)
    val maintained = HnswIndex.insert(baseOut,
      bandedInsertTopK(bandedBase, bandedDelta, emb, HnswIndex.Degree))
    val sym = maintained.select(col("node"), col("nbr"))
      .unionByName(maintained.select(col("nbr").as("node"),
        col("node").as("nbr")))
      .distinct()
    sym.groupBy(col("node")).agg(
        count(lit(1)).as("deg"),
        sum(col("nbr")).as("nbr_sum"),
        min(col("nbr")).as("nbr_min"),
        max(col("nbr")).as("nbr_max"))
      .orderBy("node")
  }

  /** Single full-corpus rebuild of the shipped adjacency (the
    * [[hnswNbrsCtes]] chain the search oracles ride), digested per node —
    * equality with the query's maintained artifact is the proof.
    */
  val incrementalHnswOracle: String =
    s"""WITH ${hnswNbrsCtes(HnswIndex.BitsPerBand, HnswIndex.Bands,
      HnswIndex.Degree)}
       |SELECT node, count(*) AS deg, CAST(sum(nbr) AS BIGINT) AS nbr_sum,
       |       min(nbr) AS nbr_min, max(nbr) AS nbr_max
       |FROM nbrs GROUP BY node ORDER BY node""".stripMargin

  /** Hubness audit (Radovanović et al. 2010, "Hubs in Space": the
    * high-dimensional pathology where a few vectors appear in
    * disproportionately many k-NN lists while many appear in none) — the
    * index-quality diagnostic an ANN deployment runs BEFORE trusting
    * top-k results, because hubs dominate retrieval and antihubs become
    * unreachable regardless of index type. k-occurrence N_k(x) = |{q :
    * x ∈ top-k(q)}| over the within-label exact top-K (the
    * [[dedupEmbeddingCosine]]-style label block bounds the quadratic the
    * way that whole family does), then per label: listed/never-listed
    * (antihub) counts, max and dispersion of N_k, and the coefficient of
    * variation as the hubness score — CV ≈ 0 means flat neighbor
    * occurrence, CV ≫ 0 means hub domination.
    *
    * Scale shape: the label equi-join is the established exact-baseline
    * block pattern; the only global exchanges are the per-query top-k
    * window (qid-keyed) and two keyed aggregates whose outputs are ≤
    * corpus and ≤ label-count rows respectively.
    */
  def annHubness(s: SparkSession, dir: String): DataFrame = {
    // spread before the label-block self-join: the broadcast join keeps
    // the stream side's layout, so the |label-block|² dot-product pass
    // runs with as many tasks as this frame has partitions
    val emb = Tables.spread(embeddings(s, dir), col("vec_id"))
    val a = emb.select(col("vec_id").as("qid"), col("label"), col("v").as("qv"))
    val b = emb.select(col("vec_id").as("nid"), col("label"), col("v").as("nv"))
    val scored = a.join(b, Seq("label")).filter(col("qid") =!= col("nid"))
      .select(col("label"), col("qid"), col("nid"),
        // 6-rounded BEFORE ranking: rank membership at the top-K boundary
        // must not hinge on a last-ulp cross-engine cosine difference;
        // rounded ties break on nid identically in both engines
        round(dot(col("qv"), col("nv")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val occ = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .groupBy(col("label"), col("nid"))
      .agg(count(lit(1)).as("n_k"))
    val sizes = emb.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    occ.groupBy(col("label")).agg(
        count(lit(1)).as("n_listed"),
        max(col("n_k")).as("max_occ"),
        round(avg(col("n_k")), 4).as("mean_occ"),
        round(stddev_samp(col("n_k")), 4).as("sd_occ"))
      .join(sizes, "label")
      .select(col("label"), col("n_vecs"),
        col("n_listed"), (col("n_vecs") - col("n_listed")).as("n_antihubs"),
        col("max_occ"), col("mean_occ"), col("sd_occ"),
        round(col("sd_occ") / col("mean_occ"), 4).as("hubness_cv"))
      .orderBy("label")
  }

  val annHubnessOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |           sqrt(list_sum(list_transform(embedding,
       |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
       |  FROM embeddings),
       |scored AS (
       |  SELECT a.label, a.vec_id AS qid, b.vec_id AS nid,
       |         round(list_sum(list_transform(generate_series(1, len(a.v)),
       |           i -> a.v[i] * b.v[i])), 6) AS cos
       |  FROM e a JOIN e b ON b.label = a.label AND b.vec_id <> a.vec_id),
       |topk AS (
       |  SELECT label, nid FROM (
       |    SELECT label, nid,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY cos DESC, nid) AS rk
       |    FROM scored) WHERE rk <= $K),
       |occ AS (
       |  SELECT label, nid, count(*) AS n_k FROM topk GROUP BY label, nid),
       |sizes AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label),
       |prof AS (
       |  SELECT label, count(*) AS n_listed, max(n_k) AS max_occ,
       |         round(avg(n_k), 4) AS mean_occ,
       |         round(stddev_samp(n_k), 4) AS sd_occ
       |  FROM occ GROUP BY label)
       |SELECT p.label, s.n_vecs, p.n_listed,
       |       s.n_vecs - p.n_listed AS n_antihubs,
       |       p.max_occ, p.mean_occ, p.sd_occ,
       |       round(p.sd_occ / p.mean_occ, 4) AS hubness_cv
       |FROM prof p JOIN sizes s USING (label)
       |ORDER BY p.label""".stripMargin

  /** Dimension-truncation retrieval audit (the Matryoshka-representation
    * deployment question — Kusupati et al. 2022: MRL embeddings are
    * trained so PREFIXES of the vector are themselves usable embeddings,
    * and production retrieval runs the cheap truncated prefix first):
    * before switching the index to d/2-dim prefixes, measure what top-K
    * agreement survives. Per query: exact top-K under the full 64-dim
    * cosine vs top-K under the 32-dim prefix cosine (prefix RE-normalized,
    * the MRL convention — an unnormalized prefix conflates norm loss with
    * direction change), overlap, and recall@K. The corpus-level mean
    * recall is the go/no-go number for halving index cost.
    *
    * Scale shape: both rankings ride the one broadcast-queries ×
    * partitioned-corpus pass the exact baseline uses ([[annCosineTopk]]);
    * the truncated side projects 32 of 64 dims BELOW the join, so it scans
    * half the vector bytes — exactly the saving the truncated index buys
    * at 100 TB. Cosines 6-rounded before ranking (the [[annHubness]]
    * boundary argument).
    *
    * Measured verdict on THIS corpus: mean recall@5 = 0.30 (0.2–0.6 per
    * query) — honest and expected: these synthetic embeddings are random
    * Gaussians, not MRL-trained, so information is spread uniformly
    * across dims and truncation loses half of it. The audit's job is
    * exactly to return that "do not truncate this index" verdict; on
    * true Matryoshka embeddings the same query reads ≈0.9+ and
    * greenlights the switch.
    */
  def annTruncatedRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("full"))
      .select(col("vec_id"), normalize(col("full")).as("v"),
        normalize(slice(col("full"), 1, 32)).as("t"))
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("t").as("qt"))
    val scored = emb.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nid"),
        round(dot(col("qv"), col("v")), 6).as("cf"),
        round(dot(col("qt"), col("t")), 6).as("ct"))
    def topk(scoreCol: String) = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col(scoreCol).desc, col("nid"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K).select(col("query_id"), col("nid"))
    }
    topk("cf").join(topk("ct"), Seq("query_id", "nid"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      .join(queries.select(col("query_id")), Seq("query_id"), "right")
      .select(col("query_id"), lit(K).as("k"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall",
        round(col("n_overlap") / lit(K.toDouble), 4))
      .orderBy("query_id")
  }

  val annTruncatedRecallOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |           sqrt(list_sum(list_transform(embedding,
       |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v,
       |         list_transform(embedding[1:32], x -> CAST(x AS DOUBLE) /
       |           sqrt(list_sum(list_transform(embedding[1:32],
       |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS t
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv, t AS qt FROM e
       |      WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS nid,
       |         round(list_sum(list_transform(generate_series(1, len(e.v)),
       |           i -> q.qv[i] * e.v[i])), 6) AS cf,
       |         round(list_sum(list_transform(generate_series(1, len(e.t)),
       |           i -> q.qt[i] * e.t[i])), 6) AS ct
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |tf AS (SELECT query_id, nid FROM (
       |  SELECT query_id, nid, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cf DESC, nid) AS rk FROM scored) WHERE rk <= $K),
       |tt AS (SELECT query_id, nid FROM (
       |  SELECT query_id, nid, row_number() OVER (PARTITION BY query_id
       |    ORDER BY ct DESC, nid) AS rk FROM scored) WHERE rk <= $K),
       |ov AS (
       |  SELECT tf.query_id, count(*) AS n_overlap
       |  FROM tf JOIN tt ON tt.query_id = tf.query_id AND tt.nid = tf.nid
       |  GROUP BY tf.query_id)
       |SELECT q.query_id, $K AS k,
       |       coalesce(ov.n_overlap, 0) AS n_overlap,
       |       round(coalesce(ov.n_overlap, 0) / ${K.toDouble}, 4) AS recall
       |FROM q LEFT JOIN ov ON ov.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin

  /** Hard-negative mining for contrastive training — the step every
    * embedding-model data pipeline runs between "collect pairs" and
    * "train" (DPR's BM25 negatives, SimCSE's in-batch upgrade): for each
    * query vector, the 3 most-similar vectors with a DIFFERENT label (the
    * hardest negatives), next to the query's hardest POSITIVE (max
    * same-label cosine). margin = pos_cos − neg_cos; a NEGATIVE margin
    * means that negative outranks every positive — exactly the example a
    * contrastive loss most needs to see, and the rows a curriculum would
    * schedule first.
    *
    * Scale shape: one broadcast-queries × partitioned-corpus pass (the
    * [[annCosineTopk]] skeleton); the negative top-k (per-query window)
    * and the positive max (map-side-combined aggregate) both ride that
    * single scored pass, so the corpus is scanned once. Cosines 6-rounded
    * before ranking ([[annHubness]] boundary argument).
    */
  def hardNegativeMining(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"))
    val scored = emb.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"),
        col("vec_id").as("neighbor_id"), col("label"),
        round(dot(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val topNeg = scored.filter(col("label") =!= col("qlabel"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
    val bestPos = scored.filter(col("label") === col("qlabel"))
      .groupBy(col("query_id")).agg(max(col("cos")).as("pc"))
    topNeg.join(bestPos, "query_id")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("label").as("neg_label"),
        round(col("cos"), 4).as("neg_cos"),
        round(col("pc"), 4).as("pos_cos"),
        round(col("pc") - col("cos"), 4).as("margin"))
      .orderBy("query_id", "rank")
  }

  val hardNegativeMiningOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |           sqrt(list_sum(list_transform(embedding,
       |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e
       |      WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label,
       |         round(list_sum(list_transform(generate_series(1, len(e.v)),
       |           i -> q.qv[i] * e.v[i])), 6) AS cos
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |neg AS (SELECT query_id, rank, neighbor_id, label, cos FROM (
       |  SELECT query_id, neighbor_id, label, cos,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored WHERE label <> qlabel) WHERE rank <= 3),
       |pos AS (SELECT query_id, max(cos) AS pc FROM scored
       |        WHERE label = qlabel GROUP BY query_id)
       |SELECT n.query_id, n.rank, n.neighbor_id, n.label AS neg_label,
       |       round(n.cos, 4) AS neg_cos, round(p.pc, 4) AS pos_cos,
       |       round(p.pc - n.cos, 4) AS margin
       |FROM neg n JOIN pos p USING (query_id)
       |ORDER BY n.query_id, n.rank""".stripMargin

  /** Retrieval-quality metrics table — the evaluation harness that sits
    * next to every ANN index choice: for each approximate method, macro-
    * averaged recall@K, MRR@K and nDCG@K against the exact full-dimension
    * cosine top-K. Methods here are the two cheap transliterable index
    * shapes: `ivf_nprobe1` (candidates = query's own label bucket, ranked
    * by full cosine — [[annIvfTopk]]'s shape) and `trunc32` (all
    * candidates ranked by the re-normalized 32-dim prefix cosine —
    * [[annTruncatedRecall]]'s shape). Binary relevance (membership in the
    * exact top-K); nDCG uses the standard 1/log2(rank+1) gains, so it
    * rewards putting the true neighbors EARLY, which recall alone cannot
    * see — the reason both columns exist.
    *
    * Scale shape: every ranking rides the one broadcast-queries ×
    * partitioned-corpus scored pass; the metric algebra after the top-K
    * windows touches O(methods × queries × K) rows only. Per-query
    * metrics 6-rounded, macro averages 4-rounded, identically in both
    * engines.
    */
  def retrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        toDoubleArray(col("embedding")).as("full"))
      .select(col("vec_id"), col("label"), normalize(col("full")).as("v"),
        normalize(slice(col("full"), 1, 32)).as("t"))
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("t").as("qt"))
    val scored = emb.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("vec_id").as("nid"),
        col("label"),
        round(dot(col("qv"), col("v")), 6).as("cf"),
        round(dot(col("qt"), col("t")), 6).as("ct"))
    def topk(df: DataFrame, scoreCol: String): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col(scoreCol).desc, col("nid"))
      df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("rank"), col("nid"))
    }
    val exact = topk(scored, "cf").select(col("query_id"), col("nid"))
    val runs = topk(scored.filter(col("label") === col("qlabel")), "cf")
        .withColumn("method", lit("ivf_nprobe1"))
      .unionByName(topk(scored, "ct").withColumn("method", lit("trunc32")))
    val judged = runs
      .join(exact.withColumn("rel", lit(1)), Seq("query_id", "nid"), "left")
      .na.fill(0, Seq("rel"))
    // idcg spelled as the same 1/log2(i+1) chain the oracle uses, so both
    // engines share any last-ulp log2 behavior instead of diverging on it
    val idcg = (1 to K).map(i => lit(1.0) / log2(lit((i + 1).toDouble)))
      .reduce(_ + _)
    val perQuery = judged.groupBy(col("method"), col("query_id")).agg(
      round(sum(col("rel")) / lit(K.toDouble), 6).as("recall"),
      round(coalesce(max(col("rel") / col("rank")), lit(0.0)), 6).as("rr"),
      round(sum(col("rel") / log2(col("rank") + 1)) / idcg, 6).as("ndcg"))
    perQuery.groupBy(col("method")).agg(
        count(lit(1)).as("n_queries"),
        round(avg(col("recall")), 4).as("mean_recall"),
        round(avg(col("rr")), 4).as("mean_mrr"),
        round(avg(col("ndcg")), 4).as("mean_ndcg"))
      .orderBy("method")
  }

  val retrievalMetricsOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |           sqrt(list_sum(list_transform(embedding,
       |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v,
       |         list_transform(embedding[1:32], x -> CAST(x AS DOUBLE) /
       |           sqrt(list_sum(list_transform(embedding[1:32],
       |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS t
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, t AS qt
       |      FROM e WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.query_id, q.qlabel, e.vec_id AS nid, e.label,
       |         round(list_sum(list_transform(generate_series(1, len(e.v)),
       |           i -> q.qv[i] * e.v[i])), 6) AS cf,
       |         round(list_sum(list_transform(generate_series(1, len(e.t)),
       |           i -> q.qt[i] * e.t[i])), 6) AS ct
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |exact AS (SELECT query_id, nid FROM (
       |  SELECT query_id, nid, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cf DESC, nid) AS rk FROM scored) WHERE rk <= $K),
       |runs AS (
       |  SELECT 'ivf_nprobe1' AS method, query_id, rank, nid FROM (
       |    SELECT query_id, nid, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cf DESC, nid) AS rank
       |    FROM scored WHERE label = qlabel) WHERE rank <= $K
       |  UNION ALL
       |  SELECT 'trunc32' AS method, query_id, rank, nid FROM (
       |    SELECT query_id, nid, row_number() OVER (PARTITION BY query_id
       |      ORDER BY ct DESC, nid) AS rank
       |    FROM scored) WHERE rank <= $K),
       |judged AS (
       |  SELECT r.method, r.query_id, r.rank,
       |         CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS rel
       |  FROM runs r LEFT JOIN exact x
       |    ON x.query_id = r.query_id AND x.nid = r.nid),
       |perq AS (
       |  SELECT method, query_id,
       |         round(sum(rel) / ${K.toDouble}, 6) AS recall,
       |         round(coalesce(max(rel / rank), 0.0), 6) AS rr,
       |         round(sum(rel / log2(rank + 1)) /
       |           (${(1 to K).map(i => s"1.0/log2(${i + 1}.0)").mkString(" + ")}), 6) AS ndcg
       |  FROM judged GROUP BY method, query_id)
       |SELECT method, count(*) AS n_queries,
       |       round(avg(recall), 4) AS mean_recall,
       |       round(avg(rr), 4) AS mean_mrr,
       |       round(avg(ndcg), 4) AS mean_ndcg
       |FROM perq GROUP BY method ORDER BY method""".stripMargin

  /** Filtered vector search audit — the pre-filter vs post-filter
    * question every metadata-filtered ANN deployment answers (the
    * pgvector/vector-DB "filtered search" problem): ground truth is the
    * top-K among vectors PASSING the predicate (here: even label — a
    * ~50%-selective metadata filter); the cheap serving path takes the
    * UNFILTERED top-20 and keeps survivors. Per query: how many of the
    * 20 survive the filter and what filtered recall@K that yields.
    * Post-filter recall collapses when the predicate is selective or
    * anti-correlated with the query neighborhood — this table is the
    * per-query evidence for switching to pre-filtered (or bitmap-fused)
    * candidate generation.
    *
    * Scale shape: ONE broadcast-queries × partitioned-corpus scored pass
    * (checkpointed); ground truth, the top-20, and the survivor re-rank
    * are three per-query windows over it, and the windows past the first
    * touch ≤ 20 rows per query. Cosines 6-rounded before ranking
    * ([[annHubness]] boundary argument).
    */
  def annFilteredTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = emb.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nid"),
        (col("label") % 2 === 0).as("pass"),
        round(dot(col("qv"), col("v")), 6).as("c"))
      // r13 ckpt audit: REMOVED — A/B at sf0.1 warm read 0.95 s with /
      // 0.90 s without (a wash); the NQueries×corpus materialization is
      // pure block-manager pressure when re-scoring costs the same
    def ranked(df: DataFrame, n: Int) = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("c").desc, col("nid"))
      df.withColumn("rk", row_number().over(w)).filter(col("rk") <= n)
    }
    val truth = ranked(scored.filter(col("pass")), K)
      .select(col("query_id"), col("nid"))
    val top20 = ranked(scored, 20)
    val post = ranked(top20.filter(col("pass")).drop("rk"), K)
      .select(col("query_id"), col("nid"))
    val survivors = top20.filter(col("pass"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_survivors"))
    val hits = post.join(truth, Seq("query_id", "nid"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    queries.select(col("query_id"))
      .join(survivors, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_survivors", "n_hit"))
      .select(col("query_id"), col("n_survivors"),
        round(col("n_hit") / lit(K.toDouble), 4).as("post_filter_recall"))
      .orderBy("query_id")
  }

  val annFilteredTopkOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |           sqrt(list_sum(list_transform(embedding,
       |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS nid, e.label % 2 = 0 AS pass,
       |         round(list_sum(list_transform(generate_series(1, len(e.v)),
       |           i -> q.qv[i] * e.v[i])), 6) AS c
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |truth AS (SELECT query_id, nid FROM (
       |  SELECT query_id, nid, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, nid) AS rk FROM scored WHERE pass)
       |  WHERE rk <= $K),
       |top20 AS (SELECT query_id, nid, pass, c FROM (
       |  SELECT query_id, nid, pass, c,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY c DESC, nid) AS rk FROM scored)
       |  WHERE rk <= 20),
       |post AS (SELECT query_id, nid FROM (
       |  SELECT query_id, nid, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, nid) AS rk FROM top20 WHERE pass)
       |  WHERE rk <= $K),
       |sv AS (SELECT query_id, count(*) AS n_survivors FROM top20
       |       WHERE pass GROUP BY query_id),
       |hits AS (
       |  SELECT p.query_id, count(*) AS n_hit
       |  FROM post p JOIN truth t
       |    ON t.query_id = p.query_id AND t.nid = p.nid
       |  GROUP BY p.query_id)
       |SELECT q.query_id,
       |       CAST(coalesce(sv.n_survivors, 0) AS BIGINT) AS n_survivors,
       |       round(coalesce(hits.n_hit, 0) / ${K.toDouble}, 4)
       |         AS post_filter_recall
       |FROM q LEFT JOIN sv ON sv.query_id = q.query_id
       |LEFT JOIN hits ON hits.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin

  /** IVF nprobe tuning table — the [[DedupOps.dedupLshTune]] genre for the
    * vector index: the SAME partitioned corpus and the SAME coarse
    * quantizer (per-label centroids), read at nprobe ∈ {1, 2, 3}, each row
    * reporting mean recall@K against the exact baseline next to the mean
    * candidate count and scan fraction the probe level costs. This is the
    * recall-vs-throughput curve an IVF deployment picks its operating
    * point from; [[annIvfTopk]]/[[annIvfProbe2]] are the np=1/2 serving
    * shapes, this is the tuning-time sweep that justifies them.
    *
    * Scale shape: centroid ranking touches only |labels|×d aggregates and
    * a 10×|labels| rank table; the corpus is scanned ONCE into the scored
    * frame (broadcast queries + broadcast probe table, all narrow),
    * `localCheckpoint`ed, and the four top-K windows + candidate-count
    * aggregate read the materialized frame — probe sets nest
    * (np=1 ⊂ np=2 ⊂ np=3), so one `label_rank` column serves all three.
    * Cosines 6-rounded before ranking ([[annHubness]] boundary argument).
    */
  def annIvfTune(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"))
    val byDim = emb.select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos")).agg(avg(col("col")).as("m"))
    val cNorm = byDim.groupBy(col("label"))
      .agg(sqrt(sum(col("m") * col("m"))).as("cn"))
    val qDim = queries
      .select(col("query_id"), posexplode(col("qv")).as(Seq("pos", "qx")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cq").desc, col("label"))
    val probe = qDim.join(byDim, "pos")
      .groupBy(col("query_id"), col("label"))
      .agg(sum(col("qx") * col("m")).as("dotqm"))
      .join(broadcast(cNorm), "label")
      .select(col("query_id"), col("label"),
        round(col("dotqm") / col("cn"), 6).as("cq"))
      .withColumn("label_rank", row_number().over(wq))
      .filter(col("label_rank") <= 3)
      .select(col("query_id"), col("label"), col("label_rank"))
    val scored = emb.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nid"), col("label"),
        round(dot(col("qv"), col("v")), 6).as("c"))
      .join(broadcast(probe), Seq("query_id", "label"), "left")
      // r13 ckpt audit: the scored pass feeds 4 top-K windows + the
      // candidate count; A/B at sf0.1 warm: 2.57 s with / 3.39 s
      // without — keep
      .localCheckpoint()
    def topk(df: DataFrame) = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("c").desc, col("nid"))
      df.withColumn("rk", row_number().over(w)).filter(col("rk") <= K)
        .select(col("query_id"), col("nid"))
    }
    val exact = topk(scored)
    val runs = (1 to 3).map { np =>
      topk(scored.filter(col("label_rank") <= np))
        .withColumn("nprobe", lit(np))
    }.reduce(_ unionByName _)
    val recalls = runs
      .join(exact.withColumn("rel", lit(1)), Seq("query_id", "nid"), "left")
      .na.fill(0, Seq("rel"))
      .groupBy(col("nprobe"), col("query_id"))
      .agg(round(sum(col("rel")) / lit(K.toDouble), 6).as("recall"))
      .groupBy(col("nprobe"))
      .agg(round(avg(col("recall")), 4).as("mean_recall"))
    val perQueryCands = scored.groupBy(col("query_id"))
      .agg(sum(when(col("label_rank") <= 1, 1).otherwise(0)).as("nc1"),
        sum(when(col("label_rank") <= 2, 1).otherwise(0)).as("nc2"),
        sum(when(col("label_rank") <= 3, 1).otherwise(0)).as("nc3"))
    val cands = perQueryCands
      .agg(avg(col("nc1")).as("mc1"), avg(col("nc2")).as("mc2"),
        avg(col("nc3")).as("mc3"))
      .select(explode(array((1 to 3).map(np =>
        struct(lit(np).as("nprobe"),
          round(col(s"mc$np"), 2).as("mean_candidates"))): _*)).as("x"))
      .select(col("x.nprobe"), col("x.mean_candidates"))
    val n = emb.agg(count(lit(1)).as("n_corpus"))
    recalls.join(cands, "nprobe")
      .crossJoin(broadcast(n))
      .select(col("nprobe"), col("mean_recall"), col("mean_candidates"),
        round(col("mean_candidates") / (col("n_corpus") - 1), 4)
          .as("scan_frac"))
      .orderBy("nprobe")
  }

  val annIvfTuneOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |           sqrt(list_sum(list_transform(embedding,
       |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e
       |      WHERE vec_id < $NQueries),
       |bydim AS (
       |  SELECT label, i AS pos, avg(v[i]) AS m
       |  FROM e, LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY label, i),
       |cn AS (SELECT label, sqrt(sum(m * m)) AS cn FROM bydim
       |       GROUP BY label),
       |probe AS (
       |  SELECT query_id, label, label_rank FROM (
       |    SELECT query_id, label,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cq DESC, label) AS label_rank
       |    FROM (
       |      SELECT qd.query_id, bydim.label,
       |             round(sum(qd.qx * bydim.m) / any_value(cn.cn), 6) AS cq
       |      FROM (SELECT query_id, i AS pos, qv[i] AS qx
       |            FROM q, LATERAL unnest(generate_series(1, len(qv))) t(i))
       |        qd
       |      JOIN bydim USING (pos) JOIN cn ON cn.label = bydim.label
       |      GROUP BY qd.query_id, bydim.label))
       |  WHERE label_rank <= 3),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS nid, e.label, p.label_rank,
       |         round(list_sum(list_transform(generate_series(1, len(e.v)),
       |           i -> q.qv[i] * e.v[i])), 6) AS c
       |  FROM e JOIN q ON e.vec_id <> q.query_id
       |  LEFT JOIN probe p
       |    ON p.query_id = q.query_id AND p.label = e.label),
       |exact AS (SELECT query_id, nid FROM (
       |  SELECT query_id, nid, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, nid) AS rk FROM scored) WHERE rk <= $K),
       |runs AS (${(1 to 3).map(np =>
           s"""SELECT $np AS nprobe, query_id, nid FROM (
              |    SELECT query_id, nid, row_number() OVER (
              |      PARTITION BY query_id ORDER BY c DESC, nid) AS rk
              |    FROM scored WHERE label_rank <= $np) WHERE rk <= $K"""
             .stripMargin).mkString("\n  UNION ALL\n  ")}),
       |recalls AS (
       |  SELECT nprobe, round(avg(recall), 4) AS mean_recall FROM (
       |    SELECT nprobe, r.query_id,
       |           round(sum(CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END)
       |             / ${K.toDouble}, 6) AS recall
       |    FROM runs r LEFT JOIN exact x
       |      ON x.query_id = r.query_id AND x.nid = r.nid
       |    GROUP BY nprobe, r.query_id)
       |  GROUP BY nprobe),
       |cands AS (
       |  SELECT nprobe, round(avg(nc), 2) AS mean_candidates FROM (
       |    SELECT u.nprobe, query_id,
       |           sum(CASE WHEN label_rank <= u.nprobe THEN 1 ELSE 0 END)
       |             AS nc
       |    FROM scored, (SELECT unnest([1, 2, 3]) AS nprobe) u
       |    GROUP BY u.nprobe, query_id)
       |  GROUP BY nprobe),
       |nn AS (SELECT count(*) AS n_corpus FROM e)
       |SELECT r.nprobe, r.mean_recall, c.mean_candidates,
       |       round(c.mean_candidates / (nn.n_corpus - 1), 4) AS scan_frac
       |FROM recalls r JOIN cands c USING (nprobe), nn
       |ORDER BY r.nprobe""".stripMargin

  /** Greedy k-center coreset selection (Gonzalez 1985's farthest-first
    * traversal, the 2-approximation every coreset-based data-selection
    * pipeline starts from): seed with vec_id 0, then each round add the
    * corpus point FARTHEST (max-min cosine distance, min-vec_id
    * tie-break) from the already-selected set. The emitted `dist` column
    * is each center's distance to the prior set at selection time — a
    * non-increasing sequence whose tail is the covering radius, i.e. the
    * "how redundant is my corpus" curve a data-selection budget is read
    * off of.
    *
    * Scale shape: the selected set is tiny (≤ rounds rows), so each round
    * broadcasts it as ONE collected-struct row and the min-over-centers
    * is a narrow `array_min(transform(...))` map over the partitioned
    * corpus — no shuffle at all; the round reduces to a single max_by
    * aggregate (partial-combined, ties broken by vec_id inside the
    * comparison struct so the argmax is order-independent). R rounds = R
    * corpus scans, the greedy algorithm's honest cost; centers are
    * `localCheckpoint`ed per round so lineage stays flat
    * ([[kmeansIterate]] discipline — jobs run at construction).
    * Distances 6-rounded before comparison ([[annHubness]] boundary
    * argument); display 4-rounded.
    */
  def kcenterCoreset(s: SparkSession, dir: String,
      rounds: Int = 6): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"), col("v"))
    var centers = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        lit(1).as("round"), lit(0.0).as("dist"))
      .localCheckpoint()
    for (r <- 2 to rounds) {
      val cs = centers.agg(collect_list(struct(col("cv"))).as("cs"))
      val sel = emb.crossJoin(broadcast(cs))
        .select(col("vec_id"), col("v"),
          array_min(transform(col("cs"), c =>
            round(lit(1.0) - dot(c.getField("cv"), col("v")), 6))).as("md"))
        .agg(max_by(
          struct(col("vec_id").as("c_id"), col("v").as("cv"),
            col("md").as("dist")),
          struct(col("md"), (-col("vec_id")).as("tb"))).as("sel"))
        .select(col("sel.c_id").as("c_id"), col("sel.cv").as("cv"),
          lit(r).as("round"), col("sel.dist").as("dist"))
      centers = centers.unionByName(sel).localCheckpoint()
    }
    centers.select(col("round"), col("c_id").as("vec_id"),
        round(col("dist"), 4).as("dist"))
      .orderBy("round")
  }

  /** CTE-unrolled transliteration of [[kcenterCoreset]]: round r's
    * min-distance table joins the union of centers 1..r−1 and its argmax
    * is `ORDER BY md DESC, vec_id LIMIT 1` — the same (md, vec_id)
    * comparison the Spark max_by struct encodes.
    */
  val kcenterCoresetOracle: String = {
    val rounds = 6
    def dotE = "round(1.0 - list_sum(list_transform(" +
      "generate_series(1, len(e.v)), i -> c.cv[i] * e.v[i])), 6)"
    val ctes = new StringBuilder(
      s"""WITH e AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
         |           sqrt(list_sum(list_transform(embedding,
         |             y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
         |  FROM embeddings),
         |c1 AS (SELECT vec_id AS c_id, v AS cv, 1 AS round, 0.0 AS dist
         |       FROM e WHERE vec_id = 0)""".stripMargin)
    for (r <- 2 to rounds) {
      val prior = (1 until r).map(i => s"SELECT c_id, cv FROM c$i")
        .mkString(" UNION ALL ")
      ctes.append(s""",
         |c$r AS (
         |  SELECT vec_id AS c_id, v AS cv, $r AS round, md AS dist FROM (
         |    SELECT e.vec_id, e.v, min($dotE) AS md
         |    FROM e, ($prior) c GROUP BY e.vec_id, e.v)
         |  ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin)
    }
    val all = (1 to rounds)
      .map(i => s"SELECT round, c_id, dist FROM c$i")
      .mkString(" UNION ALL ")
    ctes.append(s"""
       |SELECT round, c_id AS vec_id, round(dist, 4) AS dist
       |FROM ($all) ORDER BY round""".stripMargin)
    ctes.toString
  }

  /** Per-dimension variance profile of the embedding space — the
    * screening table behind every truncation decision
    * ([[annTruncatedRecall]]'s 32-dim prefix, Matryoshka-style serving,
    * PQ subspace splits): variance per coordinate, its share of total
    * variance, and the cumulative share in variance-descending order —
    * "how much of the space do the top-k dims carry" read straight off
    * the `cum_share` column. A flat profile (this corpus: near-isotropic)
    * says truncation costs recall roughly linearly; a steep one licenses
    * aggressive cuts.
    *
    * Scale shape: ONE (dim)-keyed moment aggregate over the exploded
    * coordinates (map-side combined, d-bounded output); rank and the
    * cumulative ride d-row bounded windows ON the aggregate (whitelisted
    * class), and the total attaches as a 1-row broadcast. The cumulative
    * sums 6-rounded variances in a deterministic order, so both engines
    * chain identical doubles; the total-variance denominator is a
    * d-term unordered sum of the same 6-rounded inputs, rounded to 6
    * BEFORE the divisions (r14 — ADVICE r13: the abPower moments
    * discipline, so the share/cum_share ratios are pinned rather than
    * accumulation-order-lucky).
    */
  def embeddingDimVariance(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables(s, dir, "embeddings")
      .select(posexplode(toDoubleArray(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(round(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")), 6)
        .as("variance"))
    val tot = dims.agg(round(sum(col("variance")), 6).as("tv"))
    val wOrd = Window.orderBy(col("variance").desc, col("dim"))
    dims
      .withColumn("rank", row_number().over(wOrd))
      .withColumn("cum_var", sum(col("variance")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("dim"), col("variance"),
        round(col("variance") / col("tv"), 6).as("share"),
        round(col("cum_var") / col("tv"), 6).as("cum_share"))
      .orderBy("rank")
  }

  val embeddingDimVarianceOracle: String =
    """WITH x AS (
      |  SELECT CAST(i - 1 AS INT) AS dim,
      |         CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |       LATERAL unnest(generate_series(1, len(embedding))) u(i)),
      |d AS (
      |  SELECT dim, round(avg(x * x) - avg(x) * avg(x), 6) AS variance
      |  FROM x GROUP BY dim),
      |t AS (SELECT round(sum(variance), 6) AS tv FROM d),
      |r AS (
      |  SELECT dim, variance,
      |         CAST(row_number() OVER w AS INT) AS rank,
      |         sum(variance) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND CURRENT ROW) AS cum_var
      |  FROM d WINDOW w AS (ORDER BY variance DESC, dim))
      |SELECT rank, dim, variance,
      |       round(variance / t.tv, 6) AS share,
      |       round(cum_var / t.tv, 6) AS cum_share
      |FROM r, t ORDER BY rank""".stripMargin

  /** Prune-the-easy quantile for [[sslPrototypes]]: per cluster, the
    * top (1 − this) prototypicality slice is marked pruned.
    */
  private[graft] val ProtoPruneRank = 0.75

  /** SSL-prototypes data pruning (Sorscher et al., NeurIPS 2022 "Beyond
    * neural scaling laws"; the second stage of D4, Tirumala et al.
    * 2023): score every embedding by its cosine to its own cluster
    * centroid — its PROTOTYPICALITY — and mark the most prototypical
    * [[ProtoPruneRank]]-and-above slice per cluster for pruning. On
    * abundant data the easy/redundant examples near a prototype carry
    * the least marginal signal, so they are dropped first (the inverse
    * of a quality cut — complement to [[graft.ops.CurationOps.dsirWeights]],
    * which keeps what RESEMBLES a target; this drops what the corpus
    * already has too much of). Clusters here are the embedding table's
    * `label` (the same role they play for the IVF family); a production
    * run would take them from [[kmeansConverged]].
    *
    * Scale shape: the centroid table is [[ivfCentroids]] over the
    * NORMALIZED vectors — a (labels × dims)-bounded aggregate broadcast
    * back; scoring is one narrow codegen'd dot per row; the rank window
    * partitions by label, so no global sort exists (the
    * qualityPercentileCut discipline — ties impossible, vec_id breaks
    * them).
    */
  def sslPrototypes(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val cents = ivfCentroids(emb)
    val scored = emb.join(broadcast(cents), col("label") === col("cid"))
      .select(col("vec_id"), col("label"),
        round(cosineSim(col("v"), col("cv")), 6).as("proto"))
    val byLabel = Window.partitionBy(col("label"))
      .orderBy(col("proto"), col("vec_id"))
    scored
      .withColumn("pr", round(percent_rank().over(byLabel), 6))
      .withColumn("pruned", col("pr") >= ProtoPruneRank)
      .orderBy("vec_id")
  }

  val sslPrototypesOracle: String = {
    import graft.functions.VectorFunctions.normalizeOracle
    s"""WITH e AS (
       |  SELECT vec_id, label, ${normalizeOracle("embedding")} AS v
       |  FROM embeddings),
       |byd AS (
       |  SELECT label, i AS pos, round(avg(v[i]), 6) AS m
       |  FROM e, LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY label, i),
       |c AS (
       |  SELECT label AS cid, list(m ORDER BY pos) AS cv
       |  FROM byd GROUP BY label),
       |scored AS (
       |  SELECT vec_id, label,
       |         round(list_dot_product(v, cv) /
       |           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))),
       |           6) AS proto
       |  FROM e JOIN c ON label = cid)
       |SELECT vec_id, label, proto,
       |       round(percent_rank() OVER (PARTITION BY label
       |         ORDER BY proto, vec_id), 6) AS pr,
       |       round(percent_rank() OVER (PARTITION BY label
       |         ORDER BY proto, vec_id), 6) >= $ProtoPruneRank AS pruned
       |FROM scored ORDER BY vec_id""".stripMargin
  }

  /** Semantic decontamination (the third leg of the contamination
    * trio: [[graft.ops.TextOps.contaminationCheck]] is lexical-exact
    * n-gram containment, [[graft.ops.DedupOps.contaminationFuzzy]] is
    * lexical-fuzzy MinHash — this is the EMBEDDING leg, the check that
    * catches a paraphrased or translated eval item neither lexical pass
    * can see): for every held-out eval vector (the `% 10 = 7` family),
    * the maximum cosine against any training vector, the training
    * vector that attains it, and the contaminated flag at the corpus'
    * measured near-dup threshold [[SemDedupCos]]. Eval items whose
    * buckets meet no training vector report a NULL match — a
    * NO-CANDIDATE result, not a proof of cleanliness: the OR-banding is
    * probabilistic (the spec pins ≥80% top-1 attainment, the same
    * recall framing as [[knnJoin]]), so a close training vector can
    * share no bucket; a production pass tunes bands/bits until the
    * measured recall at [[SemDedupCos]] meets its audit bar.
    *
    * Scale shape: the [[knnJoin]] kernel with the eval family as the
    * node side — banding both sides, ONE banded top-K pass at k = 1
    * (eval × train pairs within shared buckets only, never eval×train
    * all-pairs, never train×train anything), per-eval top-1 merge; the
    * final left join keys on the eval family. Exactly the shape a production
    * decontamination pass runs per benchmark release.
    */
  def contaminationSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val isEval = pmod(col("vec_id"), lit(10)) === 7
    val bits = derivedBits(s, dir)
    val bandedE = hnswBanded(emb.filter(isEval), bits, bandsFor(bits))
    val bandedT = hnswBanded(emb.filter(!isEval), bits, bandsFor(bits))
    val top1 = bandedTopK(bandedE, bandedT, emb, 1)
    emb.filter(isEval).select(col("vec_id").as("eval_id"))
      .join(top1, col("eval_id") === col("node"), "left")
      .select(col("eval_id"), col("nbr").as("train_id"),
        round(col("ncos"), 6).as("max_cos"))
      .withColumn("contaminated",
        coalesce(col("max_cos") >= SemDedupCos, lit(false)))
      .orderBy("eval_id")
  }

  val contaminationSemanticOracle: String =
    s"""WITH ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
       |  FROM bb a JOIN bb b ON b.band = a.band AND b.bucket = a.bucket
       |   AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id % 10 = 7 AND b.vec_id % 10 <> 7),
       |scored AS (
       |  SELECT c.node, c.nbr, list_dot_product(en.v, eb.v) AS cos
       |  FROM cand c JOIN e en ON en.vec_id = c.node
       |              JOIN e eb ON eb.vec_id = c.nbr),
       |top1 AS (
       |  SELECT node, nbr, cos FROM (
       |    SELECT node, nbr, cos,
       |           row_number() OVER (PARTITION BY node
       |             ORDER BY cos DESC, nbr) AS rank
       |    FROM scored)
       |  WHERE rank = 1)
       |SELECT ev.vec_id AS eval_id, t.nbr AS train_id,
       |       round(t.cos, 6) AS max_cos,
       |       coalesce(round(t.cos, 6) >= $SemDedupCos, false) AS contaminated
       |FROM (SELECT vec_id FROM e WHERE vec_id % 10 = 7) ev
       |LEFT JOIN top1 t ON t.node = ev.vec_id
       |ORDER BY eval_id""".stripMargin

  /** 1-in-[[RecallSampleMod]] node sample for [[knnRecallAudit]] — small
    * enough that the exact side is |sample| × n dots (bounded, broadcast
    * sample), large enough for a stable recall estimate.
    */
  private[graft] val RecallSampleMod = 13

  /** Recall audit of the kNN-lists artifact vs brute-force EXACT ground
    * truth (r17 — the number `ScaleProbe band` measures offline, made an
    * always-available oracle-backed query: a production deployment
    * alarms on recall, so recall must be a QUERY, not a dev probe): on
    * the deterministic 1-in-[[RecallSampleMod]] node sample, the exact
    * top-[[K]] is computed by brute force (sample × corpus — bounded by
    * the sample, the [[annCosineTopk]] shape) and compared against the
    * shipped lists artifact ([[KnnLists.lists]] — the derived-config
    * build, seam-served when seeded). One row: sample size, truth pair
    * count, hits, recall as exact integer ppm. This is the value the
    * derived default holds ≥ 0.8 at scale (SCALE.md r17 table); at the
    * gate corpus the banding sits at tuned occupancy and recall is high.
    *
    * Scale shape: the lists build is the banded top-K kernel; the
    * exact side is |sample|-bounded (broadcast sample against one corpus
    * scan + one per-node top-K window); the comparison is a semi-join on
    * (node, nbr) and three 1-row aggregates. Sampled-exact is the
    * standard production recall estimator — full brute force is the
    * quadratic this engine never runs.
    */
  /** Sampled-exact ground truth: exact top-`k` `(node, nbr)` pairs for
    * the 1-in-[[RecallSampleMod]] node sample of a normalized embedding
    * frame — ONE estimator shared by [[knnRecallAudit]] and
    * `ScaleProbe band` (r17 review: two hand-rolled copies would let the
    * probe's `require(recall ≥ 0.8)` validate a different estimator
    * than the shipped query — exactly the agreement-vs-recall
    * divergence this round exists to close). The independent pure-Scala
    * recompute lives in BandingDefaultSpec and deliberately does NOT
    * share this code.
    */
  private[graft] def sampledExactTopK(emb: DataFrame, k: Int): DataFrame = {
    val sample = emb.filter(pmod(col("vec_id"), lit(RecallSampleMod)) === 0)
      .select(col("vec_id").as("node"), col("v").as("qv"))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("ncos").desc, col("nbr"))
    emb.crossJoin(broadcast(sample))
      .filter(col("vec_id") =!= col("node"))
      .select(col("node"), col("vec_id").as("nbr"),
        dot(col("qv"), col("v")).as("ncos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("node"), col("nbr"))
  }

  def knnRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val isSample = pmod(col("vec_id"), lit(RecallSampleMod)) === 0
    val truth = sampledExactTopK(emb, K)
      .localCheckpoint() // hit semi-join + truth count both read it
    val lists = KnnLists.lists(s, dir)
      .filter(pmod(col("vec_id"), lit(RecallSampleMod)) === 0)
      .select(col("vec_id").as("node"), col("neighbor_id").as("nbr"))
    val nSample = emb.filter(isSample).agg(count(lit(1)).as("n_sample"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nHit = truth.join(lists, Seq("node", "nbr"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nSample.crossJoin(broadcast(nTruth)).crossJoin(broadcast(nHit))
      .select(col("n_sample"), col("n_truth"), col("n_hit"),
        expr("n_hit * 1000000L div n_truth").as("recall_ppm"))
  }

  /** The same sampled-exact estimator: the full lists transliteration
    * (restricted to sample nodes — rank is per-node, so the restriction
    * commutes), the brute-force truth, the (node, nbr) hit join.
    */
  val knnRecallAuditOracle: String =
    s"""WITH ${signLshBucketsOracleCte(KnnBitsPerBand, KnnBands)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
       |  FROM bb a JOIN bb b ON b.band = a.band AND b.bucket = a.bucket
       |   AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id % $RecallSampleMod = 0),
       |scored AS (
       |  SELECT c.node, c.nbr, list_dot_product(en.v, eb.v) AS cos
       |  FROM cand c JOIN e en ON en.vec_id = c.node
       |              JOIN e eb ON eb.vec_id = c.nbr),
       |lists AS (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr,
       |           row_number() OVER (PARTITION BY node
       |             ORDER BY cos DESC, nbr) AS rank
       |    FROM scored)
       |  WHERE rank <= $K),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id % $RecallSampleMod = 0),
       |truth AS (
       |  SELECT node, nbr FROM (
       |    SELECT q.vec_id AS node, c.vec_id AS nbr,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_dot_product(q.v, c.v) DESC, c.vec_id)
       |             AS rank
       |    FROM q JOIN e c ON c.vec_id <> q.vec_id)
       |  WHERE rank <= $K),
       |sq AS (SELECT count(*) AS n_sample FROM q),
       |tr AS (SELECT count(*) AS n_truth FROM truth),
       |h AS (SELECT count(*) AS n_hit
       |      FROM truth t JOIN lists l ON l.node = t.node AND l.nbr = t.nbr)
       |SELECT n_sample, n_truth, n_hit,
       |       CAST(n_hit * 1000000 // n_truth AS BIGINT) AS recall_ppm
       |FROM sq, tr, h""".stripMargin

  /** The derived banding config made oracle-visible (r17 — the consumer
    * surface of the occupancy rule, stated in BOTH engines): one row
    * with the corpus size and the exact config every no-arg knn build
    * in this object ships at that size — [[bitsFor]] (smallest b with
    * n ≤ target·2^b, clamped) and [[bandsFor]]. The oracle restates the
    * SAME integer rule in SQL, so the gate value-checks the derivation
    * itself, not just the builds that consume it: a drifted constant,
    * clamp, or rounding mode fails this row before it silently
    * re-provisions every downstream build. n_planes is the per-vector
    * map cost (dots per row); n_buckets × target bounds the corpus the
    * config holds linear.
    *
    * Scale shape: one count aggregate; the config arithmetic is
    * driver-side scalar work on that single number (the same 1-row
    * pattern as the audited census scalars).
    */
  def annAutoConfig(s: SparkSession, dir: String): DataFrame = {
    // the MEMOIZED count, not a fresh scan: the audit row must report
    // the exact number the no-arg builds consumed this session, or a
    // mid-session corpus rewrite makes the audit describe a config
    // nothing shipped (r17 advice)
    val n = corpusCount(s, dir)
    val bits = bitsFor(n)
    val bands = bandsFor(bits)
    import s.implicits._
    Seq((n, bits.toLong, 1L << bits, bands.toLong, bits.toLong * bands))
      .toDF("n_vectors", "bits_per_band", "n_buckets", "bands", "n_planes")
  }

  val annAutoConfigOracle: String = {
    val t = BandPlanOccTarget.toLong
    s"""WITH n AS (SELECT count(*) AS n FROM embeddings),
       |k AS (SELECT coalesce(min(t.k), $MaxAutoBits) AS kmin
       |      FROM unnest(generate_series(0, $MaxAutoBits)) t(k), n
       |      WHERE n.n <= $t * (1::BIGINT << t.k)),
       |c AS (SELECT GREATEST($KnnBitsPerBand, kmin) AS bits FROM k),
       |b AS (SELECT bits,
       |             $KnnBands * (1 << ((bits - $KnnBitsPerBand + 2) // 3))
       |               AS bands
       |      FROM c)
       |SELECT n.n AS n_vectors, CAST(b.bits AS BIGINT) AS bits_per_band,
       |       CAST(1::BIGINT << b.bits AS BIGINT) AS n_buckets,
       |       CAST(b.bands AS BIGINT) AS bands,
       |       CAST(b.bits * b.bands AS BIGINT) AS n_planes
       |FROM n, b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_auto_config" -> (annAutoConfig _),
    "knn_recall_audit" -> (knnRecallAudit _),
    "embedding_dim_variance" -> (embeddingDimVariance _),
    "ssl_prototypes" -> (sslPrototypes _),
    "contamination_semantic" -> (contaminationSemantic _),
    "ann_filtered_topk" -> (annFilteredTopk _),
    "ann_ivf_tune" -> (annIvfTune _),
    "kcenter_coreset" -> ((s: SparkSession, dir: String) =>
      kcenterCoreset(s, dir)),
    "hard_negative_mining" -> (hardNegativeMining _),
    "retrieval_metrics" -> (retrievalMetrics _),
    "ann_truncated_recall" -> (annTruncatedRecall _),
    "ann_hubness" -> (annHubness _),
    "incremental_ivf" -> (incrementalIvf _),
    "incremental_hnsw" -> (incrementalHnsw _),
    "knn_join" -> ((s: SparkSession, dir: String) => KnnLists.lists(s, dir)),
    "incremental_knn" -> (incrementalKnn _),
    "knn_damage_stats" -> (knnDamageStats _),
    "knn_mutual" -> (knnMutual _),
    "snn_clusters" -> (snnClusters _),
    "knn_delete_repair" -> (knnDeleteRepair _),
    "hnsw_tombstone_recall" -> (hnswTombstoneRecall _),
    "semdedup_knn" -> (semdedupKnn _),
    "ann_lsh_occupancy" -> ((s: SparkSession, dir: String) =>
      annLshOccupancy(s, dir)),
    "ann_band_plan" -> (annBandPlan _),
    "mmr_rerank" -> (mmrRerank _),
    "mmr_rerank_ann" -> (mmrRerankAnn _),
    "ann_hnsw_topk" -> ((s: SparkSession, dir: String) => annHnswTopk(s, dir)),
    "ann_beam_sweep" -> (annBeamSweep _),
    "rrf_fusion" -> (rrfFusion _),
    "embedding_outliers" -> (embeddingOutliers _),
    "ann_ivf_pq" -> (annIvfPq _),
    "ann_pq_rerank" -> (annPqRerank _),
    "ann_pq_topk" -> (annPqTopk _),
    "embedding_quantize" -> (embeddingQuantize _),
    "power_iteration" -> (powerIteration _),
    "power_iteration_2step" -> (powerIteration2Step _),
    "kmeans_step" -> (kmeansStep _),
    "kmeans_2step" -> (kmeans2Step _),
    "kmeans_converged" -> ((s: SparkSession, dir: String) =>
      kmeansConverged(s, dir)),
    "ann_cosine_topk" -> (annCosineTopk _),
    "ann_ivf_topk" -> (annIvfTopk _),
    "ann_ivf_probe2" -> (annIvfProbe2 _),
    "ann_sign_lsh" -> (annSignLsh _),
    "embedding_centroids" -> (embeddingCentroids _))

  val oracles: Map[String, String] = Map(
    "ann_auto_config" -> annAutoConfigOracle,
    "knn_recall_audit" -> knnRecallAuditOracle,
    "embedding_dim_variance" -> embeddingDimVarianceOracle,
    "ann_filtered_topk" -> annFilteredTopkOracle,
    "ann_ivf_tune" -> annIvfTuneOracle,
    "kcenter_coreset" -> kcenterCoresetOracle,
    "hard_negative_mining" -> hardNegativeMiningOracle,
    "retrieval_metrics" -> retrievalMetricsOracle,
    "ann_truncated_recall" -> annTruncatedRecallOracle,
    "ann_hubness" -> annHubnessOracle,
    "incremental_ivf" -> incrementalIvfOracle,
    "incremental_hnsw" -> incrementalHnswOracle,
    "knn_join" -> knnJoinOracle,
    "incremental_knn" -> incrementalKnnOracle,
    "knn_damage_stats" -> knnDamageStatsOracle,
    "knn_mutual" -> knnMutualOracle,
    "snn_clusters" -> snnClustersOracle,
    "knn_delete_repair" -> knnDeleteRepairOracle,
    "hnsw_tombstone_recall" -> hnswTombstoneRecallOracle,
    "semdedup_knn" -> semdedupKnnOracle,
    "ann_lsh_occupancy" -> annLshOccupancyOracle,
    "ann_band_plan" -> annBandPlanOracle,
    "mmr_rerank" -> mmrRerankOracle,
    "mmr_rerank_ann" -> mmrRerankAnnOracle,
    "ann_hnsw_topk" -> annHnswTopkOracle,
    "ann_beam_sweep" -> annBeamSweepOracle,
    "rrf_fusion" -> rrfFusionOracle,
    "embedding_outliers" -> embeddingOutliersOracle,
    "ann_ivf_pq" -> annIvfPqOracle,
    "ann_pq_rerank" -> annPqRerankOracle,
    "ann_pq_topk" -> annPqTopkOracle,
    "embedding_quantize" -> embeddingQuantizeOracle,
    "power_iteration" -> powerIterationOracle,
    "power_iteration_2step" -> powerIteration2StepOracle,
    "kmeans_step" -> kmeansStepOracle,
    "kmeans_2step" -> kmeans2StepOracle,
    "ann_cosine_topk" -> annCosineTopkOracle,
    "ssl_prototypes" -> sslPrototypesOracle,
    "contamination_semantic" -> contaminationSemanticOracle,
    "ann_ivf_topk" -> annIvfTopkOracle,
    "ann_ivf_probe2" -> annIvfProbe2Oracle,
    "ann_sign_lsh" -> annSignLshOracle,
    "embedding_centroids" -> embeddingCentroidsOracle)
}
