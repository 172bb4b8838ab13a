package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Deduplication operators for LLM training-data pipelines (SURVEY.md §7.5):
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. Exact/Jaccard/cosine are DuckDB-oracle-backed;
  * MinHashLSH and SimHash depend on engine-specific hashing and are
  * rows-only + unit-tested (RowsOnly registry).
  *
  * Scale design: no scale-path variant does an all-pairs (or blocked
  * all-pairs) join. Candidate generation is prefix filtering for
  * exact-Jaccard (recall 1.0), banded-signature bucket joins for MinHash
  * LSH, the 4×16-bit Hamming multi-index for SimHash, and banded sign-LSH
  * buckets within the `label` block for embedding near-dup
  * ([[dedupEmbeddingLsh]]; the exact within-label all-pairs form
  * [[dedupEmbeddingCosine]] is kept as the small-N oracle baseline) —
  * every stage a linear shuffle on its key. Verify
  * stages re-attach token/shingle arrays WITHOUT a broadcast hint so AQE
  * picks broadcast vs shuffled-hash from the runtime size of the corpus.
  *
  * Resource hygiene: no query `.cache()`s anything — a lazily-returned
  * DataFrame has no unpersist point, so caches here leak storage memory for
  * the session's lifetime (VERDICT r2). Subtrees consumed by several join
  * sides (tokenized docs, banded signatures) instead rely on EXCHANGE REUSE:
  * the self-join/attach sides produce canonically identical shuffle or
  * broadcast exchanges, Spark computes one and replays it for the others
  * (asserted in CacheHygieneSpec).
  */
object DedupOps {

  /** lower + collapse whitespace + trim: the canonical text normalization
    * shared by fingerprints and dedup keys (and their oracles).
    */
  def normText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(lower(c), "\\s+", " "))
  val normTextOracle: String => String =
    inner => s"trim(regexp_replace(lower($inner), '\\s+', ' ', 'g'))"

  /** md5 of normalized text — the exact-dedup identity key (one definition
    * shared by dedupExact, TextOps.docFingerprint, and IncrementalDedup so
    * the key can't drift between the store and the queries).
    */
  def fingerprint(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(normText(c).cast("binary"))

  /** md5 of the first `n` normalized chars — the near-dup cluster key
    * (TextOps.docFingerprint's `fp_prefix`).
    */
  def prefixFingerprint(c: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    md5(substring(normText(c), 1, n).cast("binary"))

  /** Exact dedup: md5 of normalized text as the group key, min doc_id kept
    * (deterministic representative). Map-side partial agg keeps the shuffle
    * at one row per distinct hash.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(fingerprint(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  val dedupExactOracle: String =
    s"""SELECT md5(${normTextOracle("text")}) AS fingerprint,
       |       min(doc_id) AS keep_doc_id, count(*) AS n_copies
       |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  /** Word-set Jaccard near-dup: distinct-token sets, pairs with J ≥ 0.9
    * within the `source` blocking key.
    *
    * Candidate generation is PREFIX FILTERING (AllPairs / PPJoin,
    * Bayardo et al. WWW'07; Xiao et al. WWW'08), not a blocked self-join:
    * under any global total order of tokens, two sets with J(A,B) ≥ t MUST
    * share a token among the first |X| − ⌈t·|X|⌉ + 1 tokens of each — if the
    * prefixes were disjoint, all of A's ⌈t·|A|⌉ remaining tokens still can't
    * reach the required overlap ⌈t·|A∪B|⌉. So candidates = pairs sharing ≥1
    * prefix token (recall 1.0 — the DuckDB all-pairs oracle stays valid),
    * and verification is exact Jaccard. The order is document-frequency
    * ascending (rarest first), which makes prefixes land on rare tokens and
    * keeps per-token candidate lists short.
    *
    * Scale shape: every stage is a linear shuffle — df aggregation on token,
    * prefix rebuild on doc_id, candidate join on (source, prefix-token) —
    * vs the previous source-block self-join whose O(n²/b) pair count was
    * 123.5s of the 269.9s round-1 bench and grows 10,000× at 100× corpus.
    * Token arrays never ride through the pair join; they are re-attached
    * for the verify stage only (AQE picks broadcast vs shuffled-hash by
    * the build side's RUNTIME size — no unconditional corpus broadcast).
    */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsFrom(tokenizedDocs(s, dir))
      .orderBy("doc_a", "doc_b")

  /** Jaccard-threshold tuning table over the verified pair list — the
    * third tuning-time sweep next to [[dedupLshTune]] (banding) and
    * [[SimilarityOps.annIvfTune]] (nprobe): for each candidate dedup
    * threshold at or above the pair table's own 0.9 cut, the pair count,
    * distinct documents touched, and the hottest document's degree. The
    * degree column is the practical signal: a max_degree that stays high
    * as the threshold rises means a hub document (boilerplate) chains
    * unrelated docs and the threshold alone won't save the cluster pass
    * — the [[ClusterOps.dedupClusterStats]] giant-component story, one
    * step earlier in the pipeline.
    *
    * Scale shape: ONE read of the (materialized-or-inline) pair table,
    * checkpointed; each pair fans out to its qualifying thresholds via a
    * 3-element explode (pair-table-sized, never corpus-sized), and both
    * rollups are map-side-combined. Thresholds compare against the
    * 6-rounded jaccard both engines store.
    */
  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val th = Seq(0.9, 0.93, 0.96)
    val pairs = DedupEdges.pairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .localCheckpoint()
    val tagged = pairs
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(array(th.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
    val nPairs = tagged.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val deg = tagged
      .select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("threshold"), col("doc_id"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_docs"), max(col("deg")).as("max_degree"))
    val base = tagged.sparkSession.range(th.length)
      .select(element_at(
        array(th.map(lit): _*), (col("id") + 1).cast("int")).as("threshold"))
    base.join(nPairs, Seq("threshold"), "left")
      .join(deg, Seq("threshold"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs", "max_degree"))
      .orderBy("threshold")
  }

  // lazy: splices dedupNgramJaccardOracle, which is defined further down
  // the object body (a strict val here would read null at init)
  lazy val dedupThresholdSweepOracle: String =
    s"""WITH pairs AS (SELECT doc_a, doc_b, jaccard
       |               FROM (${dedupNgramJaccardOracle})),
       |th AS (SELECT CAST(unnest([0.9, 0.93, 0.96]) AS DOUBLE)
       |              AS threshold),
       |tagged AS (
       |  SELECT p.doc_a, p.doc_b, t.threshold
       |  FROM pairs p, th t WHERE p.jaccard >= t.threshold),
       |np AS (SELECT threshold, count(*) AS n_pairs
       |       FROM tagged GROUP BY threshold),
       |deg AS (
       |  SELECT threshold, count(*) AS n_docs, max(deg) AS max_degree
       |  FROM (SELECT threshold, doc_id, count(*) AS deg FROM (
       |          SELECT threshold, doc_a AS doc_id FROM tagged
       |          UNION ALL SELECT threshold, doc_b AS doc_id FROM tagged)
       |        GROUP BY threshold, doc_id)
       |  GROUP BY threshold)
       |SELECT t.threshold,
       |       CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       |       CAST(coalesce(deg.n_docs, 0) AS BIGINT) AS n_docs,
       |       CAST(coalesce(deg.max_degree, 0) AS BIGINT) AS max_degree
       |FROM th t LEFT JOIN np USING (threshold)
       |LEFT JOIN deg USING (threshold)
       |ORDER BY t.threshold""".stripMargin

  /** `(doc_id, source, tokens, n_tok)` — the prepared input every
    * exact-Jaccard pair build starts from.
    */
  private[graft] def tokenizedDocs(s: SparkSession, dir: String): DataFrame =
    // the pair build checkpoints this frame, so its partitioning carries
    // to every consumer
    Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), col("source"),
        array_distinct(split(normText(col("text")), " ")).as("tokens"))
      .withColumn("n_tok", size(col("tokens")))

  /** The prefix-filter + exact-verify pair build behind
    * [[dedupNgramJaccard]] (full corpus) and [[incrementalDedupEdges]]
    * (delta maintenance): verified pairs `(doc_a, doc_b, jaccard)` at
    * J ≥ 0.9 within the `source` block, unordered.
    *
    * With `deltaEndpointOnly` the candidate join additionally requires at
    * least one endpoint flagged `is_delta` — the delta×(base∪delta)
    * candidate class of incremental maintenance, pruned INSIDE the join
    * so base×base candidate pairs are never generated. The prefix theorem
    * holds under ANY global token order, so restricting it this way keeps
    * recall 1.0 for the delta-endpoint class, and the exact verify makes
    * each emitted pair a pure function of its two endpoints — independent
    * of which corpus snapshot's df order generated the candidate.
    */
  private[graft] def ngramJaccardPairsFrom(docsIn: DataFrame,
      deltaEndpointOnly: Boolean = false): DataFrame = {
    val docs =
      (if (docsIn.columns.contains("is_delta")) docsIn
       else docsIn.withColumn("is_delta", lit(false)))
      // pay the tokenization ONCE (r18 NgramProbe): docs feeds the df
      // count, the prefix build, and both verify attach sides — exchange
      // reuse covers only the prefix self-join, so the regexp+split+
      // array_distinct chain re-ran in the ta/tb broadcast builds too
      // (4 evaluations/doc). tokenizedDocs spreads before tokenizing,
      // so the checkpoint materializes in parallel and every consumer
      // inherits the spread. Unlike .cache() it frees with the
      // RDD sweep every session already runs (VERDICT r2)
      .localCheckpoint()
    val tokDoc = docs.select(col("doc_id"), col("source"), col("n_tok"),
      col("is_delta"), explode(col("tokens")).as("tok"))
    val tokDf = tokDoc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // prefix length p = n − ⌈0.9·n⌉ + 1, in integer arithmetic
    // (⌈9n/10⌉ = (9n+9) div 10) — no float rounding shortening the prefix
    val prefixLen =
      (col("n_tok") - floor((col("n_tok") * 9 + 9) / lit(10)) + 1).cast("int")
    val prefixes = tokDoc.join(tokDf, "tok")
      .groupBy(col("doc_id"), col("source"), col("n_tok"), col("is_delta"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("is_delta"),
        explode(slice(col("ord.tok"), lit(1), prefixLen)).as("ptok"))
    // self-joined below on (ptok, source): both sides are the identical
    // subtree shuffled on identical keys → one ShuffleExchange computes,
    // the other side is a ReusedExchange reading the same shuffle files —
    // the recompute the old .cache() avoided, without the storage-memory
    // leak (cache had no unpersist point in a lazily-returned DataFrame)
    val a = prefixes.as("a"); val b = prefixes.as("b")
    // length-ratio prune inside the join condition: J ≥ 0.9 implies
    // min(|A|,|B|)/max(|A|,|B|) ≥ 0.9 (|∩| ≤ min, |∪| ≥ max) — lossless
    val baseCond =
      col("a.ptok") === col("b.ptok") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n_tok") * 10 >= col("b.n_tok") * 9 &&
        col("b.n_tok") * 10 >= col("a.n_tok") * 9
    val cond =
      if (deltaEndpointOnly) baseCond && (col("a.is_delta") || col("b.is_delta"))
      else baseCond
    val candidates = a.join(b, cond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ta = docs.select(col("doc_id").as("doc_a"),
      col("tokens").as("tok_a"), col("n_tok").as("n_a"))
    val tb = docs.select(col("doc_id").as("doc_b"),
      col("tokens").as("tok_b"), col("n_tok").as("n_b"))
    candidates.join(ta, "doc_a").join(tb, "doc_b")
      .select(
        col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        graft.functions.ArrayFunctions.intersectSize(
          col("tok_a"), col("tok_b")).as("n_i"))
      // |A∪B| = |A|+|B|−|A∩B|: arithmetic, no second array op
      .select(col("doc_a"), col("doc_b"),
        (col("n_i").cast("double") /
          (col("n_a") + col("n_b") - col("n_i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.9)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental maintenance of the near-dup PAIR table (r11 — VERDICT
    * r10 #2): the [[GraphOps.incrementalEdges]] maintenance proof applied
    * to the [[DedupEdges]] audit artifact, the most common real operation
    * on a 100 TB dedup pipeline. A corpus snapshot grows by a delta
    * (deterministic split: `doc_id % 10 == 9` plays the newly-arrived
    * 10%); the maintained pair table is
    *
    *   base pairs (both endpoints old — the STORED table, never rebuilt
    *   from base×base again)  ⊎  new pairs (≥1 delta endpoint — generated
    *   by delta×(base∪delta) through the SAME prefix filter, the
    *   delta-endpoint predicate pruning inside the candidate join).
    *
    * The two classes partition the full pair set, and exact verification
    * makes each side's jaccard a pure function of the endpoints, so the
    * keyed union IS the full rebuild — which is exactly what the oracle
    * checks: it rebuilds all pairs from scratch (DuckDB all-pairs) and
    * must land on the same count/split/order-independent checksum. A
    * green row proves near-dup maintenance ≡ rebuild across engines.
    *
    * Scale shape: here the base side is recomputed inline (standing in
    * for the stored table — the [[GraphOps.incrementalEdges]] convention:
    * executing BOTH sides is the demonstration); in production it is a
    * parquet scan, and the only new work is the delta-endpoint candidate
    * join — linear in the delta's prefix-token postings, never base².
    */
  def incrementalDedupEdges(s: SparkSession, dir: String): DataFrame = {
    val all = tokenizedDocs(s, dir)
      .withColumn("is_delta", pmod(col("doc_id"), lit(10)) === 9)
    val basePairs =
      ngramJaccardPairsFrom(all.filter(!col("is_delta")).drop("is_delta"))
    val newPairs = ngramJaccardPairsFrom(all, deltaEndpointOnly = true)
    val maintained = basePairs
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        lit(false).as("from_delta"))
      .union(newPairs.select(col("doc_a"), col("doc_b"), col("jaccard"),
        lit(true).as("from_delta")))
    // order-independent checksum over (doc_a, doc_b, jaccard) — the
    // incremental_edges convention (md5-keyed weighted sum)
    val edgeMd5 = conv(substring(md5(concat(
        col("doc_a").cast("string"), lit("_"), col("doc_b").cast("string"))),
      1, 15), 16, 10).cast("long") % 1000000L
    maintained.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(!col("from_delta"), 1L).otherwise(0L)).as("n_base_pairs"),
      sum(when(col("from_delta"), 1L).otherwise(0L)).as("n_new_pairs"),
      sum(edgeMd5 * round(col("jaccard") * 1000000).cast("long"))
        .as("checksum"))
  }

  /** Count/split/checksum from a from-scratch FULL rebuild (all-pairs) —
    * equality with the query's maintained union is the maintenance ≡
    * rebuild proof.
    */
  val incrementalDedupEdgesOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         list_distinct(string_split(${normTextOracle("text")}, ' ')) AS tokens
       |  FROM documents),
       |full_pairs AS (
       |  SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE) /
       |           CAST(len(a.tokens) + len(b.tokens)
       |                - len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
       |             AS jaccard
       |    FROM toks a JOIN toks b
       |      ON a.source = b.source AND a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.9)
       |SELECT count(*) AS n_pairs,
       |  CAST(sum(CASE WHEN doc_a % 10 <> 9 AND doc_b % 10 <> 9
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_base_pairs,
       |  CAST(sum(CASE WHEN doc_a % 10 = 9 OR doc_b % 10 = 9
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_new_pairs,
       |  CAST(sum((('0x' || substr(md5(CAST(doc_a AS VARCHAR) || '_'
       |         || CAST(doc_b AS VARCHAR)), 1, 15))::BIGINT % 1000000)
       |       * CAST(round(jaccard * 1000000) AS BIGINT)) AS BIGINT)
       |    AS checksum
       |FROM full_pairs""".stripMargin

  val dedupNgramJaccardOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         list_distinct(string_split(${normTextOracle("text")}, ' ')) AS tokens
       |  FROM documents)
       |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE) /
       |         CAST(len(a.tokens) + len(b.tokens)
       |              - len(list_intersect(a.tokens, b.tokens)) AS DOUBLE) AS jaccard
       |  FROM toks a JOIN toks b
       |    ON a.source = b.source AND a.doc_id < b.doc_id)
       |WHERE jaccard >= 0.9 ORDER BY doc_a, doc_b""".stripMargin

  /** The agreement audit's cosine band edges (ascending; shared by the
    * Spark bin chain, the output spine, and the oracle CASE — all three
    * are derived from this one list).
    */
  private[graft] val AgreementBinEdges = Seq(0.35, 0.5, 0.65, 0.8)

  /** Lexical-vs-semantic dedup agreement audit (r15) — the calibration a
    * pipeline running BOTH dedup families needs before trusting either:
    * the semantic-dedup edge set ([[SimilarityOps.knnJoin]]'s lists
    * thresholded at the shared [[SimilarityOps.SemDedupCos]] constant —
    * exactly `semdedup_knn`'s edges, via the [[KnnLists]] seam; vec_id ≡
    * doc_id, the `rrf_fusion` convention) binned by cosine band, with
    * the fraction of each band's pairs that the LEXICAL near-dup pair
    * table also caught. The lexical side is [[DedupEdges.shinglePairs]]
    * (the shingle-MinHash-LSH artifact, exact-verified J ≥ 0.8) on
    * purpose: it is CORPUS-WIDE like the kNN edge set, so both sides
    * share one comparison universe — the source-blocked exact-Jaccard
    * table would conflate "the lexical pass missed it" with "the
    * blocking key never compared it" on any cross-source duplicate
    * (r15 same-session review). The catch-rate-vs-cosine curve is the
    * threshold evidence: a high catch rate at the top band with a cliff
    * below says the lexical pass already removes verbatim copies and
    * SemDeDup's marginal value is the low bands (paraphrase); two rider
    * columns carry the reverse miss — lexical pairs absent from the
    * thresholded edge set (beyond top-K, an LSH band miss, or a cosine
    * below the [[SimilarityOps.SemDedupCos]] cut — the rider bakes the
    * threshold in, so tuning IT is the first knob when the number is
    * high), which says whether semantic-only dedup may replace the
    * lexical pass.
    *
    * Scale shape: the semantic side is the K-bounded artifact (≤ K·n
    * rows, bucket-cogrouped — never all-pairs), the lexical side the
    * banded-LSH verified pair table; both ride their session seams
    * when seeded. Agreement is one pair-keyed left join + a 4-bin
    * map-side-combined rollup; the reverse-miss riders are one
    * pair-keyed anti-join reduced to a 1-row broadcast.
    */
  def dedupAgreement(s: SparkSession, dir: String): DataFrame = {
    val binEdges = AgreementBinEdges
    val sem = KnnLists.lists(s, dir)
      .filter(col("cos") >= SimilarityOps.SemDedupCos)
      .select(least(col("vec_id"), col("neighbor_id")).as("u"),
        greatest(col("vec_id"), col("neighbor_id")).as("v"), col("cos"))
      .groupBy(col("u"), col("v")).agg(max(col("cos")).as("cos"))
      .localCheckpoint() // binned rollup + reverse-miss anti-join read it
    val lex = DedupEdges.shinglePairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint() // hit join + both rider aggregates read it
    // bin chain DERIVED from the edge list, so spine and binning cannot
    // de-align under a retune (r15 same-session review)
    val binCol = binEdges.drop(1).reverse.tail
      .foldLeft(when(col("cos") >= binEdges.last, lit(binEdges.last))) {
        (acc, e) => acc.when(col("cos") >= e, lit(e))
      }.otherwise(lit(binEdges.head))
    val perBin = sem
      .withColumn("cos_bin", binCol)
      .join(lex.withColumn("hit", lit(1)),
        col("u") === col("doc_a") && col("v") === col("doc_b"), "left")
      .groupBy(col("cos_bin"))
      .agg(count(lit(1)).as("n_sem_pairs"), count(col("hit")).as("n_lex_hits"))
    // static bin spine: 4 rows always, even when a band is empty
    val spine = s.range(binEdges.length)
      .select(element_at(array(binEdges.map(lit): _*),
        (col("id") + 1).cast("int")).as("cos_bin"))
    val riders = lex.agg(count(lit(1)).as("n_lex_pairs"))
      .crossJoin(broadcast(lex
        .join(sem, col("doc_a") === col("u") && col("doc_b") === col("v"),
          "left_anti")
        .agg(count(lit(1)).as("n_lex_uncaught"))))
    spine.join(perBin, Seq("cos_bin"), "left")
      .na.fill(0L, Seq("n_sem_pairs", "n_lex_hits"))
      .crossJoin(broadcast(riders))
      .select(col("cos_bin"), col("n_sem_pairs"), col("n_lex_hits"),
        round(col("n_lex_hits") / greatest(col("n_sem_pairs"), lit(1L)), 6)
          .as("catch_rate"),
        col("n_lex_pairs"), col("n_lex_uncaught"))
      .orderBy("cos_bin")
  }

  /** Composed verbatim from the two already-oracle-checked artifacts:
    * [[SimilarityOps.knnJoinOracle]] (the lists) and
    * [[dedupMinhashShingleOracle]] (the corpus-wide LSH pair table); the
    * CASE chain and spine interpolate [[AgreementBinEdges]] so a bin
    * retune moves Spark side and oracle together.
    * (lazy: splices [[dedupMinhashShingleOracle]], defined further down —
    * the [[dedupThresholdSweepOracle]] initialization-order convention.)
    */
  lazy val dedupAgreementOracle: String = {
    val caseChain = AgreementBinEdges.reverse.init.map(e =>
      s"WHEN cos >= CAST($e AS DOUBLE) THEN CAST($e AS DOUBLE)")
      .mkString("CASE ", "\n       |              ", "") +
      s"\n       |              ELSE CAST(${AgreementBinEdges.head} AS DOUBLE) END"
    val spineRows = AgreementBinEdges
      .map(e => s"(CAST($e AS DOUBLE))").mkString(", ")
    s"""WITH sem AS (
       |  SELECT least(vec_id, neighbor_id) AS u,
       |         greatest(vec_id, neighbor_id) AS v, max(cos) AS cos
       |  FROM (${SimilarityOps.knnJoinOracle})
       |  WHERE cos >= CAST(${SimilarityOps.SemDedupCos} AS DOUBLE)
       |  GROUP BY 1, 2),
       |lex AS (SELECT doc_a, doc_b FROM (${dedupMinhashShingleOracle})),
       |perbin AS (
       |  SELECT $caseChain AS cos_bin,
       |         count(*) AS n_sem_pairs, count(l.doc_a) AS n_lex_hits
       |  FROM sem s LEFT JOIN lex l ON l.doc_a = s.u AND l.doc_b = s.v
       |  GROUP BY 1),
       |riders AS (
       |  SELECT (SELECT count(*) FROM lex) AS n_lex_pairs,
       |         (SELECT count(*) FROM lex l WHERE NOT EXISTS (
       |            SELECT 1 FROM sem s
       |            WHERE s.u = l.doc_a AND s.v = l.doc_b)) AS n_lex_uncaught),
       |spine(cos_bin) AS (VALUES $spineRows)
       |SELECT sp.cos_bin, coalesce(n_sem_pairs, 0) AS n_sem_pairs,
       |       coalesce(n_lex_hits, 0) AS n_lex_hits,
       |       round(coalesce(n_lex_hits, 0)
       |             / greatest(coalesce(n_sem_pairs, 0), 1), 6) AS catch_rate,
       |       n_lex_pairs, n_lex_uncaught
       |FROM spine sp LEFT JOIN perbin p ON p.cos_bin = sp.cos_bin
       |CROSS JOIN riders ORDER BY sp.cos_bin""".stripMargin
  }

  /** Embedding-cosine near-dup within the `label` blocking key (labels are
    * the cluster assignment — the IVF-style candidate restriction).
    *
    * This is the EXACT, small-N oracle baseline: within-label all-pairs is
    * quadratic in block size and the one plan here that would not survive a
    * 100× corpus with a fixed label set (VERDICT r2). The scale default is
    * [[dedupEmbeddingLsh]] — same verify stage, banded sign-LSH candidate
    * generation instead of all-pairs.
    */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame = {
    // normalize ONCE per vector (O(n·d)); each pair is then a single dot
    // product instead of dot + two norms (O(pairs·d) dominates at scale)
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        normalize(toDoubleArray(col("embedding"))).as("v"))
    val a = emb.as("a"); val b = emb.as("b")
    a.join(b, col("a.label") === col("b.label") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        dot(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.35)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  val dedupEmbeddingCosineOracle: String =
    s"""SELECT vec_a, vec_b, round(cos, 4) AS cos FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         ${cosineOracle("a.embedding", "b.embedding")} AS cos
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id < b.vec_id)
       |WHERE cos >= 0.35 ORDER BY vec_a, vec_b""".stripMargin

  /** Embedding near-dup with banded sign-LSH candidate generation — the
    * scale path for [[dedupEmbeddingCosine]]'s semantics, VALUE-PINNED
    * since r9 (hyperplanes are md5-derived —
    * [[graft.functions.expressions.SignLshBuckets.weight]] — so the whole
    * bucket→candidate→verify pipeline is transliterated into the DuckDB
    * oracle; recall vs the exact baseline additionally pinned in
    * DedupOpsSpec). One narrow pass computes all band buckets (native
    * [[graft.functions.expressions.SignLshBuckets]]); candidates collide on
    * (label, band, bucket) — a linear shuffle on the band key, no
    * within-label all-pairs join anywhere — and are verified with exact
    * cosine (ids-only pair join; vectors re-attach AQE-decided, as in the
    * text variants).
    *
    * Banding math, stated honestly: per-hyperplane collision probability is
    * 1 − θ/π — 0.614 at this corpus's cos ≥ 0.35 threshold vs 0.5 for a
    * random within-label pair (measured mean within-label cos ≈ 0). The LSH
    * exponent ρ = ln(0.614)/ln(0.5) ≈ 0.70, so with (bitsPerBand, bands)
    * grown with n the candidate count scales ~n^1.7 against the all-pairs
    * n². At the FIXED default 4×20 banding the measured operating point on
    * this corpus (sf0.01) is recall 1.0 (26/26 known pairs; expected ≈0.97)
    * with 8,847 distinct candidates ≈ 0.72× the 12,344 within-label pairs —
    * a 0.35 threshold sits close to the random regime (ρ → 1), which caps
    * the constant-factor win; at a production near-dup
    * threshold (cos ≥ 0.9, per-bit 0.857) the same operator at 8×16 prunes
    * candidates ~16× at recall ≈ 0.99. Threshold and banding are therefore
    * parameters, not constants.
    */
  def dedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame =
    dedupEmbeddingLsh(s, dir, threshold = 0.35, bitsPerBand = 4, bands = 20)

  def dedupEmbeddingLsh(s: SparkSession, dir: String, threshold: Double,
      bitsPerBand: Int, bands: Int): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        normalize(toDoubleArray(col("embedding"))).as("v"))
    val banded = emb.select(col("vec_id"), col("label"),
      posexplode(signLshBuckets(col("v"), bitsPerBand, bands)))
      .select(col("vec_id"), col("label"),
        col("pos").as("band"), col("col").as("bucket"))
    val a = banded.as("a"); val b = banded.as("b")
    // ids-only pair join; self-joined sides share one exchange (reuse)
    val candidates = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.label") === col("b.label") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val va = emb.select(col("vec_id").as("vec_a"), col("v").as("v_a"))
    val vb = emb.select(col("vec_id").as("vec_b"), col("v").as("v_b"))
    // no broadcast hint — AQE decides by runtime size (see dedupMinhashLsh)
    candidates.join(va, "vec_a").join(vb, "vec_b")
      .select(col("vec_a"), col("vec_b"), dot(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Full transliteration of [[dedupEmbeddingLsh]] (0.35 / 4×20 default):
    * md5 hyperplane weights, band buckets, within-label bucket-collision
    * candidates, exact-cosine verify.
    */
  val dedupEmbeddingLshOracle: String =
    s"""WITH ${graft.functions.VectorFunctions.signLshBucketsOracleCte(4, 20)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE ea.label = eb.label AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, round(cos, 4) AS cos FROM (
       |  SELECT c.vec_a, c.vec_b, list_dot_product(ea.v, eb.v) AS cos
       |  FROM cand c JOIN e ea ON ea.vec_id = c.vec_a
       |  JOIN e eb ON eb.vec_id = c.vec_b)
       |WHERE cos >= 0.35 ORDER BY vec_a, vec_b""".stripMargin

  /** SimHash near-dup — VALUE-PINNED since r8 (the r7 winnowing/minhash md5
    * trick applied to the last rows-only dedup family member): the 64-bit
    * signature comes from the native
    * [[graft.functions.expressions.SimHash64]] expression over
    * ENGINE-INDEPENDENT 60-bit md5 token ids
    * ([[graft.functions.expressions.Md5ShingleId]] with k=1 — one digest
    * pass, no per-token string intermediates) instead of xxhash64, so the
    * whole pipeline — signature, banding, candidates, Hamming verify — is
    * transliterated into the DuckDB oracle and value-checked end-to-end.
    * Bits 60–63 of every token id are structurally 0 (15 hex chars), so
    * those four signature bits are constantly 0 on BOTH engines — the
    * multi-index completeness argument below is bit-position-agnostic and
    * unaffected. Still a NARROW map (no explode, no signature shuffle; the
    * only shuffle is the pair join). Near-dups are pairs (same `source`
    * block) within Hamming distance 3 via `bit_count(xor)`.
    * [[simhashSignatures]] is the per-doc signature frame, also used by the
    * equivalence test against the explode+aggregate composition.
    */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.expressions.{Md5ShingleId, SimHash64}
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        ColumnBridge.column(SimHash64(
          Md5ShingleId(ColumnBridge.expression(
            array_distinct(split(normText(col("text")), " "))), k = 1)))
          .as("simhash"))
  }

  /** Candidate generation is the standard Hamming multi-index (Manku et al.
    * WWW'07): split the 64-bit signature into 4 disjoint 16-bit bands — any
    * pair within Hamming distance 3 has ≥1 band with zero differing bits
    * (pigeonhole over 4 bands), so joining on equal (source, band, value)
    * is COMPLETE for the ≤3 predicate, with no all-pairs join anywhere.
    * The signature itself (one long) rides through the band join, so the
    * verify is a single `bit_count(xor)` — no re-attach join. A pair can
    * collide in several bands → distinct after the Hamming filter.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val sig = simhashSignatures(s, dir)
    val banded = sig.select(col("doc_id"), col("source"), col("simhash"),
      posexplode(array((0 until 4).map(bnd =>
        shiftright(col("simhash"), bnd * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .select(col("doc_id"), col("source"), col("simhash"),
        col("pos").as("band"), col("col").as("bval"))
    // self-joined on (band, bval, source): identical subtree + identical
    // shuffle keys on both sides → exchange reuse computes the SimHash64
    // signature map once and replays the shuffle files for the other side
    // (no .cache() — nothing pinned after the action; VERDICT r2 #2)
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bval") === col("b.bval") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Full transliteration of [[dedupSimhash]] — md5 token ids, bit-count
    * signature (ties at exactly 0 → bit 0, matching SimHash64's
    * `counts(b) > 0` rule), 4×16-bit banding, Hamming ≤ 3 verify. The
    * DISTINCT collapses multi-band collisions exactly as the Spark side
    * does. `hamming` cast to INTEGER to match Spark `bit_count`'s int32.
    */
  val dedupSimhashOracle: String = {
    val norm = normTextOracle("text")
    s"""WITH toks0 AS (
       |  SELECT doc_id, source, unnest(string_split($norm, ' ')) AS tok
       |  FROM documents),
       |toks AS (SELECT DISTINCT doc_id, source, tok FROM toks0),
       |h AS (SELECT doc_id, source,
       |             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
       |bits AS (
       |  SELECT doc_id, source, bb.b AS b,
       |         sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
       |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb
       |  GROUP BY doc_id, source, bb.b),
       |sig AS (
       |  SELECT doc_id, source,
       |         CAST(sum(CASE WHEN cnt > 0 THEN (1::BIGINT << b) ELSE 0 END)
       |           AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id, source),
       |banded AS (
       |  SELECT doc_id, source, simhash, bd.band AS band,
       |         (simhash >> (bd.band * 16)) & 65535 AS bval
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bd)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bval = b.bval AND a.source = b.source
       | AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** MinHash signatures + banded LSH over xxhash64 token ids — the
    * native-hash PERFORMANCE shape of the minhash family: 48 hash
    * functions h_j(t) = xxhash64(tok, j) minimum per doc (one narrow pass,
    * native MinHashSignature); 4 bands × 12 rows; candidate pairs collide
    * on (band, band-signature) — the unblocked scale path: one shuffle on
    * band keys, no O(n²) anywhere. Candidates are then verified with exact
    * Jaccard (classic LSH verify step).
    *
    * NOT in the driver query registry since r10 (VERDICT r9 #5): xxhash64
    * is not SQL-expressible, so this could only ever be rows-only checked
    * there, and the md5-affine twin [[dedupMinhashShingle]] is strictly
    * stronger gate evidence (full DuckDB transliteration of the same
    * signature→band→verify pipeline). The operator stays public API,
    * recall/precision/plan-discipline pinned in DedupOpsSpec +
    * CacheHygieneSpec against the exact-Jaccard ground truth.
    */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    // 4 bands × 12 rows: P(candidate) = 1-(1-J^12)^4 ≈ 0.74 at J=0.9,
    // 0.0039 at J=0.5 — tuned for a similarity-heavy corpus (at 8×4 banding
    // ~2.7M of the 12.5M global pairs collide → brute-force territory, 246s
    // at sf0.1; measured recall on the real near-dup set stays ≥0.8 because
    // true dups concentrate at J ≥ 0.95 where recall is ≈0.99).
    //
    // tokens are xxhash64 longs — exact-Jaccard-equivalent modulo 2^-64
    // collisions, and far cheaper than UTF8String set ops in the
    // interpreted array expressions. `docs` feeds the plan three times
    // (signature build + both verify attach sides) with NO .cache(): the
    // attach sides exchange on the same canonical key over the same
    // subtree, so exchange reuse shares the computation, and a 47-query
    // session doesn't accumulate pinned corpora (VERDICT r2 #2). At real
    // scale tokens would be a materialized column.
    val nHashes = 48; val bands = 4; val rowsPerBand = nHashes / bands
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.ArrayFunctions.xxhash64Elements(
          array_distinct(split(normText(col("text")), " "))).as("tokens"))
    // whole signature in one narrow pass (native MinHashSignature) — the
    // explode + groupBy + 48-min-aggregate composition shuffles every
    // (doc, token) pair; see minhashSignaturesComposed (test reference)
    val sig = docs.select(col("doc_id"), size(col("tokens")).as("n_tok"),
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.expressions.MinHashSignature(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("tokens")),
          nHashes)).as("sig"))
    // each band signature is ONE xxhash64 long over its 12 rows (not a
    // concat string): an 8-byte shuffle/join key instead of ~120 bytes. A
    // 64-bit band-hash collision can only ADD a candidate, and the exact-
    // Jaccard verify removes it — never drops a true one.
    // the band-hash array is constructed INLINE in the posexplode (and
    // projected a second time as `bhs` for the first-band filter): with a
    // column reference as the Generate input, InferFiltersFromGenerate adds
    // `size(bhs) > 0`, which after projection collapse re-derives the whole
    // 48-hash signature inside an interpreted filter — measured 6 → 21 s.
    // On a CreateArray input the inferred size/null checks constant-fold.
    def bandArr = array((0 until bands).map(bnd =>
      xxhash64((0 until rowsPerBand).map(r =>
        col("sig")(bnd * rowsPerBand + r)): _*)): _*)
    val banded = sig.select(col("doc_id"), col("n_tok"), bandArr.as("bhs"),
      posexplode(bandArr))
      .select(col("doc_id"), col("n_tok"), col("bhs"),
        col("pos").as("band"), col("col").as("bsig"))
    // self-joined on (band, bsig): exchange reuse computes the 48-hash
    // MinHash signature map once and replays the shuffle for the b side
    val a = banded.as("a"); val b = banded.as("b")
    // lossless length-ratio prune INSIDE the band join (J ≥ 0.9 requires
    // size ratio ≥ 0.9: |∩| ≤ min, |∪| ≥ max) — candidates that can't
    // verify never reach the token-attach joins. Multi-band collisions are
    // deduped WITHOUT a distinct exchange: both sides carry the full
    // 4-entry band-hash array, and a pair survives only in its FIRST
    // agreeing band (no earlier band equal) — a codegen'd per-row filter
    // in place of shuffling every candidate pair again.
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n_tok") * 10 >= col("b.n_tok") * 9 &&
        col("b.n_tok") * 10 >= col("a.n_tok") * 9 &&
        // unrolled (no higher-order functions: lambdas in a join condition
        // are evaluated interpreted per matched row — measured 5.5 → 30 s)
        (0 until bands - 1).map(i =>
          col("a.band") <= i || col("a.bhs")(i) =!= col("b.bhs")(i))
          .reduce(_ && _))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // rebalance before the exact verify: LSH buckets are skewed (near-
      // clique corpora put most pairs in a few buckets), and without an
      // exchange the intersectSize work stays fused to the band join's
      // partitioning — measured 9.1 s fused vs 3.1 s rebalanced at sf0.1.
      // ids-only rows, so this shuffle is 16 bytes/pair (the old distinct
      // paid the same shuffle PLUS a dedup hash-aggregate on more rows).
      .repartition(col("doc_a"), col("doc_b"))
    val da = docs.select(col("doc_id").as("doc_a"), col("tokens").as("tok_a"))
    val db = docs.select(col("doc_id").as("doc_b"), col("tokens").as("tok_b"))
    // no broadcast hint: the attach side is the WHOLE corpus — AQE promotes
    // to broadcast-hash at runtime only while it actually fits (fine at
    // sf0.1, shuffled-hash at 100 TB instead of an executor OOM)
    candidates.join(da, "doc_a").join(db, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("tok_a")).as("n_a"), size(col("tok_b")).as("n_b"),
        graft.functions.ArrayFunctions.intersectSize(
          col("tok_a"), col("tok_b")).as("n_i"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_i").cast("double") /
          (col("n_a") + col("n_b") - col("n_i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.9)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Shingle-based MinHash LSH (the brief's literal
    * shingle→minhash→band→bucket-join): set elements are 5-token shingles
    * (order-sensitive, unlike the word-set variant), identified by 60-bit
    * md5 prefixes, minhashed by the ENGINE-INDEPENDENT affine family
    * ([[graft.functions.expressions.AffineMinHash]] — one narrow pass, md5-
    * derived constants), banded by 60-bit md5 band hashes, and verified
    * with exact Jaccard. Every hash is md5-derived, so the ENTIRE pipeline
    * — signature, banding, candidates, verify — is transliterated into the
    * DuckDB oracle and value-checked end-to-end (the winnowing trick of r7
    * applied to MinHash; this family was rows-only through r7 because
    * xxhash64 has no ANSI-SQL equivalent). Everything before the band join
    * stays shuffle-free; consistency vs exact shingle-Jaccard additionally
    * in DedupOpsSpec.
    *
    * Two hash widths, deliberately: EXACT-verify set elements keep 60 bits
    * (corpus-scale birthday-safe), while the signature reduces them mod 2³²
    * inside AffineMinHash (A·m+B must not overflow signed 64 on either
    * engine) — a signature collision only ever ADDS a candidate, which
    * exact verify then scores correctly.
    */
  def dedupMinhashShingle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    import graft.functions.expressions.{AffineMinHash, Md5ShingleId}
    val nHashes = 48; val bands = 4; val rowsPerBand = nHashes / bands
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), split(normText(col("text")), " ").as("tokens"))
      .filter(size(col("tokens")) >= 5)
      // one digest pass per window (native Md5ShingleId) — the equivalent
      // conv∘md5∘array_join∘slice built-in chain allocates five
      // intermediates per shingle and measured 10× this query's budget
      .select(col("doc_id"),
        array_distinct(bc(Md5ShingleId(be(col("tokens")), k = 5)))
          .as("shingles"))
    // no .cache() on docs/banded — same exchange-reuse shape as
    // dedupMinhashLsh (see the comments there)
    val sig = docs.select(col("doc_id"), size(col("shingles")).as("n_sh"),
      bc(AffineMinHash(be(col("shingles")), nHashes)).as("sig"))
    // 60-bit md5 band hashes (long join keys, not 32-char strings) +
    // first-agreeing-band dedup filter instead of a distinct exchange;
    // array inlined in the posexplode so the inferred generate filters
    // constant-fold — same construction as dedupMinhashLsh
    def bandArr = array((0 until bands).map(bnd =>
      conv(substring(md5(concat_ws(",", (0 until rowsPerBand).map(r =>
        col("sig")(bnd * rowsPerBand + r)): _*)), 1, 15), 16, 10)
        .cast("long")): _*)
    val banded = sig.select(col("doc_id"), col("n_sh"), bandArr.as("bhs"),
      posexplode(bandArr))
      .select(col("doc_id"), col("n_sh"), col("bhs"),
        col("pos").as("band"), col("col").as("bsig"))
    val a = banded.as("a"); val b = banded.as("b")
    // lossless prune inside the band join: J ≥ 0.8 requires size ratio ≥ 0.8
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n_sh") * 5 >= col("b.n_sh") * 4 &&
        col("b.n_sh") * 5 >= col("a.n_sh") * 4 &&
        // unrolled first-band check — see dedupMinhashLsh
        (0 until bands - 1).map(i =>
          col("a.band") <= i || col("a.bhs")(i) =!= col("b.bhs")(i))
          .reduce(_ && _))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // skew rebalance before exact verify — see dedupMinhashLsh
      .repartition(col("doc_a"), col("doc_b"))
    val da = docs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val db = docs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    // no broadcast hint — AQE decides by runtime size (see dedupMinhashLsh)
    candidates.join(da, "doc_a").join(db, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"),
        graft.functions.ArrayFunctions.intersectSize(
          col("sh_a"), col("sh_b")).as("n_i"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_i").cast("double") /
          (col("n_a") + col("n_b") - col("n_i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Full transliteration of [[dedupMinhashShingle]] — shingling, affine
    * signature (constants INTERPOLATED from the same
    * [[graft.functions.expressions.AffineMinHash]] schedule, the LayoutOps
    * single-source discipline), banding, candidate join, exact verify. The
    * size-ratio and first-agreeing-band prunes are lossless/dedup-only, so
    * the oracle states the definitional form (DISTINCT band-collision
    * pairs) instead.
    */
  /** Shingle-CONTAINMENT near-dup detection (r10): pairs where ≥ 85% of
    * doc A's 5-token shingles appear in doc B — the asymmetric
    * excerpt/quotation/superset relation Jaccard misses (a short doc
    * embedded in a long one has high containment but low Jaccard, and a
    * training pipeline wants the contained copy dropped, not both).
    * C(A,B) = |S_A ∩ S_B| / |S_A|; both directions can report.
    *
    * Scale shape — frequency-ordered prefix filter, exact (no banding
    * recall loss): a candidate (A,B) must share one of A's first
    * ⌊(1−t)·|S_A|⌋+1 shingles under ANY fixed total order (pigeonhole: if
    * B misses all of them, |A\B| already exceeds the allowed misses).
    * Ordering the universe by ASCENDING global document frequency makes
    * those prefix shingles the RAREST ones, so the prefix⋈posting join
    * touches the shortest posting lists — candidate volume stays linear in
    * posting mass instead of Σdf². Thresholds are kept in integer
    * arithmetic (×20 vs ×17) so both engines decide boundaries
    * identically. Verify is the exact intersect count on the candidate
    * pairs only, rebalanced before the count like the rest of the family.
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    dedupContainmentFrom(Tables(s, dir, "documents"))

  /** [[dedupContainment]] over any (doc_id, text) frame — the spec feeds
    * crafted asymmetric fixtures through the same plan.
    */
  def dedupContainmentFrom(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    import graft.functions.expressions.Md5ShingleId
    // checkpointed: the shingle table feeds six subtrees (sizes, df,
    // prefix, candidate posting side, two verify sides), and without it
    // the digest pass re-ran per subtree
    val docs = Tables.spread(documents, col("doc_id"))
      .select(col("doc_id"), split(normText(col("text")), " ").as("tokens"))
      .filter(size(col("tokens")) >= 5)
      .select(col("doc_id"),
        array_distinct(bc(Md5ShingleId(be(col("tokens")), k = 5)))
          .as("shingles"))
      .localCheckpoint()
    val sh = docs.select(col("doc_id"), explode(col("shingles")).as("sid"))
    val szs = docs.select(col("doc_id"), size(col("shingles")).as("n_sh"))
    val dfreq = sh.groupBy("sid").agg(count(lit(1)).as("df"))
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("sid"))
    // prefix = the (allowed misses + 1) globally-rarest shingles per doc;
    // misses = floor(0.15·n) computed as integer (n*3) div 20
    val pre = sh.join(dfreq, "sid")
      .withColumn("r", row_number().over(wD))
      .join(szs, "doc_id")
      .filter(col("r") <= floor(col("n_sh") * 3 / 20) + 1)
      .select(col("doc_id").as("doc_a"), col("sid"))
    val cand = pre
      .join(sh.select(col("doc_id").as("doc_b"), col("sid")), "sid")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      // lossless size prune: |A∩B| ≤ n_b, so containment ≥ 17/20 needs
      // 20·n_b ≥ 17·n_a
      .join(szs.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(szs.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .filter(col("n_b") * 20 >= col("n_a") * 17)
      .repartition(col("doc_a"), col("doc_b"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sid")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sid")), Seq("doc_b", "sid"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_i"))
      .filter(col("n_i") * 20 >= col("n_a") * 17)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        round(col("n_i").cast("double") / col("n_a"), 4).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  val dedupContainmentOracle: String = {
    val norm = normTextOracle("text")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($norm, ' ') AS tokens FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(array_to_string(tokens[i:i+4], ' ')), 1, 15))::BIGINT AS sid
       |  FROM toks, LATERAL unnest(generate_series(1, len(tokens) - 4)) t(i)
       |  WHERE len(tokens) >= 5),
       |sh AS (SELECT DISTINCT doc_id, sid FROM sh0),
       |szs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |dfreq AS (SELECT sid, count(*) AS df FROM sh GROUP BY sid),
       |ranked AS (
       |  SELECT s.doc_id, s.sid,
       |         row_number() OVER (PARTITION BY s.doc_id
       |           ORDER BY d.df, s.sid) AS r
       |  FROM sh s JOIN dfreq d USING (sid)),
       |pre AS (
       |  SELECT r.doc_id AS doc_a, r.sid
       |  FROM ranked r JOIN szs z ON z.doc_id = r.doc_id
       |  WHERE r.r <= (z.n_sh * 3) // 20 + 1),
       |cand AS (
       |  SELECT DISTINCT p.doc_a, s.doc_id AS doc_b
       |  FROM pre p JOIN sh s ON s.sid = p.sid AND s.doc_id <> p.doc_a),
       |sized AS (
       |  SELECT c.doc_a, c.doc_b, za.n_sh AS n_a, zb.n_sh AS n_b
       |  FROM cand c JOIN szs za ON za.doc_id = c.doc_a
       |              JOIN szs zb ON zb.doc_id = c.doc_b
       |  WHERE zb.n_sh * 20 >= za.n_sh * 17),
       |inter AS (
       |  SELECT s.doc_a, s.doc_b, s.n_a, s.n_b, count(*) AS n_i
       |  FROM sized s JOIN sh x ON x.doc_id = s.doc_a
       |               JOIN sh y ON y.doc_id = s.doc_b AND y.sid = x.sid
       |  GROUP BY s.doc_a, s.doc_b, s.n_a, s.n_b)
       |SELECT doc_a, doc_b, n_a, n_b,
       |       round(CAST(n_i AS DOUBLE) / n_a, 4) AS containment
       |FROM inter WHERE n_i * 20 >= n_a * 17
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val dedupMinhashShingleOracle: String = {
    import graft.functions.expressions.AffineMinHash
    val norm = normTextOracle("text")
    val nHashes = 48; val bands = 4; val rowsPerBand = nHashes / bands
    val sigCols = (0 until nHashes).map(j =>
      s"min((${AffineMinHash.A(j)} * (m % 4294967296) + " +
        s"${AffineMinHash.B(j)}) % 4294967296) AS s$j")
      .mkString(",\n         ")
    val bandSelects = (0 until bands).map { bnd =>
      val cols = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
        .map(j => s"s$j").mkString(", ")
      s"SELECT doc_id, $bnd AS band, " +
        s"('0x' || substr(md5(concat_ws(',', $cols)), 1, 15))::BIGINT AS bsig " +
        "FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($norm, ' ') AS tokens FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(array_to_string(tokens[i:i+4], ' ')), 1, 15))::BIGINT AS m
       |  FROM toks, LATERAL unnest(generate_series(1, len(tokens) - 4)) t(i)
       |  WHERE len(tokens) >= 5),
       |sh AS (SELECT DISTINCT doc_id, m FROM sh0),
       |szs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_i
       |  FROM pairs p
       |  JOIN sh x ON x.doc_id = p.doc_a
       |  JOIN sh y ON y.doc_id = p.doc_b AND y.m = x.m
       |  GROUP BY p.doc_a, p.doc_b)
       |SELECT i.doc_a, i.doc_b,
       |       round(CAST(i.n_i AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_i), 6) AS jaccard
       |FROM inter i
       |JOIN szs na ON na.doc_id = i.doc_a
       |JOIN szs nb ON nb.doc_id = i.doc_b
       |WHERE CAST(i.n_i AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_i) >= 0.8
       |ORDER BY i.doc_a, i.doc_b""".stripMargin
  }

  /** The wide composition MinHashSignature replaced — kept ONLY as the
    * equality reference for VectorExpressionsSpec.
    */
  def minhashSignaturesComposed(s: SparkSession, dir: String, nHashes: Int): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"),
        transform(array_distinct(split(normText(col("text")), " ")),
          t => xxhash64(t)).as("tokens"))
    docs.select(col("doc_id"), explode(col("tokens")).as("tok"))
      .groupBy("doc_id").agg(
        array((0 until nHashes).map(j =>
          min(xxhash64(col("tok"), lit(j)))): _*).as("sig"))
  }

  /** SemDeDup-style semantic dedup: k-means-seeded cluster assignment (k
    * deterministic seed centroids = the first k vectors, as in
    * [[SimilarityOps.kmeansStep]]) partitions the corpus, then near-dup
    * pairs are sought only WITHIN a cluster and each vector with a
    * smaller-id cluster-mate at cosine ≥ 0.35 is dropped (greedy min-id
    * keep, the simple SemDeDup variant). Cluster count GROWS WITH THE
    * CORPUS ([[semDedupK]]: k = ⌈n/16⌉, expected cluster occupancy ~16),
    * so within-cluster pair work (n/k)²·k ≈ 256·k is LINEAR in n — the
    * clustering IS the candidate pruning, the same role `label` plays in
    * [[dedupEmbeddingCosine]] but learned rather than given, and the same
    * way [[dedupEmbeddingLsh]] bounds bucket work (VERDICT r10 #3: k was
    * previously the fixed 32 the SCALE.md posture disclaimed).
    *
    * Engine parity: assignment argmin on the 6-rounded squared distance
    * with cid tie-break; the drop cut on the 4-rounded cosine (both the
    * usual float-damping pins). At the sf0.01 gate corpus (n = 500)
    * ⌈500/16⌉ = 32 — the committed k=32 oracle is unchanged.
    */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    // parquet-metadata count: one cheap driver-side scalar to size the
    // index, the kmeans_converged convergence-probe convention
    val n = Tables(s, dir, "embeddings").count()
    semDedup(s, dir, semDedupK(n))
  }

  /** k for a corpus of `n` vectors: ⌈n/16⌉ — per-cluster occupancy pinned
    * at ~16 regardless of corpus size (Long: at 100 TB scale k exceeds
    * Int range by design — it is a row-filter bound, not an array size).
    */
  def semDedupK(n: Long): Long = math.max(1L, (n + 15L) / 16L)

  def semDedup(s: SparkSession, dir: String, k: Long): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), normalize(toDoubleArray(col("embedding"))).as("v"))
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("dist",
        round(squaredDistance(col("v"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("v")), struct(col("dist"), col("cid")))
        .as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster"), col("m.v").as("v"))
    val a = assigned.as("a"); val b = assigned.as("b")
    a.join(b, col("a.cluster") === col("b.cluster") &&
        col("b.vec_id") < col("a.vec_id"))
      .filter(round(dot(col("a.v"), col("b.v")), 4) >= 0.35)
      .groupBy(col("a.vec_id").as("vec_id"), col("a.cluster").as("cluster"))
      .agg(min(col("b.vec_id")).as("dup_of"))
      .orderBy("vec_id")
  }

  val semDedupOracle: String = {
    val k = 32
    s"""WITH e AS (
       |  SELECT vec_id, ${normalizeOracle("embedding")} AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $k),
       |d AS (
       |  SELECT e.vec_id, c.cid,
       |         round(sum((v[i] - cv[i]) * (v[i] - cv[i])), 6) AS dist
       |  FROM e, c, LATERAL unnest(generate_series(1, len(v))) t(i)
       |  GROUP BY e.vec_id, c.cid),
       |asg AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id
       |             ORDER BY dist, cid) AS rn
       |    FROM d) WHERE rn = 1)
       |SELECT a.vec_id, a.cluster, min(b.vec_id) AS dup_of
       |FROM asg a JOIN asg b
       |  ON a.cluster = b.cluster AND b.vec_id < a.vec_id
       |JOIN embeddings ea ON ea.vec_id = a.vec_id
       |JOIN embeddings eb ON eb.vec_id = b.vec_id
       |WHERE round(${cosineOracle("ea.embedding", "eb.embedding")}, 4) >= 0.35
       |GROUP BY a.vec_id, a.cluster
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Edit-distance near-dup within prefix blocks: docs sharing the same
    * 50-char normalized prefix (the [[prefixFingerprint]] family key) are
    * compared by Levenshtein distance over their 200-char normalized
    * prefixes; pairs at distance ≤ 20 (but not byte-identical texts —
    * those are [[dedupExact]]'s) are near-dup edges. Catches the
    * "same opening, small mid-document edits" duplicates token-set methods
    * under-weigh.
    *
    * Scale shape: the block key makes candidate generation a linear
    * shuffle; within-block pairs are bounded by duplicate-family size (not
    * corpus size), and the O(m·n) Levenshtein cost is capped by the
    * 200-char truncation — the standard blocked-pairwise discipline, same
    * as [[dedupEmbeddingCosine]]'s label blocks.
    */
  def dedupEditDistance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"),
        prefixFingerprint(col("text"), 50).as("block"),
        substring(normText(col("text")), 1, 200).as("prefix"),
        fingerprint(col("text")).as("fp"))
    val a = docs.as("a"); val b = docs.as("b")
    // threshold form: banded DP, O(k·n) per pair instead of O(n²), with
    // early exit once the band exceeds k — returns -1 above the threshold,
    // and the exact distance (== the oracle's unbounded levenshtein) below.
    // The distance cut lives INSIDE the join condition, LAST: a separate
    // .filter would be pushed into the join with its conjuncts prepended,
    // running the DP on every block-matched pair (self-pairs included)
    // before the cheap id/fingerprint prunes get a chance (measured 3.3s →
    // 1.0s at sf0.1). And-chains evaluate left-to-right, so writing the
    // cheap conjuncts first is load-bearing.
    val dist = levenshtein(col("a.prefix"), col("b.prefix"), 21)
    a.join(b, col("a.block") === col("b.block") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.fp") =!= col("b.fp") &&
        dist.between(0, 20))
      // dist appears in the condition AND here — Catalyst shares no
      // subexpressions across a join and its parent project, so surviving
      // pairs pay the banded DP twice. Deliberate: survivors are the tiny
      // verified set, and the alternative (post-join filter) gets pushed
      // back into the join with its conjuncts ahead of the cheap prunes
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        dist.as("edit_dist"))
      // a (tiny) hash-shuffle boundary before the sort: the broadcast-join
      // pipeline is otherwise exchange-free, so the range-partitioner's
      // sampling pass would re-execute the entire join to plan the sort —
      // with the boundary, sampling reads the materialized exchange
      .repartition(col("doc_a"))
      .orderBy("doc_a", "doc_b")
  }

  val dedupEditDistanceOracle: String = {
    def norm(c: String) = normTextOracle(c)
    s"""WITH d AS (
       |  SELECT doc_id,
       |         md5(substr(${norm("text")}, 1, 50)) AS block,
       |         substr(${norm("text")}, 1, 200) AS prefix,
       |         md5(${norm("text")}) AS fp
       |  FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
       |FROM d a JOIN d b
       |  ON a.block = b.block AND a.doc_id < b.doc_id AND a.fp <> b.fp
       |WHERE levenshtein(a.prefix, b.prefix) <= 20
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Exact substring-duplication detection (the char-gram fingerprint
    * variant of Lee et al. 2021's "Deduplicating Training Data Makes
    * Language Models Better" exact-substring dedup, reference scope: the
    * corpus-hygiene layer a training pipeline runs before
    * [[dedupMinhashLsh]]-style whole-doc near-dup): every K=20-char
    * window of normalized text is fingerprinted with the native
    * Rabin–Karp [[graft.functions.expressions.RollingShingleHash]]
    * (O(chars) per doc, codegen'd); a window is DUPLICATED if it occurs
    * in ≥2 distinct docs; overlapping/adjacent duplicated windows merge
    * into maximal spans (the gaps-and-islands fold [[EventOps]] uses on
    * time intervals, here on char positions); per doc: span count, chars
    * covered, covered fraction — the signal that decides span-level
    * removal vs whole-doc drop.
    *
    * Scale shape: the position explode is one row per char position —
    * the HONEST cost of exact substring dedup (suffix-array formulations
    * save constants, not the O(corpus) pass; stride-sampling the windows
    * is the standard cheapening knob and changes only the sequence
    * generator). Downstream of the explode everything is keyed: the
    * duplicated-fingerprint test is min≠max over a fp-keyed aggregate
    * (NO count-distinct Expand, map-side combined), the survivor filter
    * a fp-keyed left-semi join (AQE decides the build side), and the
    * island fold a doc-keyed window — per-doc sized partitions, no
    * global window anywhere. Cross-engine identity: distinct-doc sets
    * per 20-char STRING gram (oracle) equal the sets per 64-bit rolling
    * hash modulo ~2⁻⁶⁴ collisions — the [[TextOps.shingleFingerprint]]
    * argument.
    */
  def duplicateSpans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    val K = 20
    val docs = Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"), length(col("norm")).as("n_chars"),
        bc(graft.functions.expressions.RollingShingleHash(
          be(graft.functions.ArrayFunctions.xxhash64Elements(
            split(col("norm"), ""))), K))
          .as("fps"))
      .localCheckpoint() // feeds the explode AND the final per-doc attach
    val pos = docs.select(col("doc_id"),
      posexplode(col("fps")).as(Seq("pos0", "fp")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("fp"))
    // duplicated ⇔ seen in ≥2 distinct docs ⇔ min(doc)≠max(doc) per fp
    val dup = pos.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .filter(col("lo") =!= col("hi")).select(col("fp"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = pos.join(dup, Seq("fp"), "left_semi")
      // windows [pos, pos+K-1]: new island when the previous duplicated
      // window neither overlaps nor touches (gap > K)
      .withColumn("brk", when(lag(col("pos"), 1).over(byDoc).isNull ||
        col("pos") - lag(col("pos"), 1).over(byDoc) > K, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + K).as("span_len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_len")).cast("long").as("dup_chars"))
    docs.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        round(coalesce(col("dup_chars"), lit(0L)).cast("double") /
          col("n_chars"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  val duplicateSpansOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, ${normTextOracle("text")} AS norm,
       |         length(${normTextOracle("text")}) AS n_chars
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, i AS pos, substr(norm, i, 20) AS g
       |  FROM base, LATERAL unnest(generate_series(1, n_chars - 19)) AS t(i)),
       |dup AS (
       |  SELECT g FROM grams GROUP BY g
       |  HAVING min(doc_id) <> max(doc_id)),
       |dpos AS (
       |  SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
       |isl AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER w IS NULL
       |                OR pos - lag(pos) OVER w > 20 THEN 1 ELSE 0 END AS brk
       |  FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |islands AS (
       |  SELECT doc_id, pos,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS UNBOUNDED PRECEDING) AS island
       |  FROM isl),
       |per_island AS (
       |  SELECT doc_id, island, max(pos) - min(pos) + 20 AS span_len
       |  FROM islands GROUP BY doc_id, island),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_dup_spans,
       |         CAST(sum(span_len) AS BIGINT) AS dup_chars
       |  FROM per_island GROUP BY doc_id)
       |SELECT b.doc_id,
       |       coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       |       coalesce(p.dup_chars, 0) AS dup_chars,
       |       round(CAST(coalesce(p.dup_chars, 0) AS DOUBLE) / b.n_chars, 4)
       |         AS dup_frac
       |FROM base b LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** C4-style block-level exact dedup WITH corpus reconstruction (Raffel
    * et al. 2020 §2.2 "we discard all but one of any three-sentence span
    * occurring more than once", restated for this corpus's unpunctuated
    * text as fixed 10-word blocks; reference scope: the remove-and-rewrite
    * sibling of [[duplicateSpans]], which only REPORTS duplication). Every
    * doc is cut into consecutive W=10-word blocks; a block survives iff it
    * is the corpus-wide FIRST occurrence of its text (ordered by doc_id,
    * then block index); each doc's retained text is re-assembled from its
    * surviving blocks in order — the cleaned corpus a training pipeline
    * actually writes back out, not just a duplication score.
    *
    * Scale shape: blocks are non-overlapping, so the explode is n_words/W
    * rows per doc (vs per-position for the span reporter — the removal
    * pass is CHEAPER than the audit pass by a factor of W). First-
    * occurrence selection is min(struct(doc_id, blk)) per block text — a
    * map-side-combined keyed aggregate, deliberately NOT a row_number
    * window so a degenerate hot block (boilerplate repeated across
    * millions of docs) combines locally instead of sorting one reducer
    * partition; the survivor test is a semi-join back on the same key, so
    * the two shuffles share one exchange. Reconstruction is a per-doc
    * collect_list bounded by doc size. Cross-engine identity: first
    * occurrence under (doc_id, blk) lexicographic order is engine-neutral;
    * both sides re-assemble with the same single-space separator.
    */
  def dedupLines(s: SparkSession, dir: String): DataFrame =
    dedupLinesFrom(Tables(s, dir, "documents"))

  /** [[dedupLines]] over any (doc_id, text) frame — the spec feeds crafted
    * repeated-block fixtures through the same plan.
    */
  def dedupLinesFrom(documents: DataFrame): DataFrame = {
    val W = 10
    val docs = documents
      .select(col("doc_id"), split(normText(col("text")), " ").as("words"))
      .select(col("doc_id"),
        ((size(col("words")) + (W - 1)) / W).cast("int").as("n_blocks"),
        col("words"))
    val blocks = docs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_blocks") - 1),
          i => array_join(slice(col("words"), i * W + 1, lit(W)), " "))))
      .select(col("doc_id"), col("pos").as("blk"), col("col").as("btext"))
    val first = blocks.groupBy(col("btext"))
      .agg(min(struct(col("doc_id"), col("blk"))).as("f"))
      .select(col("btext"), col("f.doc_id").as("doc_id"),
        col("f.blk").as("blk"))
    val kept = blocks.join(first, Seq("btext", "doc_id", "blk"), "left_semi")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_blocks"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("blk"), col("btext")))),
          x => x.getField("btext"))).as("dedup_text"))
    docs.select(col("doc_id"), col("n_blocks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks").cast("long").as("n_blocks"),
        coalesce(col("kept_blocks"), lit(0L)).as("kept_blocks"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
      .orderBy("doc_id")
  }

  val dedupLinesOracle: String = {
    val norm = normTextOracle("text")
    s"""WITH base AS (
       |  SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |nb AS (
       |  SELECT doc_id, ws,
       |         CAST((len(ws) + 9) // 10 AS INT) AS n_blocks FROM base),
       |blocks AS (
       |  SELECT doc_id, i AS blk,
       |         array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ') AS btext
       |  FROM nb, LATERAL unnest(generate_series(0, n_blocks - 1)) t(i)),
       |ranked AS (
       |  SELECT doc_id, blk, btext,
       |         row_number() OVER (PARTITION BY btext
       |           ORDER BY doc_id, blk) AS rk
       |  FROM blocks),
       |reb AS (
       |  SELECT doc_id, count(*) AS kept_blocks,
       |         string_agg(btext, ' ' ORDER BY blk) AS dedup_text
       |  FROM ranked WHERE rk = 1 GROUP BY doc_id)
       |SELECT n.doc_id, CAST(n.n_blocks AS BIGINT) AS n_blocks,
       |       coalesce(r.kept_blocks, 0) AS kept_blocks,
       |       coalesce(r.dedup_text, '') AS dedup_text
       |FROM nb n LEFT JOIN reb r USING (doc_id)
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Fuzzy train/test decontamination (the near-dup sibling of
    * [[TextOps.contaminationCheck]]'s exact 5-gram containment — GPT-3
    * App. C / PaLM-style eval hygiene, extended from exact n-gram hits to
    * whole-document near-duplication): an eval doc is contaminated when a
    * REWORDED or lightly-edited copy of it sits in the training split,
    * which exact n-gram containment under-counts the moment a single
    * token in each window drifts. Eval = `source = 'src0'`, train = the
    * rest; candidates come from the same md5-affine banded MinHash the
    * whole-corpus pass uses ([[dedupMinhashShingle]] — 48 hashes × 4
    * bands), but joined CROSS-SPLIT (eval bands ⋈ train bands) so the
    * candidate volume is |eval|-driven, not corpus²; each candidate pair
    * is then EXACT-verified (shingle-set Jaccard) and every eval doc
    * reports its best-matching train doc, the verified score, and the
    * ≥ 0.8 contamination flag — the per-example audit row an eval-set
    * release ships with.
    *
    * Scale shape: identical to the minhash family — banded bucket join
    * (keyed, linear in posting mass), first-agreeing-band dedup instead
    * of a DISTINCT exchange, skew rebalance before the exact verify, AQE
    * picks the attach build sides. The oracle transliterates the full
    * pipeline (same affine constants, same band hashing) with the
    * lossless DISTINCT form of the band dedup.
    */
  def contaminationFuzzy(s: SparkSession, dir: String): DataFrame =
    contaminationFuzzyFrom(Tables(s, dir, "documents"))

  /** [[contaminationFuzzy]] over any (doc_id, source, text) frame — the
    * spec feeds a crafted lightly-edited eval/train pair through the same
    * plan to pin what exact n-gram containment misses.
    */
  def contaminationFuzzyFrom(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    import graft.functions.expressions.{AffineMinHash, Md5ShingleId}
    val nHashes = 48; val bands = 4; val rowsPerBand = nHashes / bands
    val raw = documents
    val docs = raw
      .select(col("doc_id"), (col("source") === "src0").as("is_eval"),
        split(normText(col("text")), " ").as("tokens"))
      .filter(size(col("tokens")) >= 5)
      .select(col("doc_id"), col("is_eval"),
        array_distinct(bc(Md5ShingleId(be(col("tokens")), k = 5)))
          .as("shingles"))
    val sig = docs.select(col("doc_id"), col("is_eval"),
      bc(AffineMinHash(be(col("shingles")), nHashes)).as("sig"))
    def bandArr = array((0 until bands).map(bnd =>
      conv(substring(md5(concat_ws(",", (0 until rowsPerBand).map(r =>
        col("sig")(bnd * rowsPerBand + r)): _*)), 1, 15), 16, 10)
        .cast("long")): _*)
    val banded = sig.select(col("doc_id"), col("is_eval"), bandArr.as("bhs"),
        posexplode(bandArr))
      .select(col("doc_id"), col("is_eval"), col("bhs"),
        col("pos").as("band"), col("col").as("bsig"))
    val e = banded.filter(col("is_eval")).as("e")
    val t = banded.filter(!col("is_eval")).as("t")
    val candidates = e.join(t,
        col("e.band") === col("t.band") && col("e.bsig") === col("t.bsig") &&
        (0 until bands - 1).map(i =>
          col("e.band") <= i || col("e.bhs")(i) =!= col("t.bhs")(i))
          .reduce(_ && _))
      .select(col("e.doc_id").as("eval_id"), col("t.doc_id").as("train_id"))
      .repartition(col("eval_id"), col("train_id"))
    val ea = docs.filter(col("is_eval"))
      .select(col("doc_id").as("eval_id"), col("shingles").as("sh_e"))
    val ta = docs.filter(!col("is_eval"))
      .select(col("doc_id").as("train_id"), col("shingles").as("sh_t"))
    val verified = candidates.join(ea, "eval_id").join(ta, "train_id")
      .select(col("eval_id"), col("train_id"),
        size(col("sh_e")).as("n_e"), size(col("sh_t")).as("n_t"),
        graft.functions.ArrayFunctions.intersectSize(
          col("sh_e"), col("sh_t")).as("n_i"))
      .select(col("eval_id"), col("train_id"),
        round(col("n_i").cast("double") /
          (col("n_e") + col("n_t") - col("n_i")).cast("double"), 6)
          .as("jaccard"))
    val best = verified.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_candidates"),
        max(struct(col("jaccard"), col("train_id"))).as("b"))
    raw.filter(col("source") === "src0").select(col("doc_id"))
      .join(best, col("doc_id") === col("eval_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("b.train_id").as("best_match"),
        coalesce(col("b.jaccard"), lit(0.0)).as("jaccard"))
      .withColumn("contaminated", col("jaccard") >= 0.8)
      .orderBy("doc_id")
  }

  /** Full transliteration of [[contaminationFuzzy]] — same shingling,
    * affine signature constants, band hashing; the DISTINCT pair form
    * replaces the lossless first-agreeing-band dedup, zero-intersection
    * candidates survive via the LEFT JOIN (they are still candidates,
    * with jaccard 0).
    */
  val contaminationFuzzyOracle: String = {
    import graft.functions.expressions.AffineMinHash
    val norm = normTextOracle("text")
    val nHashes = 48; val bands = 4; val rowsPerBand = nHashes / bands
    val sigCols = (0 until nHashes).map(j =>
      s"min((${AffineMinHash.A(j)} * (m % 4294967296) + " +
        s"${AffineMinHash.B(j)}) % 4294967296) AS s$j")
      .mkString(",\n         ")
    val bandSelects = (0 until bands).map { bnd =>
      val cols = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
        .map(j => s"s$j").mkString(", ")
      s"SELECT doc_id, $bnd AS band, " +
        s"('0x' || substr(md5(concat_ws(',', $cols)), 1, 15))::BIGINT AS bsig " +
        "FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split($norm, ' ') AS tokens
       |  FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(array_to_string(tokens[i:i+4], ' ')), 1, 15))::BIGINT AS m
       |  FROM toks, LATERAL unnest(generate_series(1, len(tokens) - 4)) t(i)
       |  WHERE len(tokens) >= 5),
       |sh AS (SELECT DISTINCT doc_id, m FROM sh0),
       |szs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |srcs AS (SELECT doc_id, source = 'src0' AS is_eval FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT e.doc_id AS eval_id, t.doc_id AS train_id
       |  FROM bands e
       |  JOIN srcs se ON se.doc_id = e.doc_id AND se.is_eval
       |  JOIN bands t ON t.band = e.band AND t.bsig = e.bsig
       |  JOIN srcs st ON st.doc_id = t.doc_id AND NOT st.is_eval),
       |inter AS (
       |  SELECT p.eval_id, p.train_id, count(*) AS n_i
       |  FROM pairs p
       |  JOIN sh x ON x.doc_id = p.eval_id
       |  JOIN sh y ON y.doc_id = p.train_id AND y.m = x.m
       |  GROUP BY p.eval_id, p.train_id),
       |ver AS (
       |  SELECT p.eval_id, p.train_id,
       |         round(CAST(coalesce(i.n_i, 0) AS DOUBLE) /
       |           (ne.n_sh + nt.n_sh - coalesce(i.n_i, 0)), 6) AS jaccard
       |  FROM pairs p
       |  LEFT JOIN inter i ON i.eval_id = p.eval_id AND i.train_id = p.train_id
       |  JOIN szs ne ON ne.doc_id = p.eval_id
       |  JOIN szs nt ON nt.doc_id = p.train_id),
       |ranked AS (
       |  SELECT eval_id, train_id, jaccard,
       |         count(*) OVER (PARTITION BY eval_id) AS n_candidates,
       |         row_number() OVER (PARTITION BY eval_id
       |           ORDER BY jaccard DESC, train_id DESC) AS rn
       |  FROM ver)
       |SELECT d.doc_id,
       |       coalesce(b.n_candidates, 0) AS n_candidates,
       |       b.train_id AS best_match,
       |       coalesce(b.jaccard, 0.0) AS jaccard,
       |       coalesce(b.jaccard, 0.0) >= 0.8 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
       |LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) b
       |  ON b.eval_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** LSH banding-parameter tuning table — "measure, don't guess" for the
    * one knob every MinHash deployment must set: how 48 hashes are split
    * into (bands × rows-per-band) decides the S-curve
    * P(candidate | J) = 1 − (1 − Jʳ)ᵇ, trading candidate volume (cost)
    * against capture (recall). This query runs the SAME md5-affine
    * signature through three splits — (2×24) strict, (4×12) the shipped
    * [[dedupMinhashShingle]] default, (8×6) permissive — and reports per
    * config: banded candidate-pair count, exact-verified J ≥ 0.8 pairs
    * among them, precision, capture vs the union of all three configs'
    * finds, and the THEORETICAL capture at J = 0.8 and 0.95 next to the
    * empirical numbers. The tuning read: more bands buys capture at a
    * precision/volume price; pick the config whose measured capture
    * clears the pipeline's recall bar at the lowest candidate volume.
    *
    * Scale shape: ONE signature pass feeds all three configs; per config
    * the banded join is the family's linear bucket join; the verify
    * attaches shingles only to candidate ids. The cross-config union for
    * the capture denominator is candidate-sized, never corpus².
    */
  /** MinHash estimator-calibration table — the EMPIRICAL companion to
    * [[dedupLshTune]]'s closed-form S-curve: over the (8×6)-banded
    * candidate pairs (the widest-capture config), the 48-hash estimate
    * Ĵ = (matching signature positions)/48 next to the exact shingle
    * Jaccard, bucketed by exact J. Per bucket: mean exact, mean
    * estimate, mean |error|, and the binomial theory σ = √(J(1−J)/48)
    * the errors should sit inside — a mean_abs_err far above ~0.8·σ
    * means the hash family is broken, not just noisy. This is the audit
    * that justifies trusting minhash SCORES (not just buckets) anywhere
    * in the pipeline.
    *
    * Scale shape: candidates come from the banded join (linear, never
    * all-pairs); the estimate is an exact integer zip-count over the two
    * 48-long signatures (narrow, bit-identical cross-engine), and the
    * bucketing uses static literal comparisons on the 6-rounded exact J
    * (the [[ModelOps.modelCalibration]] boundary discipline).
    */
  def minhashEstimateError(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    import graft.functions.expressions.{AffineMinHash, Md5ShingleId}
    val nHashes = 48; val bands = 8; val rowsPerBand = 6
    val docs = Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), split(normText(col("text")), " ").as("tokens"))
      .filter(size(col("tokens")) >= 5)
      .select(col("doc_id"),
        array_distinct(bc(Md5ShingleId(be(col("tokens")), k = 5)))
          .as("shingles"))
    val sig = docs.select(col("doc_id"),
      bc(AffineMinHash(be(col("shingles")), nHashes)).as("sig"))
      .localCheckpoint()
    def bandArr = array((0 until bands).map(bnd =>
      conv(substring(md5(concat_ws(",", (0 until rowsPerBand).map(j =>
        col("sig")(bnd * rowsPerBand + j)): _*)), 1, 15), 16, 10)
        .cast("long")): _*)
    val banded = sig.select(col("doc_id"),
      posexplode(bandArr).as(Seq("band", "bsig")))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withSig = pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")),
        "doc_b")
    val ni = graft.functions.ArrayFunctions.intersectSize(
      col("sh_a"), col("sh_b"))
    val scored = withSig.select(
      round(ni.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - ni).cast("double"), 6)
        .as("j"),
      (aggregate(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v) / lit(nHashes.toDouble)).as("est"))
    val bucket = (1 to 9).foldLeft(when(col("j") < 0.1, lit(0))) {
      (acc, i) => acc.when(col("j") < lit((i + 1) / 10.0), lit(i))
    }.otherwise(lit(9))
    scored.withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("j")), 4).as("mean_exact"),
        round(avg(col("est")), 4).as("mean_est"),
        round(avg(abs(col("est") - col("j"))), 4).as("mean_abs_err"),
        round(sqrt(avg(col("j")) * (lit(1.0) - avg(col("j")))
          / nHashes), 4).as("theory_sd"))
      .orderBy("bucket")
  }

  lazy val minhashEstimateErrorOracle: String = {
    import graft.functions.expressions.AffineMinHash
    val norm = normTextOracle("text")
    val nHashes = 48; val bands = 8; val rowsPerBand = 6
    val sigCols = (0 until nHashes).map(j =>
      s"min((${AffineMinHash.A(j)} * (m % 4294967296) + " +
        s"${AffineMinHash.B(j)}) % 4294967296) AS s$j")
      .mkString(",\n         ")
    val bandSelects = (0 until bands).map { bnd =>
      val cols = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
        .map(j => s"s$j").mkString(", ")
      s"SELECT doc_id, $bnd AS band, " +
        s"('0x' || substr(md5(concat_ws(',', $cols)), 1, 15))::BIGINT AS bsig " +
        "FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val eqSum = (0 until nHashes)
      .map(j => s"CAST(sa.s$j = sb.s$j AS INT)").mkString(" + ")
    val bucketCase = "CASE " + (0 to 8).map(i =>
      s"WHEN j < ${(i + 1) / 10.0} THEN $i").mkString(" ") + " ELSE 9 END"
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($norm, ' ') AS tokens FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(array_to_string(tokens[i:i+4], ' ')), 1, 15))::BIGINT AS m
       |  FROM toks, LATERAL unnest(generate_series(1, len(tokens) - 4)) t(i)
       |  WHERE len(tokens) >= 5),
       |sh AS (SELECT DISTINCT doc_id, m FROM sh0),
       |szs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_i
       |  FROM pairs p
       |  JOIN sh x ON x.doc_id = p.doc_a
       |  JOIN sh y ON y.doc_id = p.doc_b AND y.m = x.m
       |  GROUP BY p.doc_a, p.doc_b),
       |scored AS (
       |  SELECT round(CAST(coalesce(i.n_i, 0) AS DOUBLE) /
       |           (na.n_sh + nb.n_sh - coalesce(i.n_i, 0)), 6) AS j,
       |         ($eqSum) / ${nHashes.toDouble} AS est
       |  FROM pairs p
       |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |  JOIN szs na ON na.doc_id = p.doc_a
       |  JOIN szs nb ON nb.doc_id = p.doc_b
       |  JOIN sig sa ON sa.doc_id = p.doc_a
       |  JOIN sig sb ON sb.doc_id = p.doc_b)
       |SELECT $bucketCase AS bucket, count(*) AS n_pairs,
       |       round(avg(j), 4) AS mean_exact,
       |       round(avg(est), 4) AS mean_est,
       |       round(avg(abs(est - j)), 4) AS mean_abs_err,
       |       round(sqrt(avg(j) * (1.0 - avg(j)) / $nHashes), 4) AS theory_sd
       |FROM scored GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  def dedupLshTune(s: SparkSession, dir: String): DataFrame =
    dedupLshTuneFrom(s, Tables(s, dir, "documents"))

  /** Seam for crafted-fixture specs: `docsIn` needs (doc_id, text). */
  private[graft] def dedupLshTuneFrom(s: SparkSession, docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    import graft.functions.expressions.{AffineMinHash, Md5ShingleId}
    val nHashes = 48
    val configs = Seq((2, 24), (4, 12), (8, 6))
    val docs = docsIn
      .select(col("doc_id"), split(normText(col("text")), " ").as("tokens"))
      .filter(size(col("tokens")) >= 5)
      .select(col("doc_id"),
        array_distinct(bc(Md5ShingleId(be(col("tokens")), k = 5)))
          .as("shingles"))
    val sig = docs.select(col("doc_id"),
      bc(AffineMinHash(be(col("shingles")), nHashes)).as("sig"))
    def pairsFor(b: Int, r: Int): DataFrame = {
      def bandArr = array((0 until b).map(bnd =>
        conv(substring(md5(concat_ws(",", (0 until r).map(j =>
          col("sig")(bnd * r + j)): _*)), 1, 15), 16, 10).cast("long")): _*)
      val banded = sig.select(col("doc_id"),
          posexplode(bandArr).as(Seq("band", "bsig")))
      val e = banded.as("a"); val t = banded.as("b")
      e.join(t, col("a.band") === col("b.band") &&
          col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("doc_a"), col("doc_b"))
    }
    val candidates = configs.map { case (b, r) => pairsFor(b, r) }
      .reduce(_ unionByName _)
    val da = docs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val db = docs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    val verified = candidates.join(da, "doc_a").join(db, "doc_b")
      .select(col("bands"), col("rows_per_band"), col("doc_a"), col("doc_b"),
        (graft.functions.ArrayFunctions.intersectSize(
          col("sh_a"), col("sh_b")).cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) -
            graft.functions.ArrayFunctions.intersectSize(
              col("sh_a"), col("sh_b"))).cast("double")).as("j"))
    val perConfig = verified.groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("j") >= 0.8, 1L).otherwise(0L)).as("n_found"))
    val total = verified.filter(col("j") >= 0.8)
      .select(col("doc_a"), col("doc_b")).distinct()
      .agg(count(lit(1)).as("n_union"))
    def theory(b: Int, r: Int, jv: Double): Double =
      BigDecimal(1.0 - math.pow(1.0 - math.pow(jv, r), b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val theoryDf = {
      import s.implicits._
      configs.map { case (b, r) =>
        (b, r, theory(b, r, 0.8), theory(b, r, 0.95))
      }.toDF("bands", "rows_per_band", "p_theory_08", "p_theory_95")
    }
    perConfig.crossJoin(broadcast(total))
      .join(broadcast(theoryDf), Seq("bands", "rows_per_band"))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_found"),
        round(col("n_found").cast("double") / col("n_candidates"), 4)
          .as("precision"),
        round(col("n_found").cast("double") / col("n_union"), 4)
          .as("capture"),
        col("p_theory_08"), col("p_theory_95"))
      .orderBy("bands")
  }

  val dedupLshTuneOracle: String = {
    import graft.functions.expressions.AffineMinHash
    val norm = normTextOracle("text")
    val nHashes = 48
    val configs = Seq((2, 24), (4, 12), (8, 6))
    val sigCols = (0 until nHashes).map(j =>
      s"min((${AffineMinHash.A(j)} * (m % 4294967296) + " +
        s"${AffineMinHash.B(j)}) % 4294967296) AS s$j")
      .mkString(",\n         ")
    def bandSelects(b: Int, r: Int): String = (0 until b).map { bnd =>
      val cols = (bnd * r until (bnd + 1) * r).map(j => s"s$j").mkString(", ")
      s"SELECT doc_id, $bnd AS band, " +
        s"('0x' || substr(md5(concat_ws(',', $cols)), 1, 15))::BIGINT AS bsig " +
        "FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val pairBlocks = configs.map { case (b, r) =>
      s"""p_${b}_$r AS (
         |  SELECT DISTINCT $b AS bands, $r AS rows_per_band,
         |         a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM (${bandSelects(b, r)}) a
         |  JOIN (${bandSelects(b, r)}) b
         |    ON b.band = a.band AND b.bsig = a.bsig
         |   AND a.doc_id < b.doc_id)""".stripMargin
    }.mkString(",\n")
    val pairUnion = configs.map { case (b, r) =>
      s"SELECT * FROM p_${b}_$r" }.mkString("\n  UNION ALL\n  ")
    def theory(b: Int, r: Int, jv: Double): String =
      BigDecimal(1.0 - math.pow(1.0 - math.pow(jv, r), b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    val theoryRows = configs.map { case (b, r) =>
      s"SELECT $b AS bands, $r AS rows_per_band, " +
        s"CAST(${theory(b, r, 0.8)} AS DOUBLE) AS p_theory_08, " +
        s"CAST(${theory(b, r, 0.95)} AS DOUBLE) AS p_theory_95"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($norm, ' ') AS tokens FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(array_to_string(tokens[i:i+4], ' ')), 1, 15))::BIGINT AS m
       |  FROM toks, LATERAL unnest(generate_series(1, len(tokens) - 4)) t(i)
       |  WHERE len(tokens) >= 5),
       |sh AS (SELECT DISTINCT doc_id, m FROM sh0),
       |szs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM sh GROUP BY doc_id),
       |$pairBlocks,
       |cand AS (
       |  $pairUnion),
       |ver AS (
       |  SELECT c.bands, c.rows_per_band, c.doc_a, c.doc_b,
       |         CAST(coalesce(i.n_i, 0) AS DOUBLE) /
       |           (na.n_sh + nb.n_sh - coalesce(i.n_i, 0)) AS j
       |  FROM cand c
       |  LEFT JOIN (
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_i
       |    FROM sh x JOIN sh y ON y.m = x.m AND x.doc_id < y.doc_id
       |    GROUP BY x.doc_id, y.doc_id) i
       |    ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN szs na ON na.doc_id = c.doc_a
       |  JOIN szs nb ON nb.doc_id = c.doc_b),
       |per AS (
       |  SELECT bands, rows_per_band, count(*) AS n_candidates,
       |         CAST(count(*) FILTER (j >= 0.8) AS BIGINT) AS n_found
       |  FROM ver GROUP BY bands, rows_per_band),
       |tot AS (
       |  SELECT count(*) AS n_union FROM (
       |    SELECT DISTINCT doc_a, doc_b FROM ver WHERE j >= 0.8)),
       |th AS (
       |  $theoryRows)
       |SELECT p.bands, p.rows_per_band, p.n_candidates, p.n_found,
       |       round(CAST(p.n_found AS DOUBLE) / p.n_candidates, 4)
       |         AS precision,
       |       round(CAST(p.n_found AS DOUBLE) / t.n_union, 4) AS capture,
       |       th.p_theory_08, th.p_theory_95
       |FROM per p, tot t
       |JOIN th ON th.bands = p.bands AND th.rows_per_band = p.rows_per_band
       |ORDER BY p.bands""".stripMargin
  }

  /** Frequency-threshold boilerplate removal (the RefinedWeb / CCNet
    * line-dedup rule — Penedo et al. 2023 drop lines repeated across the
    * crawl; Wenzek et al. 2020 hash out the most frequent paragraphs —
    * restated for this corpus's unpunctuated text on the same 10-word
    * blocks as [[dedupLines]]): a block whose corpus-wide occurrence
    * count reaches the threshold (3) is navigation/footer/disclaimer
    * boilerplate and is removed from EVERY document — including the first
    * occurrence, which is what separates this from [[dedupLines]]'
    * keep-first dedup (dedup preserves one copy of CONTENT; boilerplate
    * is noise with no copy worth keeping).
    *
    * Scale shape: one map-side-combined count per block text (the hot
    * boilerplate keys are exactly the ones local combining collapses
    * best), one keyed join back, one bounded per-doc stitch — strictly
    * cheaper than [[dedupLines]]' min-struct + semi-join because the
    * filter needs only the count.
    */
  def boilerplateStrip(s: SparkSession, dir: String): DataFrame =
    boilerplateStripFrom(Tables(s, dir, "documents"))

  /** [[boilerplateStrip]] over any (doc_id, text) frame. */
  def boilerplateStripFrom(documents: DataFrame): DataFrame = {
    val W = 10
    val docs = documents
      .select(col("doc_id"), split(normText(col("text")), " ").as("words"))
      .select(col("doc_id"),
        ((size(col("words")) + (W - 1)) / W).cast("int").as("n_blocks"),
        col("words"))
    val blocks = docs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_blocks") - 1),
          i => array_join(slice(col("words"), i * W + 1, lit(W)), " "))))
      .select(col("doc_id"), col("pos").as("blk"), col("col").as("btext"))
    val boiler = blocks.groupBy(col("btext"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 3).select(col("btext"))
    val kept = blocks.join(boiler, Seq("btext"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_blocks"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("blk"), col("btext")))),
          x => x.getField("btext"))).as("strip_text"))
    docs.select(col("doc_id"), col("n_blocks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks").cast("long").as("n_blocks"),
        coalesce(col("kept_blocks"), lit(0L)).as("kept_blocks"),
        coalesce(col("strip_text"), lit("")).as("strip_text"))
      .orderBy("doc_id")
  }

  val boilerplateStripOracle: String = {
    val norm = normTextOracle("text")
    s"""WITH base AS (
       |  SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |nb AS (
       |  SELECT doc_id, ws,
       |         CAST((len(ws) + 9) // 10 AS INT) AS n_blocks FROM base),
       |blocks AS (
       |  SELECT doc_id, i AS blk,
       |         array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ') AS btext
       |  FROM nb, LATERAL unnest(generate_series(0, n_blocks - 1)) t(i)),
       |boiler AS (
       |  SELECT btext FROM blocks GROUP BY btext HAVING count(*) >= 3),
       |reb AS (
       |  SELECT doc_id, count(*) AS kept_blocks,
       |         string_agg(btext, ' ' ORDER BY blk) AS strip_text
       |  FROM blocks b
       |  WHERE NOT EXISTS (SELECT 1 FROM boiler x WHERE x.btext = b.btext)
       |  GROUP BY doc_id)
       |SELECT n.doc_id, CAST(n.n_blocks AS BIGINT) AS n_blocks,
       |       coalesce(r.kept_blocks, 0) AS kept_blocks,
       |       coalesce(r.strip_text, '') AS strip_text
       |FROM nb n LEFT JOIN reb r USING (doc_id)
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Exact-substring dedup WITH removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the operation their
    * ExactSubstr tool performs, here keep-first instead of remove-all):
    * [[duplicateSpans]] REPORTS cross-document duplicated char ranges;
    * this query CUTS them and re-stitches each document, completing the
    * report ([[duplicateSpans]]) / block-remove ([[dedupLines]]) /
    * span-remove triad. Every K=20-char window duplicated across ≥2 docs
    * is OWNED by the smallest doc_id containing it; every other doc cuts
    * that window. Overlapping/adjacent cut windows merge into maximal
    * spans (the same gaps-and-islands fold), the kept text is the ordered
    * concatenation of the complement segments. Within-doc-only repeats are
    * deliberately NOT cut (cross-doc duplication is the training-data
    * signal; within-doc repetition is [[TextOps.textRepetition]]'s
    * business) — the owner doc keeps its copy intact, so every duplicated
    * string survives EXACTLY once corpus-wide, Lee et al.'s invariant.
    *
    * Scale shape: the per-position explode is the honest exact-substring
    * cost ([[duplicateSpans]]' argument verbatim); ownership is one
    * fp-keyed min aggregate (map-side combined); the cut filter is a
    * fp-keyed join; islands/segments are doc-keyed windows; the stitch is
    * a per-doc collect bounded by doc size. Cross-engine identity: 64-bit
    * rolling hashes vs literal 20-char grams modulo ~2⁻⁶⁴ collisions, the
    * established [[TextOps.shingleFingerprint]] argument.
    */
  def dedupSpanRemove(s: SparkSession, dir: String): DataFrame =
    dedupSpanRemoveFrom(Tables(s, dir, "documents"))

  /** [[dedupSpanRemove]] over any (doc_id, text) frame — the spec pins the
    * exactly-once invariant on crafted shared-run fixtures.
    */
  def dedupSpanRemoveFrom(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    val K = 20
    val docs = Tables.spread(documents, col("doc_id"))
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"), col("norm"), length(col("norm")).as("n_chars"),
        bc(graft.functions.expressions.RollingShingleHash(
          be(graft.functions.ArrayFunctions.xxhash64Elements(
            split(col("norm"), ""))), K))
          .as("fps"))
      .localCheckpoint() // feeds the explode AND the final stitch attach
    val pos = docs.select(col("doc_id"),
      posexplode(col("fps")).as(Seq("pos0", "fp")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("fp"))
    // owner = min doc containing the gram; cut ⇔ duplicated across docs
    // AND this doc is not the owner (min<max ⇒ owner < this doc for every
    // non-owner, so the single condition owner < doc_id is the whole test)
    val owners = pos.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("owner"))
    val cut = pos.join(owners, "fp")
      .filter(col("owner") < col("doc_id"))
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = cut
      .withColumn("brk", when(lag(col("pos"), 1).over(byDoc).isNull ||
        col("pos") - lag(col("pos"), 1).over(byDoc) > K, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + K - 1).as("e"))
    // complement segments: the gap before each span + the per-doc tail
    val byS = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val gaps = spans
      .select(col("doc_id"),
        (coalesce(lag(col("e"), 1).over(byS), lit(0L)) + 1)
          .cast("long").as("st"),
        (col("s") - 1).cast("long").as("en"))
    val tails = spans.groupBy(col("doc_id"))
      .agg((max(col("e")) + 1).cast("long").as("st"))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("doc_id"), col("st"), col("n_chars").cast("long").as("en"))
    val segs = gaps.unionByName(tails).filter(col("en") >= col("st"))
    val stitched = segs
      .join(docs.select(col("doc_id"), col("norm")), "doc_id")
      .select(col("doc_id"), col("st"),
        expr("substring(norm, cast(st as int), cast(en - st + 1 as int))")
          .as("seg"))
      .groupBy(col("doc_id"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("st"), col("seg")))),
        x => x.getField("seg"))).as("kept"))
    val audit = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cut_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("chars_removed"))
    docs.select(col("doc_id"), col("norm"), col("n_chars"))
      .join(audit, Seq("doc_id"), "left")
      .join(stitched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        coalesce(col("n_cut_spans"), lit(0L)).as("n_cut_spans"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"),
        // a doc whose every char was cut stitches to '' via the empty
        // segment set; a doc with NO cut spans never enters segs at all
        when(col("n_cut_spans").isNull, col("norm"))
          .otherwise(coalesce(col("kept"), lit(""))).as("kept_text"))
      .orderBy("doc_id")
  }

  val dedupSpanRemoveOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, ${normTextOracle("text")} AS norm,
       |         length(${normTextOracle("text")}) AS n_chars
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, i AS pos, substr(norm, i, 20) AS g
       |  FROM base, LATERAL unnest(generate_series(1, n_chars - 19)) AS t(i)),
       |owners AS (
       |  SELECT g, min(doc_id) AS owner FROM grams GROUP BY g),
       |cut AS (
       |  SELECT gr.doc_id, gr.pos FROM grams gr
       |  JOIN owners o ON o.g = gr.g AND o.owner < gr.doc_id),
       |isl AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER w IS NULL
       |                OR pos - lag(pos) OVER w > 20 THEN 1 ELSE 0 END AS brk
       |  FROM cut WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |islands AS (
       |  SELECT doc_id, pos,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS UNBOUNDED PRECEDING) AS island
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos) + 19 AS e
       |  FROM islands GROUP BY doc_id, island),
       |gaps AS (
       |  SELECT doc_id,
       |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
       |           AS st,
       |         s - 1 AS en
       |  FROM spans),
       |tails AS (
       |  SELECT sp.doc_id, max(sp.e) + 1 AS st,
       |         CAST(any_value(b.n_chars) AS BIGINT) AS en
       |  FROM spans sp JOIN base b ON b.doc_id = sp.doc_id
       |  GROUP BY sp.doc_id),
       |segs AS (
       |  SELECT * FROM gaps WHERE en >= st
       |  UNION ALL
       |  SELECT * FROM tails WHERE en >= st),
       |stitched AS (
       |  SELECT sg.doc_id,
       |         string_agg(substr(b.norm, CAST(sg.st AS INT),
       |           CAST(sg.en - sg.st + 1 AS INT)), '' ORDER BY sg.st)
       |           AS kept
       |  FROM segs sg JOIN base b ON b.doc_id = sg.doc_id
       |  GROUP BY sg.doc_id),
       |audit AS (
       |  SELECT doc_id, count(*) AS n_cut_spans,
       |         CAST(sum(e - s + 1) AS BIGINT) AS chars_removed
       |  FROM spans GROUP BY doc_id)
       |SELECT b.doc_id, CAST(b.n_chars AS BIGINT) AS n_chars,
       |       coalesce(a.n_cut_spans, 0) AS n_cut_spans,
       |       coalesce(a.chars_removed, 0) AS chars_removed,
       |       CASE WHEN a.n_cut_spans IS NULL THEN b.norm
       |            ELSE coalesce(st.kept, '') END AS kept_text
       |FROM base b
       |LEFT JOIN audit a ON a.doc_id = b.doc_id
       |LEFT JOIN stitched st ON st.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "duplicate_spans" -> (duplicateSpans _),
    "dedup_lines" -> (dedupLines _),
    "dedup_lsh_tune" -> (dedupLshTune _),
    "boilerplate_strip" -> (boilerplateStrip _),
    "dedup_span_remove" -> (dedupSpanRemove _),
    "contamination_fuzzy" -> (contaminationFuzzy _),
    "dedup_editdistance" -> (dedupEditDistance _),
    "semdedup" -> (semDedup _),
    "dedup_exact" -> (dedupExact _),
    "minhash_estimate_error" -> (minhashEstimateError _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_agreement" -> (dedupAgreement _),
    "incremental_dedup_edges" -> (incrementalDedupEdges _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "dedup_embedding_lsh" -> ((s: SparkSession, dir: String) => dedupEmbeddingLsh(s, dir)),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_minhash_shingle" -> (dedupMinhashShingle _))

  val oracles: Map[String, String] = Map(
    "duplicate_spans" -> duplicateSpansOracle,
    "dedup_lines" -> dedupLinesOracle,
    "dedup_lsh_tune" -> dedupLshTuneOracle,
    "boilerplate_strip" -> boilerplateStripOracle,
    "dedup_span_remove" -> dedupSpanRemoveOracle,
    "contamination_fuzzy" -> contaminationFuzzyOracle,
    "dedup_editdistance" -> dedupEditDistanceOracle,
    "semdedup" -> semDedupOracle,
    "dedup_exact" -> dedupExactOracle,
    "minhash_estimate_error" -> minhashEstimateErrorOracle,
    "dedup_threshold_sweep" -> dedupThresholdSweepOracle,
    "dedup_ngram_jaccard" -> dedupNgramJaccardOracle,
    "dedup_agreement" -> dedupAgreementOracle,
    "incremental_dedup_edges" -> incrementalDedupEdgesOracle,
    "dedup_embedding_cosine" -> dedupEmbeddingCosineOracle,
    "dedup_embedding_lsh" -> dedupEmbeddingLshOracle,
    "dedup_simhash" -> dedupSimhashOracle,
    "dedup_containment" -> dedupContainmentOracle,
    "dedup_minhash_shingle" -> dedupMinhashShingleOracle)
}
