package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the composition a real pretraining
  * pipeline runs — quality filter ∧ repetition filter ∧ near-dup cluster
  * drop — reduced to the per-source document and token budget that survives.
  * Exists to prove the operators INTEROPERATE (shared doc_id/source keys,
  * one filter semantic across Spark and the DuckDB oracle), not just pass
  * in isolation.
  *
  * Scale shape: every stage is doc_id-keyed, so the joins co-partition on
  * one key; the cluster drop is a left-anti against only the DROPPED doc
  * ids (strictly smaller than the clustered set — the keep side never
  * shuffles); the final rollup is a map-side-combined per-source count/sum.
  * Note the cluster stage is iterative, so like [[ClusterOps.dedupClusters]]
  * this query runs its propagation jobs at construction.
  */
object CurationOps {

  def corpusCuration(s: SparkSession, dir: String): DataFrame = {
    val tokens = TextOps.tokenCount(s, dir)
      .select(col("doc_id"), col("source"), col("ws_tokens"))
    val quality = TextOps.textQuality(s, dir)
      .select(col("doc_id"), col("low_quality"))
    val repetition = TextOps.textRepetition(s, dir)
      .select(col("doc_id"), col("repetitive"))
    val droppedDocs = DedupEdges.clusterLabels(s, dir)
      .filter(!col("keep")).select(col("doc_id"))
    tokens
      .join(quality, "doc_id")
      .join(repetition, "doc_id")
      .join(droppedDocs, Seq("doc_id"), "left_anti")
      .filter(!col("low_quality") && !col("repetitive"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        round(avg(col("ws_tokens")), 4).as("avg_ws_tokens"))
      .orderBy("source")
  }

  /** The same composition in one DuckDB statement, assembled from the
    * already-oracle-checked fragments of TextOps and ClusterOps.
    */
  val corpusCurationOracle: String =
    s"""SELECT source, count(*) AS n_docs,
       |       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
       |       round(avg(ws_tokens), 4) AS avg_ws_tokens
       |FROM (SELECT doc_id, source, ws_tokens
       |      FROM (${TextOps.tokenCountOracle}))
       |JOIN (SELECT doc_id, low_quality
       |      FROM (${TextOps.textQualityOracle})) USING (doc_id)
       |JOIN (SELECT doc_id, repetitive
       |      FROM (${TextOps.textRepetitionOracle})) USING (doc_id)
       |WHERE NOT low_quality AND NOT repetitive
       |  AND doc_id NOT IN (
       |    SELECT doc_id FROM (${ClusterOps.dedupClustersOracle})
       |    WHERE NOT keep)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Stage-wise attrition funnel (r15) — the report every production
    * curation pipeline publishes next to its data card: one row per
    * CUMULATIVE pipeline stage (all → language filter → quality filter →
    * repetition filter → near-dup cluster drop) with the documents and
    * whitespace tokens surviving through that stage and both retention
    * ratios against the raw corpus. [[corpusCuration]] reports the
    * terminal per-source budget; this is the orthogonal view — WHERE the
    * corpus is lost, stage by stage, the number a curation review reads
    * first when a budget comes in low (the monolingual `lang = 'en'`
    * stage is the classic pipeline head; per-language funnels are this
    * query re-run per partition).
    *
    * Scale shape: one doc_id-co-partitioned join pass assembles the flag
    * frame (the [[dataCard]] joins); each doc then fans out to its
    * qualifying stages via a 5-element literal explode (corpus-sized ×
    * 5, map-side only — the [[DedupOps.dedupThresholdSweep]] sweep
    * pattern), and the rollup is a 5-group map-side-combined aggregate.
    * The static stage spine keeps the row count fixed at 5 even when a
    * stage empties, and the raw-corpus baseline rides as a 1-row
    * broadcast — nothing here is corpus-wide beyond the flag pass the
    * card query already runs.
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val flags = docs
      .join(TextOps.tokenCount(s, dir)
        .select(col("doc_id"), col("ws_tokens")), "doc_id")
      .join(TextOps.textQuality(s, dir)
        .select(col("doc_id"), col("low_quality")), "doc_id")
      .join(TextOps.textRepetition(s, dir)
        .select(col("doc_id"), col("repetitive")), "doc_id")
      .join(DedupEdges.clusterLabels(s, dir)
        .filter(!col("keep")).select(col("doc_id"), lit(true).as("c0")),
        Seq("doc_id"), "left")
      .withColumn("dup", coalesce(col("c0"), lit(false)))
    val stages: Seq[(String, Column)] = {
      val lang = col("lang") === "en"
      val qual = lang && !col("low_quality")
      val nrep = qual && !col("repetitive")
      Seq("all" -> lit(true), "lang_en" -> lang, "quality" -> qual,
        "nonrepetitive" -> nrep, "dedup" -> (nrep && !col("dup")))
    }
    val tagged = flags.select(col("ws_tokens"),
        explode(array(stages.zipWithIndex.map { case ((n, c), i) =>
          struct(lit(i).as("stage_idx"), lit(n).as("stage"),
            c.as("pass")) }: _*)).as("st"))
      .filter(col("st.pass"))
    val counted = tagged
      .groupBy(col("st.stage_idx").as("stage_idx"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).cast("long").as("ws_tokens"))
    // static stage spine: the funnel has exactly 5 rows even if a stage
    // empties on some corpus (the threshold-sweep base-join convention)
    val spine = s.range(stages.length)
      .select(col("id").cast("int").as("stage_idx"),
        element_at(array(stages.map(p => lit(p._1)): _*),
          (col("id") + 1).cast("int")).as("stage"))
    val staged = spine.join(counted, Seq("stage_idx"), "left")
      .na.fill(0L, Seq("n_docs", "ws_tokens"))
      .localCheckpoint() // 5 rows; the baseline row and the output read it
    val base = staged.filter(col("stage_idx") === 0)
      .select(col("n_docs").as("d0"), col("ws_tokens").as("t0"))
    staged.crossJoin(broadcast(base))
      .select(col("stage_idx"), col("stage"), col("n_docs"),
        col("ws_tokens"),
        round(col("n_docs") / greatest(col("d0"), lit(1L)), 6)
          .as("doc_retention"),
        round(col("ws_tokens") / greatest(col("t0"), lit(1L)), 6)
          .as("token_retention"))
      .orderBy("stage_idx")
  }

  /** The same five cumulative stages as UNION ALL aggregates over one
    * flag CTE assembled from the already-oracle-checked TextOps /
    * ClusterOps fragments (the [[corpusCurationOracle]] composition
    * convention).
    */
  val curationFunnelOracle: String =
    s"""WITH flags AS (
       |  SELECT d.doc_id, d.lang, t.ws_tokens, q.low_quality, r.repetitive,
       |         d.doc_id IN (
       |           SELECT doc_id FROM (${ClusterOps.dedupClustersOracle})
       |           WHERE NOT keep) AS dup
       |  FROM documents d
       |  JOIN (SELECT doc_id, ws_tokens
       |        FROM (${TextOps.tokenCountOracle})) t USING (doc_id)
       |  JOIN (SELECT doc_id, low_quality
       |        FROM (${TextOps.textQualityOracle})) q USING (doc_id)
       |  JOIN (SELECT doc_id, repetitive
       |        FROM (${TextOps.textRepetitionOracle})) r USING (doc_id)),
       |staged AS (
       |  SELECT 0 AS stage_idx, 'all' AS stage, count(*) AS n_docs,
       |         CAST(coalesce(sum(ws_tokens), 0) AS BIGINT) AS ws_tokens
       |  FROM flags
       |  UNION ALL
       |  SELECT 1, 'lang_en', count(*),
       |         CAST(coalesce(sum(ws_tokens), 0) AS BIGINT)
       |  FROM flags WHERE lang = 'en'
       |  UNION ALL
       |  SELECT 2, 'quality', count(*),
       |         CAST(coalesce(sum(ws_tokens), 0) AS BIGINT)
       |  FROM flags WHERE lang = 'en' AND NOT low_quality
       |  UNION ALL
       |  SELECT 3, 'nonrepetitive', count(*),
       |         CAST(coalesce(sum(ws_tokens), 0) AS BIGINT)
       |  FROM flags WHERE lang = 'en' AND NOT low_quality
       |    AND NOT repetitive
       |  UNION ALL
       |  SELECT 4, 'dedup', count(*),
       |         CAST(coalesce(sum(ws_tokens), 0) AS BIGINT)
       |  FROM flags WHERE lang = 'en' AND NOT low_quality
       |    AND NOT repetitive AND NOT dup),
       |base AS (SELECT n_docs AS d0, ws_tokens AS t0 FROM staged
       |         WHERE stage_idx = 0)
       |SELECT stage_idx, stage, n_docs, ws_tokens,
       |       round(n_docs / greatest(d0, 1), 6) AS doc_retention,
       |       round(ws_tokens / greatest(t0, 1), 6) AS token_retention
       |FROM staged, base ORDER BY stage_idx""".stripMargin

  /** Ingest-batch review card (r15 s2) — the table a curation owner reads
    * BEFORE admitting an arrival batch into the corpus: per source, the
    * base era vs the delta era (`doc_id % 10 = 9`, the insert-family
    * convention every incremental op shares) in documents, whitespace
    * tokens, low-quality rate (with the delta-vs-base `quality_shift` —
    * "is the new batch worse than what we have?"), and the corpus token
    * share before vs after admission (`share_shift` — "does this batch
    * tilt the mixture?"). [[dataCard]] describes ONE corpus snapshot;
    * this is the two-era diff of its volume/quality axes, the sign-off
    * artifact of an incremental ingest — the review dual of
    * [[RelationalOps.incrementalAgg]]'s maintenance algebra.
    *
    * Scale shape: ONE doc_id-co-partitioned join pass assembles the flag
    * frame, then a single per-source aggregate with conditional
    * (era-filtered) partials — map-side combined, no second corpus scan
    * for the second era; corpus totals ride as a 1-row broadcast onto
    * the source-sized card. Rates and shares divide raw (unrounded)
    * ratios and round once at 6, identically in the oracle.
    */
  def ingestDeltaCard(s: SparkSession, dir: String): DataFrame = {
    val flags = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(TextOps.tokenCount(s, dir)
        .select(col("doc_id"), col("ws_tokens")), "doc_id")
      .join(TextOps.textQuality(s, dir)
        .select(col("doc_id"), col("low_quality")), "doc_id")
      .withColumn("is_delta", pmod(col("doc_id"), lit(10)) === 9)
    val per = flags.groupBy(col("source")).agg(
        count(when(!col("is_delta"), 1)).as("base_docs"),
        count(when(col("is_delta"), 1)).as("delta_docs"),
        coalesce(sum(when(!col("is_delta"), col("ws_tokens"))), lit(0L))
          .cast("long").as("base_tokens"),
        coalesce(sum(when(col("is_delta"), col("ws_tokens"))), lit(0L))
          .cast("long").as("delta_tokens"),
        count(when(!col("is_delta") && col("low_quality"), 1)).as("base_lowq"),
        count(when(col("is_delta") && col("low_quality"), 1)).as("delta_lowq"))
      .localCheckpoint() // the totals row and the card both read it
    val tot = per.agg(
      sum(col("base_tokens")).as("t_base"),
      sum(col("base_tokens") + col("delta_tokens")).as("t_union"))
    val baseRate = col("base_lowq") / greatest(col("base_docs"), lit(1L))
    val deltaRate = col("delta_lowq") / greatest(col("delta_docs"), lit(1L))
    val shareBase = col("base_tokens") / greatest(col("t_base"), lit(1L))
    val shareUnion = (col("base_tokens") + col("delta_tokens")) /
      greatest(col("t_union"), lit(1L))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("base_docs"), col("delta_docs"),
        col("base_tokens"), col("delta_tokens"),
        round(baseRate, 6).as("base_lowq_rate"),
        round(deltaRate, 6).as("delta_lowq_rate"),
        round(deltaRate - baseRate, 6).as("quality_shift"),
        round(shareBase, 6).as("token_share_base"),
        round(shareUnion, 6).as("token_share_union"),
        round(shareUnion - shareBase, 6).as("share_shift"))
      .orderBy("source")
  }

  /** One pass over the shared flag CTE with FILTER-clause partials —
    * the era split stated once, every ratio divided raw then rounded,
    * exactly as the Spark side.
    */
  val ingestDeltaCardOracle: String =
    s"""WITH flags AS (
       |  SELECT d.doc_id, d.source, t.ws_tokens, q.low_quality,
       |         d.doc_id % 10 = 9 AS is_delta
       |  FROM documents d
       |  JOIN (SELECT doc_id, ws_tokens
       |        FROM (${TextOps.tokenCountOracle})) t USING (doc_id)
       |  JOIN (SELECT doc_id, low_quality
       |        FROM (${TextOps.textQualityOracle})) q USING (doc_id)),
       |per AS (
       |  SELECT source,
       |         count(*) FILTER (WHERE NOT is_delta) AS base_docs,
       |         count(*) FILTER (WHERE is_delta) AS delta_docs,
       |         CAST(coalesce(sum(ws_tokens) FILTER (WHERE NOT is_delta), 0)
       |              AS BIGINT) AS base_tokens,
       |         CAST(coalesce(sum(ws_tokens) FILTER (WHERE is_delta), 0)
       |              AS BIGINT) AS delta_tokens,
       |         count(*) FILTER (WHERE NOT is_delta AND low_quality)
       |           AS base_lowq,
       |         count(*) FILTER (WHERE is_delta AND low_quality)
       |           AS delta_lowq
       |  FROM flags GROUP BY source),
       |tot AS (SELECT CAST(sum(base_tokens) AS BIGINT) AS t_base,
       |               CAST(sum(base_tokens + delta_tokens) AS BIGINT)
       |                 AS t_union FROM per)
       |SELECT source, base_docs, delta_docs, base_tokens, delta_tokens,
       |       round(base_lowq / greatest(base_docs, 1), 6)
       |         AS base_lowq_rate,
       |       round(delta_lowq / greatest(delta_docs, 1), 6)
       |         AS delta_lowq_rate,
       |       round(delta_lowq / greatest(delta_docs, 1)
       |             - base_lowq / greatest(base_docs, 1), 6)
       |         AS quality_shift,
       |       round(base_tokens / greatest(t_base, 1), 6)
       |         AS token_share_base,
       |       round((base_tokens + delta_tokens) / greatest(t_union, 1), 6)
       |         AS token_share_union,
       |       round((base_tokens + delta_tokens) / greatest(t_union, 1)
       |             - base_tokens / greatest(t_base, 1), 6) AS share_shift
       |FROM per, tot ORDER BY source""".stripMargin

  /** Deterministic stratified sampling for training-data mixes: keep a doc
    * iff the first 8 hex chars of its content fingerprint sort below the
    * stratum's rate threshold (lowercase-hex string order IS numeric order,
    * and md5 hex is identical across engines — so the oracle checks the
    * EXACT sampled set, not just a count). The stratum rule here keys on
    * the source name (even-length sources keep 25%, odd 75%) — in a real
    * mix the per-source rates come from the data-mixing config.
    *
    * Why hash-based and not `rand()`: a random sample is different on every
    * task RETRY (non-idempotent under Spark's fault tolerance, and
    * non-reproducible across runs/engines); content-hash sampling is a
    * narrow deterministic map — no shuffle, no RNG state, stable under
    * retries, and consistent between the Spark plan and any other engine
    * reading the same data. Also self-deduplicating: byte-identical docs
    * sample identically.
    */
  def corpusSample(s: SparkSession, dir: String): DataFrame = {
    // floor(rate·2^32) as 8-digit lowercase hex: 0.25 → 40000000, 0.75 → c0000000
    val threshold =
      when(length(col("source")) % 2 === 0, lit("40000000"))
        .otherwise(lit("c0000000"))
    Tables(s, dir, "documents")
      .filter(substring(DedupOps.fingerprint(col("text")), 1, 8) < threshold)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  val corpusSampleOracle: String =
    s"""SELECT doc_id, source FROM documents
       |WHERE substr(md5(${DedupOps.normTextOracle("text")}), 1, 8) <
       |      CASE WHEN length(source) % 2 = 0 THEN '40000000'
       |           ELSE 'c0000000' END
       |ORDER BY doc_id""".stripMargin

  /** Temperature-scaled source mixing — the data-mixing step of
    * multi-source pretraining (the α-sampling of XLM-R / the Pile): each
    * source's whitespace-token mass n_i is flattened to weight
    * sqrt(n_i) / Σ_j sqrt(n_j) (α = 0.5 — up-weights small sources; α→0
    * is uniform, α=1 proportional), and a 10M-token epoch budget is
    * apportioned by weight.
    *
    * Scale shape: ONE keyed aggregation over the corpus; everything after
    * is |sources| rows, so the normalizing Σ attaches as a broadcast cross
    * join against a 1-row aggregate — no unpartitioned window, no driver
    * round trip. `sqrt` (not `pow(x, 0.5)`) on both engines: IEEE sqrt is
    * correctly rounded, pow is not, and the oracle compares hashes.
    */
  def sourceMixture(s: SparkSession, dir: String): DataFrame = {
    val perSource = TextOps.tokenCount(s, dir)
      .groupBy(col("source"))
      .agg(sum(col("ws_tokens")).as("n_tokens"))
      .withColumn("flat", sqrt(col("n_tokens").cast("double")))
    val total = perSource.agg(sum(col("flat")).as("flat_total"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_tokens"),
        round(col("flat") / col("flat_total"), 6).as("weight"),
        round(lit(1e7) * col("flat") / col("flat_total"), 0)
          .cast("long").as("epoch_tokens"))
      .orderBy("source")
  }

  val sourceMixtureOracle: String = {
    val tok = s"""SELECT source,
                 |       len(regexp_extract_all(${DedupOps.normTextOracle("text")}, '\\S+')) AS ws_tokens
                 |FROM documents""".stripMargin
    s"""WITH tok AS ($tok),
       |ps AS (
       |  SELECT source, CAST(sum(ws_tokens) AS BIGINT) AS n_tokens,
       |         sqrt(CAST(sum(ws_tokens) AS DOUBLE)) AS flat
       |  FROM tok GROUP BY source),
       |t AS (SELECT sum(flat) AS flat_total FROM ps)
       |SELECT source, n_tokens,
       |       round(flat / flat_total, 6) AS weight,
       |       CAST(round(1e7 * flat / flat_total, 0) AS BIGINT) AS epoch_tokens
       |FROM ps, t ORDER BY source""".stripMargin
  }

  /** Deterministic training-order shuffle + sharding — the last step before
    * a corpus feeds a trainer: every doc gets a pseudo-random but
    * REPRODUCIBLE position (xxhash64 of doc_id and a seed literal) and a
    * shard assignment, so the "shuffled" order is identical across runs,
    * engines, and task retries — rand() is none of those (VERDICT r2 noted
    * the same argument for corpusSample). Emits per-shard occupancy plus
    * each shard's first/last doc in shuffled order as an audit handle.
    *
    * Scale shape: the rank is a narrow map; the per-shard summary is ONE
    * keyed aggregation. The full shuffled write-out at 100 TB is the same
    * plan with a `repartition(n_shards, shard)` + per-partition sort —
    * no global sort anywhere.
    */
  def corpusShuffle(s: SparkSession, dir: String): DataFrame = {
    // md5 (not xxhash64): byte-identical across engines, so the oracle
    // checks the EXACT shuffled order; hex-string comparison IS numeric
    // order for fixed-length lowercase hex (same argument as corpusSample).
    // 16 shards = the first hex nibble of the rank.
    val ranked = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast("string"), lit(":20260812"))
          .cast("binary")).as("rank"))
      .withColumn("shard",
        (instr(lit("0123456789abcdef"), substring(col("rank"), 1, 1)) - 1)
          .cast("int"))
    ranked.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min_by(col("doc_id"), col("rank")).as("first_doc"),
        max_by(col("doc_id"), col("rank")).as("last_doc"))
      .orderBy("shard")
  }

  val corpusShuffleOracle: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source,
       |         md5(CAST(doc_id AS VARCHAR) || ':20260812') AS rank
       |  FROM documents)
       |SELECT shard, count(*) AS n_docs,
       |       count(DISTINCT source) AS n_sources,
       |       min_by(doc_id, rank) AS first_doc,
       |       max_by(doc_id, rank) AS last_doc
       |FROM (SELECT *,
       |      CAST(strpos('0123456789abcdef', substr(rank, 1, 1)) - 1 AS INT)
       |        AS shard FROM ranked)
       |GROUP BY shard ORDER BY shard""".stripMargin

  /** Cross-source content overlap — the provenance audit run before mixing
    * sources (two "different" crawls sharing half their documents would
    * silently double-weight that content): pairwise Jaccard between the
    * sources' sets of 50-char content fingerprints.
    *
    * Scale shape: one distinct shuffle builds (source, fp) pairs, the pair
    * join is keyed on the FINGERPRINT (rows meet only where content is
    * actually shared — never a source×source cross join), and per-source
    * set sizes attach as a broadcast-sized |sources| table. Only source
    * pairs with ≥ 1 shared fingerprint are emitted.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val fps = Tables(s, dir, "documents")
      .select(col("source"),
        DedupOps.prefixFingerprint(col("text"), 50).as("fp"))
      .distinct()
    val sizes = fps.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = fps.as("a"); val b = fps.as("b")
    a.join(b, col("a.fp") === col("b.fp") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")), 4)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapOracle: String =
    s"""WITH fps AS (
       |  SELECT DISTINCT source,
       |         md5(substr(${DedupOps.normTextOracle("text")}, 1, 50)) AS fp
       |  FROM documents),
       |sizes AS (SELECT source, count(*) AS n FROM fps GROUP BY source),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         count(*) AS n_shared
       |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared,
       |       round(n_shared / (na.n + nb.n - n_shared), 4) AS jaccard
       |FROM inter
       |JOIN sizes na ON na.source = source_a
       |JOIN sizes nb ON nb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Deterministic train/val/test split: each doc lands in a split by one
    * hex nibble of md5(doc_id) — 13/16 train, 2/16 val, 1/16 test —
    * content-stable (re-runs and re-partitions can't move a doc between
    * splits, the property row_number-based splits lack), engine-portable
    * (md5 is bit-identical everywhere, unlike xxhash), and embarrassingly
    * parallel (a narrow map; the summary is one keyed shuffle). Emits per
    * (source, split) counts + token mass so leakage-sensitive audits can
    * check the split is balanced per source.
    */
  def corpusSplit(s: SparkSession, dir: String): DataFrame = {
    val nibble = instr(lit("0123456789abcdef"),
      substring(md5(col("doc_id").cast("string").cast("binary")), 32, 1)) - 1
    TextOps.tokenCount(s, dir)
      .select(col("doc_id"), col("source"), col("ws_tokens"))
      .withColumn("split",
        when(nibble < 13, "train").when(nibble < 15, "val").otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("n_tokens"))
      .orderBy("source", "split")
  }

  val corpusSplitOracle: String = {
    val tok = s"""SELECT doc_id, source,
                 |       len(regexp_extract_all(${DedupOps.normTextOracle("text")}, '\\S+')) AS ws_tokens
                 |FROM documents""".stripMargin
    s"""WITH tok AS ($tok),
       |sp AS (
       |  SELECT source, ws_tokens,
       |         CASE WHEN nib < 13 THEN 'train'
       |              WHEN nib < 15 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT source, ws_tokens,
       |               strpos('0123456789abcdef',
       |                      substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS nib
       |        FROM tok))
       |SELECT source, split, count(*) AS n_docs,
       |       CAST(sum(ws_tokens) AS BIGINT) AS n_tokens
       |FROM sp GROUP BY source, split ORDER BY source, split""".stripMargin
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir", IPL 2006 —
    * the A-ES key u^(1/w)): top-5 documents per source with selection
    * probability proportional to n_chars. The uniform u derives from the
    * content fingerprint (md5 first 8 hex nibbles + ½, over 2³²), so the
    * sample is retry-idempotent and engine-reproducible like
    * [[corpusSample]]; ranking uses ln(u)/w (same order as u^(1/w),
    * better conditioned). One source-keyed window shuffle; at real scale
    * the per-partition top-k runs map-side before the k-row merge.
    */
  def corpusWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        graft.functions.KmvSketch.hexPrefixUniform(
          DedupOps.fingerprint(col("text"))).as("u"))
      .withColumn("lnkey", log(col("u")) / col("n_chars").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("lnkey").desc, col("doc_id"))
    docs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"),
        round(col("lnkey"), 6).as("lnkey"))
      .orderBy("source", "rank")
  }

  val corpusWeightedSampleOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars,
       |         ${graft.functions.KmvSketch.hexPrefixUniformSql(
                    s"md5(${DedupOps.normTextOracle("text")})")} AS u
       |  FROM documents WHERE n_chars > 0),
       |k AS (
       |  SELECT doc_id, source, n_chars,
       |         ln(u) / CAST(n_chars AS DOUBLE) AS lnkey
       |  FROM d),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY lnkey DESC, doc_id) AS rank
       |  FROM k)
       |SELECT source, rank, doc_id, n_chars, round(lnkey, 6) AS lnkey
       |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  /** Fixed-size-per-stratum sample (the distributed reservoir):
    * min(k = 20, stratum size) documents per source — a stratum smaller
    * than k yields all its rows — selected by a deterministic md5 draw
    * (retry-idempotent and engine-reproducible like every sampler here —
    * the hash IS the random tape). Implementation is the per-group top-k
    * window on the hash order. At 100 TB the same semantics can
    * partial-combine — a bounded k-smallest typed Aggregator (the
    * [[graft.functions.KmvSketch]] pattern keeps exactly k smallest
    * hashes map-side) — but the window form is what the oracle can
    * replicate; both select the identical k rows.
    */
  def corpusReservoir(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 20
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("rsv"), col("doc_id").cast("string"))).as("draw"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("draw"), col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("doc_id"))
      .orderBy("source", "rank")
  }

  val corpusReservoirOracle: String =
    """SELECT source, rank, doc_id FROM (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY md5('rsv' || CAST(doc_id AS VARCHAR)), doc_id)
      |           AS rank
      |  FROM documents)
      |WHERE rank <= 20 ORDER BY source, rank""".stripMargin

  /** [[corpusReservoir]]'s 100 TB execution path made real: the same
    * exactly-k-per-source sample computed by the bounded-k
    * [[graft.functions.TopKRows]] typed Aggregator instead of a window —
    * partial aggregation ships ≤ k rows per (partition, source) where the
    * window form shuffles the whole corpus to rank it. Same md5 draw,
    * same tie-break, same ORACLE (the window-form SQL): the green row
    * proves the aggregator IS the window semantics, at the mergeable-
    * buffer price.
    */
  def corpusReservoirAgg(s: SparkSession, dir: String): DataFrame = {
    val k = 20
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("rsv"), col("doc_id").cast("string"))).as("draw"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKRows.topKIds(col("draw"), col("doc_id"), k)
        .as("ids"))
      .select(col("source"), posexplode(col("ids")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("col").as("doc_id"))
      .orderBy("source", "rank")
  }

  /** N-gram novelty in arrival order (doc_id as ingest time): per doc,
    * the fraction of its DISTINCT 3-token shingles first seen in that doc
    * — the marginal-diversity signal dataset builders rank incoming
    * shards by (a near-zero-novelty shard adds tokens but no new
    * content; the complement of [[DedupOps.duplicateSpans]]' redundancy
    * view). Shingles are native Rabin–Karp rolling hashes
    * ([[graft.functions.expressions.RollingShingleHash]]), distinct per
    * doc BEFORE the explode (narrow), so the shuffle carries one row per
    * distinct (doc, shingle).
    *
    * Scale shape — NO fingerprint join-back: "first seen in d" means
    * min(doc_id) over the shingle's postings equals d, so n_novel per
    * doc is a groupBy(first_doc) COUNT of the min-aggregate's own output
    * and n_grams a groupBy(doc) count of the postings — two keyed,
    * map-side-combined aggregates over the same explode, merged on the
    * doc-sized result. Cross-engine identity: distinct-hash counts equal
    * distinct string-3-gram counts modulo ~2⁻⁶⁴ collisions
    * ([[TextOps.shingleFingerprint]] argument).
    */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"),
        array_distinct(bc(graft.functions.expressions.RollingShingleHash(
          be(graft.functions.ArrayFunctions.xxhash64Elements(
            split(DedupOps.normText(col("text")), " "))), 3))).as("fps"))
    val pairs = docs.select(col("doc_id"), explode(col("fps")).as("fp"))
    val firsts = pairs.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_doc"))
    val nNovel = firsts.groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    val nGrams = pairs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    docs.select(col("doc_id"))
      .join(nGrams, Seq("doc_id"), "left")
      .join(nNovel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round(coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_grams"), 4)).otherwise(lit(0.0)).as("novelty_frac"))
      .orderBy("doc_id")
  }

  val ngramNoveltyOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         string_split(${DedupOps.normTextOracle("text")}, ' ') AS tokens
       |  FROM documents),
       |pairs AS (
       |  SELECT DISTINCT doc_id, array_to_string(tokens[i:i+2], ' ') AS g
       |  FROM toks, LATERAL unnest(generate_series(1, len(tokens) - 2)) AS t(i)),
       |firsts AS (SELECT g, min(doc_id) AS first_doc FROM pairs GROUP BY g),
       |n_novel AS (
       |  SELECT first_doc AS doc_id, count(*) AS n_novel
       |  FROM firsts GROUP BY first_doc),
       |n_grams AS (
       |  SELECT doc_id, count(*) AS n_grams FROM pairs GROUP BY doc_id)
       |SELECT t.doc_id,
       |       coalesce(g.n_grams, 0) AS n_grams,
       |       coalesce(v.n_novel, 0) AS n_novel,
       |       CASE WHEN coalesce(g.n_grams, 0) > 0
       |            THEN round(CAST(coalesce(v.n_novel, 0) AS DOUBLE)
       |                       / g.n_grams, 4)
       |            ELSE 0.0 END AS novelty_frac
       |FROM toks t
       |LEFT JOIN n_grams g USING (doc_id)
       |LEFT JOIN n_novel v USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  /** Water-filling token-budget allocation across sources — the mixture
    * SOLVER that sits between [[sourceMixture]]'s descriptive weights and
    * an actual training run: given a total token budget B (here half the
    * corpus — a deterministic, engine-neutral target), allocate each
    * source min(availableₛ, λ) tokens where the water level λ satisfies
    * Σₛ min(availableₛ, λ) = B. Small sources contribute everything they
    * have; large sources are capped at the common level — the classic
    * max-min fair allocation (Bertsekas–Gallager water-filling), which is
    * what "cap the over-represented web crawl, keep all of the small
    * high-quality sources" means formally.
    *
    * Closed form, not iteration: with sources sorted by ascending
    * availability, λ = candidate((B − prefix)/(remaining sources)) at the
    * FIRST rank where the candidate dips under that source's availability
    * (every earlier source saturates; if no rank qualifies the budget
    * exceeds the corpus and every source allocates fully). Both engines
    * evaluate the same integer prefix sums and one exact double division,
    * so the level — and the boundary decisions — cannot drift.
    *
    * Scale shape: one map-side-combined per-source aggregate over the
    * corpus; everything after operates on the SOURCE-LEVEL table (20
    * rows here, thousands at worst in production) — the unpartitioned
    * window is over that bounded table, never the corpus, the
    * [[EventOps]]-documented bounded-input exception.
    */
  def tokenBudgetFill(s: SparkSession, dir: String): DataFrame =
    waterFill(TextOps.tokenCount(s, dir)
      .groupBy(col("source"))
      .agg(sum(col("ws_tokens")).cast("long").as("avail")))

  /** [[tokenBudgetFill]]'s allocation core over any (source, avail) frame
    * — the spec feeds skewed fixtures where small sources genuinely
    * saturate (the gate corpus is near-uniform, so the boundary cases
    * live in CurationOpsSpec).
    */
  private[graft] def waterFill(per: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = per.agg(sum(col("avail")).as("tt"),
      count(lit(1)).as("k"))
    // rank/prefix BEFORE the scalar attach so the (bounded, source-
    // cardinality) window sits directly on the aggregate — the shape
    // PlanLintSpec's whitelist verifies
    val w = Window.orderBy(col("avail"), col("source"))
    val ranked = per
      .withColumn("rn", row_number().over(w))
      .withColumn("prefix", sum(col("avail")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cand = ranked.crossJoin(broadcast(tot))
      .withColumn("budget", (col("tt") / 2).cast("long"))
      .withColumn("cand",
        (col("budget") - (col("prefix") - col("avail"))).cast("double") /
          (col("k") - col("rn") + 1))
    val lam = cand.filter(col("cand") <= col("avail"))
      .agg(min(struct(col("rn"), col("cand"))).as("l"))
      .select(col("l.cand").as("lam"))
    val alloc = when(col("lam").isNull, col("avail").cast("double"))
      .otherwise(least(col("avail").cast("double"), col("lam")))
    cand.crossJoin(broadcast(lam))
      .select(col("source"), col("avail"),
        round(alloc, 4).as("alloc_tokens"),
        round(alloc / col("avail"), 6).as("frac"),
        round(col("lam"), 4).as("level"))
      .orderBy("source")
  }

  val tokenBudgetFillOracle: String = {
    val tok = s"""SELECT source,
                 |       len(regexp_extract_all(${DedupOps.normTextOracle("text")}, '\\S+')) AS ws_tokens
                 |FROM documents""".stripMargin
    s"""WITH tok AS ($tok),
       |per AS (
       |  SELECT source, CAST(sum(ws_tokens) AS BIGINT) AS avail
       |  FROM tok GROUP BY source),
       |t AS (SELECT CAST(sum(avail) AS BIGINT) AS tt, count(*) AS k FROM per),
       |cand AS (
       |  SELECT source, avail, CAST(tt // 2 AS BIGINT) AS budget, k,
       |         row_number() OVER (ORDER BY avail, source) AS rn,
       |         sum(avail) OVER (ORDER BY avail, source
       |           ROWS UNBOUNDED PRECEDING) AS prefix
       |  FROM per, t),
       |c2 AS (
       |  SELECT *, CAST(budget - (prefix - avail) AS DOUBLE) / (k - rn + 1)
       |           AS cand
       |  FROM cand),
       |lam AS (
       |  SELECT (SELECT cand FROM c2 WHERE cand <= avail
       |          ORDER BY rn LIMIT 1) AS lam)
       |SELECT source, avail,
       |       round(CASE WHEN l.lam IS NULL THEN CAST(avail AS DOUBLE)
       |             ELSE least(CAST(avail AS DOUBLE), l.lam) END, 4)
       |         AS alloc_tokens,
       |       round(CASE WHEN l.lam IS NULL THEN CAST(avail AS DOUBLE)
       |             ELSE least(CAST(avail AS DOUBLE), l.lam) END / avail, 6)
       |         AS frac,
       |       round(l.lam, 4) AS level
       |FROM c2, lam l ORDER BY source""".stripMargin
  }

  /** Epoch-capped token apportionment — the data-constrained scaling plan
    * (Muennighoff et al. 2023: past ~4 epochs, repeated tokens stop
    * helping): an over-subscribed token budget (2× the corpus here) is
    * apportioned by the α=0.5-flattened weights of [[sourceMixture]],
    * subject to a hard 4-epoch cap per source; demand that would push a
    * source past its cap spills over to the uncapped sources, still in
    * proportion to their weights. The closed form is [[tokenBudgetFill]]'s
    * water-fill DUAL: sort sources by cap/weight, find the unique level t
    * with Σ min(cap_i, t·w_i) = budget via prefix sums — no iteration, no
    * convergence question. Completes the mixing trilogy: sourceMixture
    * (weights), token_budget_fill (under-subscribed max-min fill), this
    * (over-subscribed epoch-capped apportionment).
    *
    * Scale shape: identical to [[tokenBudgetFill]] — ONE corpus token
    * aggregate, then rank/prefix windows over the bounded per-source
    * table (whitelisted with that bound), scalars attached as 1-row
    * broadcasts. The sort key cap/flat is computed PER ROW (no global
    * float sum inside the ordering), so the sorted order — and with it
    * the prefix sums — is bit-identical across engines.
    */
  def epochPlan(s: SparkSession, dir: String): DataFrame =
    epochFill(TextOps.tokenCount(s, dir)
      .groupBy(col("source"))
      .agg(sum(col("ws_tokens")).cast("long").as("avail")))

  /** [[epochPlan]]'s allocation core over any (source, avail) frame — the
    * spec drives skewed fixtures where the cap genuinely binds and
    * cross-checks a driver-side iterative reference (the gate corpus is
    * near-uniform, so there the level serves everyone below cap).
    */
  private[graft] def epochFill(per: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.orderBy(col("r0"), col("source"))
    val ranked = per
      .withColumn("flat", sqrt(col("avail").cast("double")))
      .withColumn("cap", col("avail").cast("double") * 4)
      .withColumn("r0", col("cap") / col("flat"))
      .withColumn("rn", row_number().over(win))
      .withColumn("pcap", coalesce(sum(col("cap")).over(
        win.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .withColumn("pflat", coalesce(sum(col("flat")).over(
        win.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
    val tot = per.agg(sum(col("avail")).as("tt"),
      sum(sqrt(col("avail").cast("double"))).as("ftot"))
    val cand = ranked.crossJoin(broadcast(tot))
      .withColumn("budget", col("tt").cast("double") * 2)
      .withColumn("cand",
        (col("budget") - col("pcap")) / (col("ftot") - col("pflat")))
    val lvl = cand.filter(col("cand") <= col("r0"))
      .agg(min(struct(col("rn"), col("cand"))).as("l"))
      .select(col("l.cand").as("t0"))
    val alloc = when(col("t0").isNull, col("cap"))
      .otherwise(least(col("cap"), col("t0") * col("flat")))
    cand.crossJoin(broadcast(lvl))
      .select(col("source"), col("avail"),
        round(col("flat") / col("ftot"), 6).as("weight"),
        round(alloc, 2).as("alloc_tokens"),
        round(alloc / col("avail"), 4).as("epochs"),
        when(col("t0").isNull, lit(true))
          .otherwise(col("cap") < col("t0") * col("flat")).as("capped"),
        round(col("t0"), 4).as("level"))
      .orderBy("source")
  }

  val epochPlanOracle: String = {
    val tok = s"""SELECT source,
                 |       len(regexp_extract_all(${DedupOps.normTextOracle("text")}, '\\S+')) AS ws_tokens
                 |FROM documents""".stripMargin
    s"""WITH tok AS ($tok),
       |per AS (
       |  SELECT source, CAST(sum(ws_tokens) AS BIGINT) AS avail
       |  FROM tok GROUP BY source),
       |ranked AS (
       |  SELECT source, avail, sqrt(CAST(avail AS DOUBLE)) AS flat,
       |         CAST(avail AS DOUBLE) * 4 AS cap,
       |         CAST(avail AS DOUBLE) * 4 / sqrt(CAST(avail AS DOUBLE))
       |           AS r0,
       |         row_number() OVER w AS rn,
       |         coalesce(sum(CAST(avail AS DOUBLE) * 4) OVER
       |           (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           0.0) AS pcap,
       |         coalesce(sum(sqrt(CAST(avail AS DOUBLE))) OVER
       |           (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           0.0) AS pflat
       |  FROM per
       |  WINDOW w AS (ORDER BY CAST(avail AS DOUBLE) * 4 /
       |    sqrt(CAST(avail AS DOUBLE)), source)),
       |t AS (SELECT sum(avail) AS tt FROM per),
       |ft AS (SELECT sum(sqrt(CAST(avail AS DOUBLE))) AS ftot FROM per),
       |cand AS (
       |  SELECT ranked.*, CAST(tt AS DOUBLE) * 2 AS budget, ftot,
       |         (CAST(tt AS DOUBLE) * 2 - pcap) / (ftot - pflat) AS cand
       |  FROM ranked, t, ft),
       |lvl AS (
       |  SELECT (SELECT cand FROM cand WHERE cand <= r0
       |          ORDER BY rn LIMIT 1) AS t0)
       |SELECT source, avail,
       |       round(flat / ftot, 6) AS weight,
       |       round(CASE WHEN l.t0 IS NULL THEN cap
       |             ELSE least(cap, l.t0 * flat) END, 2) AS alloc_tokens,
       |       round(CASE WHEN l.t0 IS NULL THEN cap
       |             ELSE least(cap, l.t0 * flat) END / avail, 4) AS epochs,
       |       CASE WHEN l.t0 IS NULL THEN true
       |            ELSE cap < l.t0 * flat END AS capped,
       |       round(l.t0, 4) AS level
       |FROM cand, lvl l ORDER BY source""".stripMargin
  }

  /** Filter-ablation table for the curation stack — the debugging view
    * behind [[corpusCuration]]'s bottom line: per rule (Gopher-style
    * quality, repetition, near-dup cluster drop), how many docs it flags
    * (`n_flagged`), how many it ALONE flags (`n_exclusive` — the rule's
    * marginal contribution: dropping the rule would admit exactly these),
    * and the flagged token mass. `any`/`none` rows give the joint kill
    * and survivor counts (`none.n_flagged` = [[corpusCuration]]'s
    * survivor total — one number reconcilable across both queries). A
    * pipeline tunes thresholds by watching n_exclusive: a rule whose
    * marginal is ~0 is redundant with the others; one that dominates the
    * kills deserves threshold scrutiny.
    *
    * Scale shape: the three flag frames are doc_id-keyed joins (the
    * [[corpusCuration]] co-partition argument verbatim), the rollup is a
    * 5-row aggregate via one narrow pass that evaluates every rule
    * combination per doc.
    */
  def qualityAblation(s: SparkSession, dir: String): DataFrame = {
    val tokens = TextOps.tokenCount(s, dir)
      .select(col("doc_id"), col("ws_tokens"))
    val flags = tokens
      .join(TextOps.textQuality(s, dir)
        .select(col("doc_id"), col("low_quality").as("q")), "doc_id")
      .join(TextOps.textRepetition(s, dir)
        .select(col("doc_id"), col("repetitive").as("r")), "doc_id")
      .join(DedupEdges.clusterLabels(s, dir)
        .filter(!col("keep")).select(col("doc_id"), lit(true).as("c0")),
        Seq("doc_id"), "left")
      .withColumn("c", coalesce(col("c0"), lit(false)))
    // ONE aggregate pass computes all fifteen numbers (a five-way union of
    // per-rule aggregates would re-derive the whole flag pipeline per row —
    // 35 exchanges vs 3), then a 1-row melt emits the table
    val rules: Seq[(String, Column, Column)] = Seq(
      ("low_quality", col("q"), col("q") && !col("r") && !col("c")),
      ("repetitive", col("r"), col("r") && !col("q") && !col("c")),
      ("cluster_dup", col("c"), col("c") && !col("q") && !col("r")),
      ("any", col("q") || col("r") || col("c"), lit(false)),
      ("none", !(col("q") || col("r") || col("c")), lit(false)))
    val aggCols = rules.flatMap { case (name, flag, exclusive) => Seq(
      sum(when(flag, 1L).otherwise(0L)).as(s"${name}_f"),
      sum(when(exclusive, 1L).otherwise(0L)).as(s"${name}_e"),
      sum(when(flag, col("ws_tokens")).otherwise(lit(0L))).cast("long")
        .as(s"${name}_t"))
    }
    flags.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(rules.map { case (name, _, _) =>
        struct(lit(name).as("rule"),
          col(s"${name}_f").as("n_flagged"),
          col(s"${name}_e").as("n_exclusive"),
          col(s"${name}_t").as("flagged_tokens"))
      }: _*)).as("x"))
      .select(col("x.rule"), col("x.n_flagged"), col("x.n_exclusive"),
        col("x.flagged_tokens"))
      .orderBy("rule")
  }

  val qualityAblationOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id, ws_tokens, q, r,
       |         doc_id IN (SELECT doc_id FROM
       |           (${ClusterOps.dedupClustersOracle}) WHERE NOT keep) AS c
       |  FROM (SELECT doc_id, ws_tokens FROM (${TextOps.tokenCountOracle}))
       |  JOIN (SELECT doc_id, low_quality AS q
       |        FROM (${TextOps.textQualityOracle})) USING (doc_id)
       |  JOIN (SELECT doc_id, repetitive AS r
       |        FROM (${TextOps.textRepetitionOracle})) USING (doc_id)),
       |rules AS (
       |  SELECT 'low_quality' AS rule,
       |         CAST(count(*) FILTER (q) AS BIGINT) AS n_flagged,
       |         CAST(count(*) FILTER (q AND NOT r AND NOT c) AS BIGINT)
       |           AS n_exclusive,
       |         CAST(coalesce(sum(ws_tokens) FILTER (q), 0) AS BIGINT)
       |           AS flagged_tokens
       |  FROM f
       |  UNION ALL
       |  SELECT 'repetitive',
       |         CAST(count(*) FILTER (r) AS BIGINT),
       |         CAST(count(*) FILTER (r AND NOT q AND NOT c) AS BIGINT),
       |         CAST(coalesce(sum(ws_tokens) FILTER (r), 0) AS BIGINT)
       |  FROM f
       |  UNION ALL
       |  SELECT 'cluster_dup',
       |         CAST(count(*) FILTER (c) AS BIGINT),
       |         CAST(count(*) FILTER (c AND NOT q AND NOT r) AS BIGINT),
       |         CAST(coalesce(sum(ws_tokens) FILTER (c), 0) AS BIGINT)
       |  FROM f
       |  UNION ALL
       |  SELECT 'any',
       |         CAST(count(*) FILTER (q OR r OR c) AS BIGINT),
       |         CAST(0 AS BIGINT),
       |         CAST(coalesce(sum(ws_tokens) FILTER (q OR r OR c), 0)
       |           AS BIGINT)
       |  FROM f
       |  UNION ALL
       |  SELECT 'none',
       |         CAST(count(*) FILTER (NOT (q OR r OR c)) AS BIGINT),
       |         CAST(0 AS BIGINT),
       |         CAST(coalesce(sum(ws_tokens) FILTER (NOT (q OR r OR c)), 0)
       |           AS BIGINT)
       |  FROM f)
       |SELECT rule, n_flagged, n_exclusive, flagged_tokens
       |FROM rules ORDER BY rule""".stripMargin

  /** Per-document lineage passport — the subject-access-request shape a
    * governed corpus answers (GDPR Art. 15 / the audit half of
    * [[ClusterOps.deletePropagation]]'s erasure): for a probe set of
    * documents, one row joining every derived artifact the pipeline
    * holds about the doc — near-dup degree in the pair table, cluster
    * membership and the dedup keep verdict, train/val/test split and CV
    * fold assignment, and the quality/repetition flags. Before a
    * deletion request is honored, THIS is the checklist of artifacts the
    * erasure must propagate through.
    *
    * Scale shape: the probe set prunes first (a narrow filter), and
    * every artifact attach is a doc_id-keyed join against tables the
    * pipeline already materializes (pairs, clusters) or narrow maps
    * (split/fold rules, flags) — probe-set-sized output, artifact-table-
    * sized work, never corpus².
    */
  def docLineage(s: SparkSession, dir: String): DataFrame = {
    val probes = Tables(s, dir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("source"))
    val nibble = instr(lit("0123456789abcdef"),
      substring(md5(col("doc_id").cast("string").cast("binary")), 32, 1)) - 1
    val degree = DedupEdges.pairs(s, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_pairs"))
    val cl = DedupEdges.clusterLabels(s, dir)
      .select(col("doc_id"), col("cluster_rep"), col("keep"))
    probes
      .join(degree, Seq("doc_id"), "left")
      .join(cl, Seq("doc_id"), "left")
      .join(TextOps.textQuality(s, dir)
        .select(col("doc_id"), col("low_quality")), "doc_id")
      .join(TextOps.textRepetition(s, dir)
        .select(col("doc_id"), col("repetitive")), "doc_id")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_pairs"), lit(0L)).as("n_dup_pairs"),
        col("cluster_rep"),
        coalesce(col("keep"), lit(true)).as("kept_by_dedup"),
        when(nibble < 13, "train").when(nibble < 15, "val")
          .otherwise("test").as("split"),
        (nibble % 5).cast("int").as("fold"),
        col("low_quality"), col("repetitive"))
      .orderBy("doc_id")
  }

  val docLineageOracle: String =
    s"""WITH probes AS (
       |  SELECT doc_id, source,
       |         strpos('0123456789abcdef',
       |           substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS nib
       |  FROM documents WHERE doc_id % 50 = 0),
       |pairs AS (SELECT doc_a, doc_b
       |          FROM (${DedupOps.dedupNgramJaccardOracle})),
       |deg AS (
       |  SELECT doc_id, count(*) AS n_pairs FROM (
       |    SELECT doc_a AS doc_id FROM pairs
       |    UNION ALL SELECT doc_b AS doc_id FROM pairs)
       |  GROUP BY doc_id),
       |cl AS (SELECT doc_id, cluster_rep, keep
       |       FROM (${ClusterOps.dedupClustersOracle})),
       |q AS (SELECT doc_id, low_quality
       |      FROM (${TextOps.textQualityOracle})),
       |r AS (SELECT doc_id, repetitive
       |      FROM (${TextOps.textRepetitionOracle}))
       |SELECT p.doc_id, p.source,
       |       CAST(coalesce(deg.n_pairs, 0) AS BIGINT) AS n_dup_pairs,
       |       cl.cluster_rep,
       |       coalesce(cl.keep, true) AS kept_by_dedup,
       |       CASE WHEN p.nib < 13 THEN 'train'
       |            WHEN p.nib < 15 THEN 'val' ELSE 'test' END AS split,
       |       CAST(p.nib % 5 AS INT) AS fold,
       |       q.low_quality, r.repetitive
       |FROM probes p
       |LEFT JOIN deg USING (doc_id)
       |LEFT JOIN cl USING (doc_id)
       |JOIN q USING (doc_id) JOIN r USING (doc_id)
       |ORDER BY p.doc_id""".stripMargin

  /** k-fold cross-validation split audit WITH the leakage check plain
    * folding misses: documents are dealt into 5 folds by the content-
    * stable md5-nibble rule ([[corpusSplit]]'s discipline, mod 5), and
    * per fold the audit reports volume plus `n_leak_pairs` — verified
    * near-dup pairs whose endpoints land in DIFFERENT folds. Those pairs
    * are exactly how a fold's "held-out" score leaks (the model saw the
    * twin at train time); the standard fix is grouped CV on the dedup
    * cluster id, and this table is the evidence that decides whether you
    * need it. A crossing pair is charged to BOTH its folds.
    *
    * Scale shape: fold assignment is a narrow md5 map; the leak check is
    * two doc_id-keyed joins of the (already materialized-or-inline)
    * near-dup pair table against the fold map — pair-table-sized, never
    * corpus². Rollups are map-side-combined ≤5-row aggregates.
    */
  def crossvalSplit(s: SparkSession, dir: String): DataFrame = {
    val fold = (instr(lit("0123456789abcdef"),
      substring(md5(col("doc_id").cast("string").cast("binary")), 32, 1))
      - 1) % 5
    val docs = TextOps.tokenCount(s, dir)
      .select(col("doc_id"), col("ws_tokens"))
      .withColumn("fold", fold.cast("int"))
    val base = docs.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).cast("long").as("n_tokens"))
    val crossing = DedupEdges.pairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
      .join(docs.select(col("doc_id").as("doc_a"), col("fold").as("fa")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("fold").as("fb")),
        "doc_b")
      .filter(col("fa") =!= col("fb"))
    val leaks = crossing
      .select(explode(array(col("fa"), col("fb"))).as("fold"))
      .groupBy(col("fold")).agg(count(lit(1)).as("n_leak_pairs"))
    base.join(leaks, Seq("fold"), "left")
      .na.fill(0L, Seq("n_leak_pairs"))
      .orderBy("fold")
  }

  /** Cross-source near-dup matrix — WHERE the duplication lives (the
    * direction map [[sourceOverlap]]'s token-level view can't give):
    * every verified near-dup pair attributed to its (source_a, source_b)
    * cell with the pair's mean Jaccard — an off-diagonal hotspot means
    * one feed republishes another (dedup BETWEEN those two first; at
    * licensing time it's the provenance question), a hot diagonal means
    * a feed re-crawls itself. Source pair canonicalized by name order so
    * each undirected cell appears once.
    *
    * Scale shape: two doc_id-keyed attach joins from the seam pair table
    * onto the narrow (doc_id, source) projection + one
    * |sources|²-bounded aggregate.
    */
  def sourcePairMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    DedupEdges.pairs(s, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 4).as("mean_jaccard"))
      .orderBy("source_a", "source_b")
  }

  val sourcePairMatrixOracle: String =
    s"""WITH pairs AS (SELECT doc_a, doc_b, jaccard
       |               FROM (${DedupOps.dedupNgramJaccardOracle})),
       |att AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |         greatest(da.source, db.source) AS source_b, p.jaccard
       |  FROM pairs p
       |  JOIN documents da ON da.doc_id = p.doc_a
       |  JOIN documents db ON db.doc_id = p.doc_b)
       |SELECT source_a, source_b, count(*) AS n_pairs,
       |       round(avg(jaccard), 4) AS mean_jaccard
       |FROM att GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Group-aware cross-validation folds — the FIX for the leak
    * [[crossvalSplit]] measures (its `n_leak_pairs > 0` is the grouped-CV
    * trigger; this is the grouped CV): the fold unit is the near-dup
    * CLUSTER, not the document — every doc folds by the md5 nibble of its
    * cluster REPRESENTATIVE (its own id when unclustered), so near-dup
    * pairs can never straddle folds and a held-out score can't be
    * memorized through a training-set twin (scikit-learn's GroupKFold,
    * with content-derived groups). The leak count still RUNS — the zero
    * column is the measured proof, not an assumption.
    *
    * Scale shape: one left join against the CC label table (seam-fed
    * pair list → Borůvka labels, both already-audited plans), one keyed
    * fold aggregate, and the same pair-crossing check crossvalSplit pays.
    */
  def groupedCrossval(s: SparkSession, dir: String): DataFrame = {
    val labels = DedupEdges.clusterLabels(s, dir)
      .select(col("doc_id"), col("cluster_rep"))
    val docs = TextOps.tokenCount(s, dir)
      .select(col("doc_id"), col("ws_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("fold", ((instr(lit("0123456789abcdef"),
        substring(md5(col("grp").cast("string").cast("binary")), 32, 1))
        - 1) % 5).cast("int"))
    val base = docs.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_groups"),
        sum(col("ws_tokens")).cast("long").as("n_tokens"))
    val crossing = DedupEdges.pairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
      .join(docs.select(col("doc_id").as("doc_a"), col("fold").as("fa")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("fold").as("fb")),
        "doc_b")
      .filter(col("fa") =!= col("fb"))
    val leaks = crossing
      .select(explode(array(col("fa"), col("fb"))).as("fold"))
      .groupBy(col("fold")).agg(count(lit(1)).as("n_leak_pairs"))
    base.join(leaks, Seq("fold"), "left")
      .na.fill(0L, Seq("n_leak_pairs"))
      .orderBy("fold")
  }

  val groupedCrossvalOracle: String = {
    val tok = s"""SELECT doc_id,
                 |       len(regexp_extract_all(${DedupOps.normTextOracle("text")}, '\\S+')) AS ws_tokens
                 |FROM documents""".stripMargin
    s"""WITH RECURSIVE tok AS ($tok),
       |pairs AS (SELECT doc_a, doc_b
       |          FROM (${DedupOps.dedupNgramJaccardOracle})),
       |e2 AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM pairs),
       |reach(src, dst) AS (
       |  SELECT u AS src, u AS dst FROM e2
       |  UNION
       |  SELECT r.src, e.v FROM reach r JOIN e2 e ON r.dst = e.u),
       |labels AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_rep
       |  FROM reach GROUP BY src),
       |f AS (
       |  SELECT t.doc_id, t.ws_tokens,
       |         coalesce(l.cluster_rep, t.doc_id) AS grp,
       |         CAST((strpos('0123456789abcdef',
       |                substr(md5(CAST(coalesce(l.cluster_rep, t.doc_id)
       |                  AS VARCHAR)), 32, 1)) - 1) % 5 AS INT) AS fold
       |  FROM tok t LEFT JOIN labels l USING (doc_id)),
       |base AS (
       |  SELECT fold, count(*) AS n_docs,
       |         count(DISTINCT grp) AS n_groups,
       |         CAST(sum(ws_tokens) AS BIGINT) AS n_tokens
       |  FROM f GROUP BY fold),
       |crossing AS (
       |  SELECT fa.fold AS fold FROM pairs p
       |  JOIN f fa ON fa.doc_id = p.doc_a
       |  JOIN f fb ON fb.doc_id = p.doc_b
       |  WHERE fa.fold <> fb.fold
       |  UNION ALL
       |  SELECT fb.fold FROM pairs p
       |  JOIN f fa ON fa.doc_id = p.doc_a
       |  JOIN f fb ON fb.doc_id = p.doc_b
       |  WHERE fa.fold <> fb.fold),
       |leaks AS (
       |  SELECT fold, count(*) AS n_leak_pairs FROM crossing GROUP BY fold)
       |SELECT b.fold, b.n_docs, b.n_groups, b.n_tokens,
       |       coalesce(l.n_leak_pairs, 0) AS n_leak_pairs
       |FROM base b LEFT JOIN leaks l USING (fold)
       |ORDER BY b.fold""".stripMargin
  }

  val crossvalSplitOracle: String = {
    val tok = s"""SELECT doc_id,
                 |       len(regexp_extract_all(${DedupOps.normTextOracle("text")}, '\\S+')) AS ws_tokens
                 |FROM documents""".stripMargin
    s"""WITH tok AS ($tok),
       |f AS (
       |  SELECT doc_id, ws_tokens,
       |         CAST((strpos('0123456789abcdef',
       |                substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) % 5
       |              AS INT) AS fold
       |  FROM tok),
       |base AS (
       |  SELECT fold, count(*) AS n_docs,
       |         CAST(sum(ws_tokens) AS BIGINT) AS n_tokens
       |  FROM f GROUP BY fold),
       |pairs AS (SELECT doc_a, doc_b
       |          FROM (${DedupOps.dedupNgramJaccardOracle})),
       |crossing AS (
       |  SELECT fa.fold AS fa, fb.fold AS fb
       |  FROM pairs p
       |  JOIN f fa ON fa.doc_id = p.doc_a
       |  JOIN f fb ON fb.doc_id = p.doc_b
       |  WHERE fa.fold <> fb.fold),
       |leaks AS (
       |  SELECT fold, count(*) AS n_leak_pairs FROM (
       |    SELECT fa AS fold FROM crossing
       |    UNION ALL SELECT fb AS fold FROM crossing)
       |  GROUP BY fold)
       |SELECT b.fold, b.n_docs, b.n_tokens,
       |       CAST(coalesce(l.n_leak_pairs, 0) AS BIGINT) AS n_leak_pairs
       |FROM base b LEFT JOIN leaks l USING (fold)
       |ORDER BY b.fold""".stripMargin
  }

  /** Per-batch source-mix audit — the "is my training order actually
    * shuffled?" check a trainer runs before believing its loss curves:
    * documents are dealt into 16 batches by the SAME md5 rank rule
    * [[corpusShuffle]] orders by (first hex nibble), and each batch
    * reports its source-distribution Shannon entropy next to the corpus
    * marginal entropy. mix_ratio = H(batch)/H(corpus) ≈ 1 means every
    * batch sees the full mixture (i.i.d.-like gradients); a low-entropy
    * batch means source-correlated gradient steps — the failure mode a
    * sequential-by-source corpus layout produces.
    *
    * Scale shape: one (batch, source) keyed count — map-side combined —
    * then everything is ≤ 16×|sources| rows; the corpus marginal
    * re-aggregates the SAME count table (never a second corpus scan) and
    * attaches as a 1-row broadcast. Per-batch entropy terms use exact
    * (long/long → double) shares; entropies 6-rounded, ratios 4-rounded.
    */
  def batchMixAudit(s: SparkSession, dir: String): DataFrame = {
    val ranked = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast("string"), lit(":20260812"))
          .cast("binary")).as("rank"))
      .withColumn("batch",
        (instr(lit("0123456789abcdef"), substring(col("rank"), 1, 1)) - 1)
          .cast("int"))
    // ≤ 16×|sources| rows — materialized once so the batch totals, the
    // corpus marginal, and the entropy rollup all read ONE corpus scan
    // instead of three (the [[ClusterOps]] construction-time-job
    // discipline)
    val bs = ranked.groupBy(col("batch"), col("source"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val bt = bs.groupBy(col("batch"))
      .agg(sum(col("cnt")).as("n_docs"), count(lit(1)).as("n_sources"))
    val sm = bs.groupBy(col("source")).agg(sum(col("cnt")).as("n_s"))
    val tot = sm.agg(sum(col("n_s")).as("n"))
    val hCorpus = sm.crossJoin(broadcast(tot))
      .agg((-sum((col("n_s") / col("n")) * log(col("n_s") / col("n"))))
        .as("h_corpus"))
    bs.join(broadcast(bt), "batch")
      .groupBy(col("batch"))
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("n_sources")).as("n_sources"),
        (-sum((col("cnt") / col("n_docs")) * log(col("cnt") / col("n_docs"))))
          .as("h"),
        max(col("cnt") / col("n_docs")).as("max_share"))
      .crossJoin(broadcast(hCorpus))
      .select(col("batch"), col("n_docs"), col("n_sources"),
        round(col("h"), 6).as("entropy"),
        round(col("max_share"), 4).as("max_share"),
        round(col("h") / col("h_corpus"), 4).as("mix_ratio"))
      .orderBy("batch")
  }

  val batchMixAuditOracle: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source,
       |         md5(CAST(doc_id AS VARCHAR) || ':20260812') AS rank
       |  FROM documents),
       |b AS (SELECT CAST(strpos('0123456789abcdef', substr(rank, 1, 1)) - 1
       |               AS INT) AS batch, source
       |      FROM ranked),
       |bs AS (SELECT batch, source, count(*) AS cnt
       |       FROM b GROUP BY batch, source),
       |bt AS (SELECT batch, CAST(sum(cnt) AS BIGINT) AS n_docs,
       |              count(*) AS n_sources
       |       FROM bs GROUP BY batch),
       |sm AS (SELECT source, sum(cnt) AS n_s FROM bs GROUP BY source),
       |t AS (SELECT sum(n_s) AS n FROM sm),
       |hc AS (SELECT -sum((n_s / t.n) * ln(n_s / t.n)) AS h_corpus
       |       FROM sm, t),
       |h AS (
       |  SELECT bs.batch, any_value(bt.n_docs) AS n_docs,
       |         any_value(bt.n_sources) AS n_sources,
       |         -sum((cnt / CAST(bt.n_docs AS DOUBLE)) *
       |              ln(cnt / CAST(bt.n_docs AS DOUBLE))) AS h,
       |         max(cnt / CAST(bt.n_docs AS DOUBLE)) AS max_share
       |  FROM bs JOIN bt USING (batch) GROUP BY bs.batch)
       |SELECT batch, n_docs, n_sources, round(h, 6) AS entropy,
       |       round(max_share, 4) AS max_share,
       |       round(h / hc.h_corpus, 4) AS mix_ratio
       |FROM h, hc ORDER BY batch""".stripMargin

  /** Per-source dataset card — the summary table a corpus release ships
    * with (Datasheets for Datasets, Gebru et al. 2021; every HF dataset
    * card's "composition" section): for each source, volume (docs /
    * whitespace tokens / mean chars), language profile (distinct langs,
    * dominant lang and its share), and the curation-risk columns (share
    * flagged low-quality, repetitive, near-dup-cluster drop). One row per
    * source, every number derived from the SAME per-doc frames the
    * curation queries consume — so the card provably describes the corpus
    * the pipeline actually trains on, not a parallel re-derivation.
    *
    * Scale shape: all inputs are doc_id-keyed co-partitioned joins; the
    * rollup is ONE map-side-combined groupBy(source); the dominant-lang
    * argmax windows over the (source, lang) count table — |sources|×|langs|
    * rows, bounded by construction, never the corpus. The cluster-drop
    * join is a left join against only the DROPPED ids (strictly smaller
    * than the clustered set). Like the other cluster consumers, the CC
    * propagation jobs run at construction.
    */
  def dataCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val flags = docs
      .join(TextOps.tokenCount(s, dir)
        .select(col("doc_id"), col("ws_tokens")), "doc_id")
      .join(TextOps.textQuality(s, dir)
        .select(col("doc_id"), col("low_quality")), "doc_id")
      .join(TextOps.textRepetition(s, dir)
        .select(col("doc_id"), col("repetitive")), "doc_id")
      .join(DedupEdges.clusterLabels(s, dir)
        .filter(!col("keep")).select(col("doc_id"), lit(true).as("c0")),
        Seq("doc_id"), "left")
      .withColumn("dup", coalesce(col("c0"), lit(false)))
    val base = flags.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("ws_tokens")).cast("long").as("ws_tokens"),
      round(avg(col("n_chars")), 2).as("avg_chars"),
      countDistinct(col("lang")).as("n_langs"),
      round(avg(when(col("low_quality"), 1).otherwise(0)), 4)
        .as("pct_low_quality"),
      round(avg(when(col("repetitive"), 1).otherwise(0)), 4)
        .as("pct_repetitive"),
      round(avg(when(col("dup"), 1).otherwise(0)), 4).as("pct_cluster_dup"))
    val langCounts = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("cnt").desc, col("lang"))
    val topLang = langCounts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("cnt").as("top_cnt"))
    base.join(topLang, "source")
      .select(col("source"), col("n_docs"), col("ws_tokens"),
        col("avg_chars"), col("n_langs"), col("top_lang"),
        round(col("top_cnt") / col("n_docs"), 4).as("top_lang_share"),
        col("pct_low_quality"), col("pct_repetitive"),
        col("pct_cluster_dup"))
      .orderBy("source")
  }

  val dataCardOracle: String =
    s"""WITH f AS (
       |  SELECT d.doc_id, d.source, d.lang, d.n_chars, t.ws_tokens,
       |         q.low_quality, r.repetitive,
       |         d.doc_id IN (SELECT doc_id FROM
       |           (${ClusterOps.dedupClustersOracle}) WHERE NOT keep) AS dup
       |  FROM documents d
       |  JOIN (SELECT doc_id, ws_tokens
       |        FROM (${TextOps.tokenCountOracle})) t USING (doc_id)
       |  JOIN (SELECT doc_id, low_quality
       |        FROM (${TextOps.textQualityOracle})) q USING (doc_id)
       |  JOIN (SELECT doc_id, repetitive
       |        FROM (${TextOps.textRepetitionOracle})) r USING (doc_id)),
       |base AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
       |         round(avg(n_chars), 2) AS avg_chars,
       |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |         round(avg(CASE WHEN low_quality THEN 1 ELSE 0 END), 4)
       |           AS pct_low_quality,
       |         round(avg(CASE WHEN repetitive THEN 1 ELSE 0 END), 4)
       |           AS pct_repetitive,
       |         round(avg(CASE WHEN dup THEN 1 ELSE 0 END), 4)
       |           AS pct_cluster_dup
       |  FROM f GROUP BY source),
       |lc AS (SELECT source, lang, count(*) AS cnt
       |       FROM documents GROUP BY source, lang),
       |tl AS (SELECT source, lang AS top_lang, cnt AS top_cnt FROM (
       |  SELECT source, lang, cnt,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY cnt DESC, lang) AS rk
       |  FROM lc) WHERE rk = 1)
       |SELECT b.source, b.n_docs, b.ws_tokens, b.avg_chars, b.n_langs,
       |       t.top_lang, round(t.top_cnt / b.n_docs, 4) AS top_lang_share,
       |       b.pct_low_quality, b.pct_repetitive, b.pct_cluster_dup
       |FROM base b JOIN tl t USING (source) ORDER BY b.source""".stripMargin

  /** DoReMi-style domain reweighting (Xie et al. 2023, reduced to its
    * one-proxy-pass core): domains whose documents score WORSE under the
    * corpus-level reference model get up-weighted relative to their token
    * share — the "excess loss" signal DoReMi's group-DRO inner loop
    * estimates, here in its single-round closed form. Proxy loss is the
    * corpus-trained add-one-smoothed bigram LM ([[TextOps.bigramLmScore]]'s
    * algebra, full corpus instead of top-20): loss_d = −avg log P(w₂|w₁).
    * Per source: excess = max(loss_src − loss_corpus, 0), raw weight =
    * token_share · exp(excess) (τ = 1), normalized across sources, and a
    * 10M-token epoch budget apportioned by the result — directly
    * comparable to [[sourceMixture]]'s temperature flattening, which
    * reweights by SIZE alone while this reweights by LEARNABILITY.
    *
    * Scale shape: the LM statistics are the bigram pipeline's two keyed
    * aggregations (map-side combined; the (w, w2) count table is the
    * Zipf-bounded vocabulary square, not the corpus); everything after
    * per-doc scoring is |sources| rows, normalizers attached as broadcast
    * 1-row aggregates — no unpartitioned window, nothing collects. Per-doc
    * log-probs 6-rounded before the source rollup so both engines rank
    * and average identical values.
    */
  def domainReweight(s: SparkSession, dir: String): DataFrame = {
    // doc_id is the lead window's partition key, so the bigram branch
    // rides this exchange
    val toks = Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), col("source"),
        posexplode(split(DedupOps.normText(col("text")), " "))
          .as(Seq("pos", "w")))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = toks
      .withColumn("w2", lead(col("w"), 1).over(byDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("source"), col("w"), col("w2"))
    val bigramCounts = bigrams.groupBy(col("w"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val uniCounts = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = toks.agg(countDistinct(col("w")).as("v"))
    // one row per doc — materialized once so the baseline and per-source
    // branches don't each re-plan the whole bigram pipeline (36→12
    // exchanges, the committed PlanLint budget; the [[ClusterOps]]
    // construction-time-job discipline)
    val perDoc = bigrams
      .join(bigramCounts, Seq("w", "w2"))
      .join(uniCounts, Seq("w"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"), col("source"))
      .agg(round(-avg(log((col("c12") + lit(1.0)) / (col("c1") + col("v")))), 6)
        .as("loss"))
      .localCheckpoint()
    val baseline = perDoc.agg(round(avg(col("loss")), 6).as("baseline"))
    val perSource = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("loss")), 6).as("proxy_loss"))
    val tokens = TextOps.tokenCount(s, dir)
      .groupBy(col("source"))
      .agg(sum(col("ws_tokens")).cast("long").as("n_tokens"))
    val totTokens = tokens.agg(sum(col("n_tokens")).as("tot_tokens"))
    val raw = perSource.join(tokens, "source")
      .crossJoin(broadcast(baseline))
      .crossJoin(broadcast(totTokens))
      .withColumn("excess",
        round(greatest(col("proxy_loss") - col("baseline"), lit(0.0)), 6))
      .withColumn("rw",
        (col("n_tokens") / col("tot_tokens")) * exp(col("excess")))
    val rwTot = raw.agg(sum(col("rw")).as("rw_tot"))
    raw.crossJoin(broadcast(rwTot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("proxy_loss"), col("excess"),
        round(col("rw") / col("rw_tot"), 6).as("weight"),
        round(lit(1e7) * col("rw") / col("rw_tot"), 0)
          .cast("long").as("epoch_tokens"))
      .orderBy("source")
  }

  val domainReweightOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, i AS pos, t[i] AS w
       |  FROM (SELECT doc_id, source,
       |               string_split(${DedupOps.normTextOracle("text")}, ' ') AS t
       |        FROM documents),
       |       LATERAL unnest(generate_series(1, len(t))) u(i)),
       |bg AS (
       |  SELECT doc_id, source, w,
       |         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM toks),
       |bg2 AS (SELECT doc_id, source, w, w2 FROM bg WHERE w2 IS NOT NULL),
       |bc AS (SELECT w, w2, count(*) AS c12 FROM bg2 GROUP BY w, w2),
       |uc AS (SELECT w, count(*) AS c1 FROM toks GROUP BY w),
       |v AS (SELECT count(DISTINCT w) AS v FROM toks),
       |perdoc AS (
       |  SELECT doc_id, source,
       |         round(-avg(ln((c12 + 1.0) / (c1 + v))), 6) AS loss
       |  FROM bg2 JOIN bc USING (w, w2) JOIN uc USING (w), v
       |  GROUP BY doc_id, source),
       |base AS (SELECT round(avg(loss), 6) AS baseline FROM perdoc),
       |src AS (SELECT source, count(*) AS n_docs,
       |               round(avg(loss), 6) AS proxy_loss
       |        FROM perdoc GROUP BY source),
       |tok AS (SELECT source, CAST(sum(ws_tokens) AS BIGINT) AS n_tokens
       |        FROM (${TextOps.tokenCountOracle}) GROUP BY source),
       |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM tok),
       |raw AS (
       |  SELECT s.source, s.n_docs, t.n_tokens, s.proxy_loss,
       |         round(greatest(s.proxy_loss - b.baseline, 0.0), 6) AS excess,
       |         (t.n_tokens / tt.tot_tokens) *
       |           exp(round(greatest(s.proxy_loss - b.baseline, 0.0), 6)) AS rw
       |  FROM src s JOIN tok t USING (source), base b, tt),
       |rt AS (SELECT sum(rw) AS rw_tot FROM raw)
       |SELECT source, n_docs, n_tokens, proxy_loss, excess,
       |       round(rw / rt.rw_tot, 6) AS weight,
       |       CAST(round(1e7 * rw / rt.rw_tot, 0) AS BIGINT) AS epoch_tokens
       |FROM raw, rt ORDER BY source""".stripMargin

  /** k-anonymity release audit (Sweeney, IJUFKS 2002 — the privacy gate
    * a dataset release runs BEFORE the DP noise of
    * [[SketchOps.dpCounts]]): every document falls into an equivalence
    * class on the quasi-identifier tuple (source, lang, 100-char length
    * bucket); a class smaller than k re-identifies its members by
    * attribute combination alone. The audit row reports class counts,
    * the below-k class/row counts, and the suppression rate — the
    * fraction of the corpus a k-anonymous release would have to drop (or
    * generalize) before publication.
    *
    * Scale shape: ONE map-side-combined keyed aggregate over the corpus
    * to the class table (bounded by the QI-grid cardinality), then a
    * 1-row rollup — no window, no join. The length bucket uses
    * floor(n_chars/100.0) — engine-identical for the non-negative
    * domain.
    */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val classes = Tables(s, dir, "documents")
      .groupBy(col("source"), col("lang"),
        floor(col("n_chars") / lit(100.0)).cast("long").as("size_bucket"))
      .agg(count(lit(1)).as("n"))
    classes.agg(
      lit(k).as("k"),
      count(lit(1)).as("n_classes"),
      sum(col("n")).as("n_rows"),
      sum(when(col("n") < k, 1L).otherwise(0L)).as("classes_below_k"),
      sum(when(col("n") < k, col("n")).otherwise(lit(0L))).as("rows_below_k"),
      min(col("n")).as("min_class"),
      max(col("n")).as("max_class"))
      .select(col("k"), col("n_classes"), col("n_rows"),
        col("classes_below_k"), col("rows_below_k"),
        col("min_class"), col("max_class"),
        round(col("rows_below_k").cast("double") / col("n_rows"), 6)
          .as("suppression_rate"))
  }

  val kAnonymityOracle: String =
    """WITH classes AS (
      |  SELECT source, lang,
      |         CAST(floor(n_chars / 100.0) AS BIGINT) AS size_bucket,
      |         count(*) AS n
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT 5 AS k,
      |       count(*) AS n_classes,
      |       CAST(sum(n) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS classes_below_k,
      |       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
      |         AS rows_below_k,
      |       min(n) AS min_class,
      |       max(n) AS max_class,
      |       round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
      |         / sum(n), 6) AS suppression_rate
      |FROM classes""".stripMargin

  /** Hashed-feature bucket count for [[dsirWeights]]. 64 keeps the
    * DuckDB oracle a 64-row CTE; a production run uses 10k buckets —
    * the bucket table stays a broadcast at any B that fits one executor.
    */
  val DsirBuckets = 64

  /** The target domain for [[dsirWeights]] — docs whose `lang` matches
    * play the role of DSIR's high-quality target sample (classically
    * Wikipedia+books vs Common Crawl raw).
    */
  val DsirTargetLang = "en"

  /** The 15-hex-digit md5 prefix as a number — THE hash-to-number
    * convention every oracle mirrors as
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`; one definition so the
    * width/radix cannot drift between the four hashing sites below
    * (r16 review).
    */
  private def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10)

  /** md5-uniform bucket id in [0, n). */
  private def md5Bucket(c: Column, n: Int): Column =
    md5Long(c).cast("long") % n

  /** The (doc_id, lang, bucket, cnt) hashed-feature bag behind the DSIR
    * family, over any (doc_id, lang, text) frame — one keyed aggregate
    * over the token stream. A doc's bag is a pure function of the doc,
    * so eras are doc-disjoint and the store a streaming maintainer
    * appends per batch ([[graft.streaming.StreamingDsir]]) composes to
    * exactly this table.
    */
  private[graft] def dsirBucketsFor(docs: DataFrame): DataFrame =
    // doc_id is the bag aggregate's key
    Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(split(DedupOps.normText(col("text")), " ")).as("w"))
      // split('') yields [''] — without this an empty/whitespace-only
      // doc gets one phantom md5('') bucket token (r15 ADVICE)
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("lang"),
        md5Bucket(col("w"), DsirBuckets).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  private def dsirDocBucket(s: SparkSession, dir: String): DataFrame =
    dsirBucketsFor(
      Tables(s, dir, "documents").select("doc_id", "lang", "text"))

  /** The estimate → score chain over any doc×bucket bag table — shared
    * by the gate query and the streaming maintainer's serving read, so
    * the store and the query cannot drift.
    */
  private[graft] def dsirWeightsFrom(docBucket: DataFrame): DataFrame = {
    val bD = lit(DsirBuckets.toDouble)
    val dist = docBucket.groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("raw_cnt"),
        sum(when(col("lang") === DsirTargetLang, col("cnt"))
          .otherwise(lit(0L))).as("tgt_cnt"))
    val tot = dist.agg(sum(col("raw_cnt")).as("traw"),
      sum(col("tgt_cnt")).as("ttgt"))
    val lr = dist.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (log((col("tgt_cnt") + lit(1.0)) / (col("ttgt") + bD)) -
          log((col("raw_cnt") + lit(1.0)) / (col("traw") + bD)))
          .as("logratio"))
    docBucket.join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_toks"),
        round(sum(col("cnt") * col("logratio")), 4).as("dsir_logratio"))
      .withColumn("selected", col("dsir_logratio") > 0)
      .orderBy("doc_id")
  }

  /** Data Selection via Importance Resampling (Xie et al., NeurIPS
    * 2023), the hashed-n-gram instantiation: estimate target and raw
    * unigram distributions over [[DsirBuckets]] md5-hashed word buckets
    * (add-1 smoothing), score every document with its importance
    * log-ratio Σ_b n_d[b]·(ln p̂_target[b] − ln p̂_raw[b]), and flag the
    * docs a resampling pass would favor (positive log-ratio = more
    * likely under the target than under the raw distribution). The
    * target sample here is the [[DsirTargetLang]] slice of the corpus
    * itself — self-contained and deterministic, like [[TextOps.langId]]'s
    * marker heuristic.
    *
    * Scale shape: tokenize is a narrow per-row map; doc×bucket counts
    * are ONE map-side-combined keyed aggregate; both distributions come
    * from one B-row re-aggregate of that table (target mass as a
    * conditional partial — no second corpus pass), totals attach as a
    * 1-row broadcast and the per-bucket log-ratios as a B-row broadcast;
    * the per-doc score is a second keyed aggregate. Two linear shuffles
    * total, nothing collected. The md5 bucket hash keeps the whole
    * pipeline value-oracle-backed (the xxhash64-for-speed twin is the
    * [[DedupOps]] convention; DSIR's quality depends only on the hash
    * being uniform, not which one).
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirWeightsFrom(dsirDocBucket(s, dir))

  /** The same estimate → score chain as one statement; the `selected`
    * cut reads the ROUNDED score on both sides (engine determinism).
    */
  val dsirWeightsOracle: String = {
    val b = DsirBuckets
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |         unnest(string_split(${DedupOps.normTextOracle("text")}, ' ')) AS w
       |  FROM documents),
       |db AS (
       |  SELECT doc_id, lang,
       |         ('0x' || substr(md5(w), 1, 15))::BIGINT % $b AS bucket,
       |         count(*) AS cnt
       |  FROM toks WHERE len(w) > 0 GROUP BY 1, 2, 3),
       |dist AS (
       |  SELECT bucket, sum(cnt) AS raw_cnt,
       |         sum(CASE WHEN lang = '$DsirTargetLang' THEN cnt ELSE 0 END) AS tgt_cnt
       |  FROM db GROUP BY bucket),
       |tot AS (SELECT sum(raw_cnt) AS traw, sum(tgt_cnt) AS ttgt FROM dist),
       |lr AS (
       |  SELECT bucket,
       |         ln((tgt_cnt + 1.0) / (ttgt + $b.0)) -
       |           ln((raw_cnt + 1.0) / (traw + $b.0)) AS logratio
       |  FROM dist, tot)
       |SELECT doc_id, lang, CAST(sum(cnt) AS BIGINT) AS n_toks,
       |       round(sum(cnt * logratio), 4) AS dsir_logratio,
       |       round(sum(cnt * logratio), 4) > 0 AS selected
       |FROM db JOIN lr USING (bucket)
       |GROUP BY doc_id, lang
       |ORDER BY doc_id""".stripMargin
  }

  /** Feature-distribution drift audit for the DSIR family under an
    * arrival batch (the `% 10 = 9` convention) — the check a production
    * DSIR pipeline runs at ingest: the bucket distributions maintain
    * ADDITIVELY (base mass + delta mass; the oracle recomputes both
    * eras from the full corpus, so row equality IS the additivity
    * proof), and `lr_shift` — |log-ratio after admission − before| per
    * bucket — is the re-scoring trigger: weights are global, so any
    * distribution shift stales EVERY stored score, but when the max
    * shift is below tolerance the expensive corpus re-score can be
    * skipped (the same measure-then-act shape as
    * [[graft.streaming.StreamingHnsw.maybeCompact]], applied to the
    * selection artifact; [[ingestDeltaCard]] is the per-SOURCE twin of
    * this per-FEATURE table).
    *
    * Scale shape: ONE era-conditional keyed aggregate over the shared
    * doc×bucket table — no second corpus pass — then B-row arithmetic
    * under two 1-row broadcast total sets.
    */
  def dsirDrift(s: SparkSession, dir: String): DataFrame = {
    val bD = lit(DsirBuckets.toDouble)
    val isDelta = pmod(col("doc_id"), lit(10)) === 9
    val isTgt = col("lang") === DsirTargetLang
    val dist = dsirDocBucket(s, dir)
      .groupBy(col("bucket"))
      .agg(
        sum(when(!isDelta, col("cnt")).otherwise(lit(0L))).as("raw_base"),
        sum(when(isDelta, col("cnt")).otherwise(lit(0L))).as("raw_delta"),
        sum(when(!isDelta && isTgt, col("cnt")).otherwise(lit(0L)))
          .as("tgt_base"),
        sum(when(isDelta && isTgt, col("cnt")).otherwise(lit(0L)))
          .as("tgt_delta"))
    val tot = dist.agg(
      sum(col("raw_base")).as("trb"), sum(col("raw_delta")).as("trd"),
      sum(col("tgt_base")).as("ttb"), sum(col("tgt_delta")).as("ttd"))
    def lr(tgt: Column, tgtTot: Column, raw: Column, rawTot: Column): Column =
      log((tgt + lit(1.0)) / (tgtTot + bD)) -
        log((raw + lit(1.0)) / (rawTot + bD))
    dist.crossJoin(broadcast(tot))
      .select(col("bucket"), col("raw_base"), col("raw_delta"),
        col("tgt_base"), col("tgt_delta"),
        round(lr(col("tgt_base"), col("ttb"),
          col("raw_base"), col("trb")), 6).as("logratio_base"),
        round(lr(col("tgt_base") + col("tgt_delta"), col("ttb") + col("ttd"),
          col("raw_base") + col("raw_delta"), col("trb") + col("trd")), 6)
          .as("logratio_full"))
      .withColumn("lr_shift",
        round(abs(col("logratio_full") - col("logratio_base")), 6))
      .orderBy("bucket")
  }

  val dsirDriftOracle: String = {
    val b = DsirBuckets
    def lr(tgt: String, tgtTot: String, raw: String, rawTot: String) =
      s"ln(($tgt + 1.0) / ($tgtTot + $b.0)) - ln(($raw + 1.0) / ($rawTot + $b.0))"
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |         unnest(string_split(${DedupOps.normTextOracle("text")}, ' ')) AS w
       |  FROM documents),
       |db AS (
       |  SELECT doc_id, lang,
       |         ('0x' || substr(md5(w), 1, 15))::BIGINT % $b AS bucket,
       |         count(*) AS cnt
       |  FROM toks WHERE len(w) > 0 GROUP BY 1, 2, 3),
       |dist AS (
       |  SELECT bucket,
       |         CAST(sum(CASE WHEN doc_id % 10 <> 9 THEN cnt ELSE 0 END) AS BIGINT) AS raw_base,
       |         CAST(sum(CASE WHEN doc_id % 10 = 9 THEN cnt ELSE 0 END) AS BIGINT) AS raw_delta,
       |         CAST(sum(CASE WHEN doc_id % 10 <> 9 AND lang = '$DsirTargetLang'
       |                  THEN cnt ELSE 0 END) AS BIGINT) AS tgt_base,
       |         CAST(sum(CASE WHEN doc_id % 10 = 9 AND lang = '$DsirTargetLang'
       |                  THEN cnt ELSE 0 END) AS BIGINT) AS tgt_delta
       |  FROM db GROUP BY bucket),
       |tot AS (
       |  SELECT sum(raw_base) AS trb, sum(raw_delta) AS trd,
       |         sum(tgt_base) AS ttb, sum(tgt_delta) AS ttd
       |  FROM dist),
       |lrt AS (
       |  SELECT bucket, raw_base, raw_delta, tgt_base, tgt_delta,
       |         round(${lr("tgt_base", "ttb", "raw_base", "trb")}, 6)
       |           AS logratio_base,
       |         round(${lr("tgt_base + tgt_delta", "ttb + ttd",
      "raw_base + raw_delta", "trb + trd")}, 6) AS logratio_full
       |  FROM dist, tot)
       |SELECT *, round(abs(logratio_full - logratio_base), 6) AS lr_shift
       |FROM lrt ORDER BY bucket""".stripMargin
  }

  /** Resampled-corpus budget for [[dsirResample]] — a fixed document
    * budget, the "select k docs for the training mix" framing.
    */
  val DsirSampleK = 100

  /** The R in DSIR — importance RESAMPLING, not top-k filtering (Xie et
    * al. 2023 §3: resampling preserves target-distribution coverage
    * where a hard weight cut collapses onto the mode): sample
    * [[DsirSampleK]] docs without replacement with probability
    * proportional to exp(importance weight), via the Gumbel-top-k
    * equivalence (Vieira 2014): key_d = w_d + Gumbel(u_d) and the k
    * largest keys ARE such a sample. The uniforms come from the same
    * md5 convention as [[corpusSample]] — u_d = (h(doc_id)+0.5)/2^60 —
    * so the "draw" is deterministic, retry-idempotent, and
    * oracle-checkable, exactly like every other sampler here.
    *
    * Scale shape: [[dsirWeights]]' two linear shuffles, then a
    * per-row key map and ORDER BY+LIMIT k — Spark plans
    * TakeOrderedAndProject (per-partition top-k heads merged on the
    * driver, k-bounded), never a global sort. The key orders on the
    * ROUNDED weight and noise (engine determinism; ties broken by
    * doc_id).
    */
  def dsirResample(s: SparkSession, dir: String): DataFrame = {
    val u = (md5Long(col("doc_id").cast("string")).cast("double") +
      lit(0.5)) / lit(1152921504606846976.0)
    dsirWeights(s, dir)
      .select(col("doc_id"), col("lang"), col("dsir_logratio"))
      .withColumn("gumbel_key",
        round(col("dsir_logratio") - log(-log(u)), 4))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(DsirSampleK)
  }

  val dsirResampleOracle: String =
    s"""WITH wts AS (SELECT doc_id, lang, dsir_logratio
       |  FROM ($dsirWeightsOracle)),
       |keyed AS (
       |  SELECT doc_id, lang, dsir_logratio,
       |         round(dsir_logratio - ln(-ln(
       |           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
       |             / 1152921504606846976.0)), 4) AS gumbel_key
       |  FROM wts)
       |SELECT * FROM keyed
       |ORDER BY gumbel_key DESC, doc_id LIMIT $DsirSampleK""".stripMargin

  /** Soft deduplication — down-WEIGHT duplicates instead of dropping
    * them (the SoftDedup reweighting family, e.g. He et al. 2024: a
    * hard drop loses the surface-form diversity of a near-dup cluster;
    * sampling each member at weight 1/|cluster| keeps every variant
    * reachable while the cluster's EXPECTED token mass equals one
    * member's — the spec pins Σ eff_tokens ≈ the cluster's mean member
    * length, and unclustered docs keep weight 1 exactly). Clusters are
    * the audited near-dup components ([[DedupEdges.clusterLabels]] —
    * the same artifact `dedup_keep_best`'s hard drop reads, so the two
    * policies are directly comparable row for row).
    *
    * Scale shape: labels ride the DedupEdges seam when materialized;
    * cluster sizes are a keyed count over the label table (bounded by
    * the clustered subset, far smaller than the corpus); both joins key
    * on doc_id/cluster and the weight map is narrow. The only corpus-
    * sized input is the per-doc token count.
    */
  def softDedup(s: SparkSession, dir: String): DataFrame = {
    val labels = DedupEdges.clusterLabels(s, dir)
      .select(col("doc_id"), col("cluster_rep"))
    val sizes = labels.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
    TextOps.tokenCount(s, dir)
      .select(col("doc_id"), col("source"), col("ws_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .join(sizes, Seq("cluster_rep"), "left")
      .select(col("doc_id"), col("source"), col("ws_tokens"),
        coalesce(col("cluster_size"), lit(1L)).as("n_members"))
      .withColumn("weight",
        round(lit(1.0) / col("n_members"), 6))
      .withColumn("eff_tokens",
        round(col("ws_tokens") * col("weight"), 4))
      .orderBy("doc_id")
  }

  val softDedupOracle: String =
    s"""WITH labels AS (
       |  SELECT doc_id, cluster_rep FROM (${ClusterOps.dedupClustersOracle})),
       |sizes AS (
       |  SELECT cluster_rep, count(*) AS cluster_size
       |  FROM labels GROUP BY cluster_rep),
       |tok AS (
       |  SELECT doc_id, source, ws_tokens FROM (${TextOps.tokenCountOracle}))
       |SELECT doc_id, source, ws_tokens,
       |       CAST(coalesce(cluster_size, 1) AS BIGINT) AS n_members,
       |       round(1.0 / CAST(coalesce(cluster_size, 1) AS BIGINT), 6) AS weight,
       |       round(ws_tokens *
       |         round(1.0 / CAST(coalesce(cluster_size, 1) AS BIGINT), 6), 4)
       |         AS eff_tokens
       |FROM tok LEFT JOIN labels USING (doc_id)
       |LEFT JOIN sizes USING (cluster_rep)
       |ORDER BY doc_id""".stripMargin

  /** Pipeline-stage calibration audit — the [[dedupAgreement]] genre
    * applied to the whole curation stack: every (quality-rule fail,
    * dedup drop, DSIR-selected, perplexity-tail) cell with its doc
    * count, token mass, and corpus share. The four verdicts are the
    * four INDEPENDENT stages a pretraining pipeline composes —
    * `rule_fail` is the Gopher word-count rule ([[TextOps.gopherRules]]'
    * r_word_count, the one rule that discriminates on this corpus),
    * `dedup_drop` is the near-dup keep-best verdict, `selected` the
    * distribution matcher, `ppl_tail` the CCNet worst-tertile drop
    * candidate ([[perplexityFilter]], r16) — and the question is
    * whether they are redundant (agreeing cells dominate) or orthogonal
    * (mass in disagreement cells: each stage catches what the others
    * pass). rule_fail ∧ selected is the review queue where DSIR would
    * admit what the rules reject; dedup_drop ∧ selected is selection
    * pressure wasted on docs dedup removes — the argument for running
    * dedup FIRST; selected ∧ ppl_tail is where the two model-based
    * signals (importance ratio vs conditional likelihood) disagree.
    *
    * Scale shape: four already-audited per-doc verdicts joined on
    * doc_id (co-partitioned), ONE ≤16-cell aggregate, totals as a 1-row
    * broadcast. The DSIR and perplexity chains are the multi-aggregate
    * inputs; the dedup labels ride the DedupEdges seam.
    */
  def filterAgreement(s: SparkSession, dir: String): DataFrame = {
    // gopherRules' n_words IS the whitespace token count (one shared
    // regexp over normText) — reading it here instead of joining a
    // second tokenCount pass saves a whole corpus scan (r15 s3 review)
    val ruleFail = TextOps.gopherRules(s, dir)
      .select(col("doc_id"), (!col("r_word_count")).as("rule_fail"),
        col("n_words").cast("long").as("ws_tokens"))
    val dropped = DedupEdges.clusterLabels(s, dir)
      .filter(!col("keep")).select(col("doc_id"))
    val cells = ruleFail
      .join(dropped.withColumn("dedup_drop", lit(true)), Seq("doc_id"), "left")
      .withColumn("dedup_drop", coalesce(col("dedup_drop"), lit(false)))
      // left join like the ppl leg (ADVICE r16): dsirWeights scores
      // only tokenizable docs, so a zero-token doc is absent there —
      // it counts as not-selected rather than silently vanishing from
      // the audit (the 'cells partition the corpus' invariant)
      .join(dsirWeights(s, dir).select(col("doc_id"), col("selected")),
        Seq("doc_id"), "left")
      .withColumn("selected", coalesce(col("selected"), lit(false)))
      // the CCNet leg (r16): left join — a doc too short to score
      // (< 2 tokens, absent from the ppl output) counts as not-tail
      .join(perplexityFilter(s, dir)
          .select(col("doc_id"), (col("ppl_bucket") === "tail").as("ppl_tail")),
        Seq("doc_id"), "left")
      .withColumn("ppl_tail", coalesce(col("ppl_tail"), lit(false)))
      .groupBy(col("rule_fail"), col("dedup_drop"), col("selected"),
        col("ppl_tail"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).as("n_tokens"))
    // total via an unpartitioned window over the ≤16-cell aggregate, NOT
    // cells.agg(...).crossJoin back: the separate-aggregate shape re-plans
    // the whole 4-leg pipeline a second time (r18 plan audit: 22 parquet
    // scans / 142 exchanges → 11 / ~70; sf0.1 warm 13.9 s → 7 s class).
    // The window sees all 16 rows in one partition — same total_docs value.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    cells
      .withColumn("total_docs", sum(col("n_docs")).over(wAll))
      .select(col("rule_fail"), col("dedup_drop"), col("selected"),
        col("ppl_tail"), col("n_docs"), col("n_tokens"),
        // exact integer ppm, not round(int/int, 6) — the r16 red-row class
        expr("n_docs * 1000000L div total_docs").as("share_ppm"))
      .orderBy("rule_fail", "dedup_drop", "selected", "ppl_tail")
  }

  val filterAgreementOracle: String =
    s"""WITH g AS (
       |  SELECT doc_id, NOT r_word_count AS rule_fail,
       |         CAST(n_words AS BIGINT) AS ws_tokens
       |  FROM (${TextOps.gopherRulesOracle})),
       |drops AS (
       |  SELECT doc_id FROM (${ClusterOps.dedupClustersOracle})
       |  WHERE NOT keep),
       |d AS (
       |  SELECT doc_id, selected FROM ($dsirWeightsOracle)),
       |p AS (
       |  SELECT doc_id, ppl_bucket = 'tail' AS ppl_tail
       |  FROM ($perplexityFilterOracle)),
       |cells AS (
       |  SELECT rule_fail,
       |         (g.doc_id IN (SELECT doc_id FROM drops)) AS dedup_drop,
       |         coalesce(selected, FALSE) AS selected,
       |         coalesce(ppl_tail, FALSE) AS ppl_tail,
       |         count(*) AS n_docs,
       |         CAST(sum(ws_tokens) AS BIGINT) AS n_tokens
       |  FROM g LEFT JOIN d USING (doc_id) LEFT JOIN p USING (doc_id)
       |  GROUP BY 1, 2, 3, 4),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM cells)
       |SELECT rule_fail, dedup_drop, selected, ppl_tail, n_docs, n_tokens,
       |       CAST(n_docs * 1000000 // total_docs AS BIGINT) AS share_ppm
       |FROM cells, tot
       |ORDER BY rule_fail, dedup_drop, selected, ppl_tail""".stripMargin

  /** Per-cluster sample budget for [[clusterQuotaSample]]. */
  val ClusterQuota = 10

  /** Cluster-balanced diversity sampling — the BALANCE step of a
    * cluster-then-select curation recipe (the D4 shape: SemDeDup-style
    * clustering, then per-cluster budgets so no dense region dominates
    * the mix): at most [[ClusterQuota]] vectors per cluster, chosen by
    * the md5-uniform order (the [[corpusSample]] determinism
    * convention — unbiased within a cluster, retry-idempotent, and
    * oracle-checkable, where rand() would be none of the three).
    * Clusters are the embedding table's `label`, as for
    * [[SimilarityOps.sslPrototypes]] — compose the two and you have
    * D4's select stage: drop the over-prototypical, then cap each
    * cluster's share.
    *
    * Scale shape: one rank window PARTITIONED by cluster (no global
    * sort) over a narrow (vec_id, label) projection; output bounded by
    * clusters × quota.
    */
  def clusterQuotaSample(s: SparkSession, dir: String): DataFrame = {
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
      .withColumn("rank", row_number().over(byCluster))
      .filter(col("rank") <= ClusterQuota)
      .orderBy("label", "rank")
  }

  val clusterQuotaSampleOracle: String =
    s"""SELECT vec_id, label, rank FROM (
       |  SELECT vec_id, label,
       |         CAST(row_number() OVER (PARTITION BY label
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT)
       |           AS rank
       |  FROM embeddings)
       |WHERE rank <= $ClusterQuota
       |ORDER BY label, rank""".stripMargin

  /** Number of curriculum phases for [[curriculumPhases]]. */
  val CurriculumPhases = 4

  /** Length-ordered training curriculum (Bengio et al., ICML 2009 —
    * shortest-first is the classic schedule, and a warm-up on short
    * sequences is still how LLM runs ramp context): the corpus cut
    * into [[CurriculumPhases]] equidepth phases by whitespace token
    * count, with each phase's doc count, token mass, length range, and
    * share of the total token budget — the table a training loop turns
    * into its sampling schedule.
    *
    * Scale shape: the [[AnalyticsOps.equidepthHistogram]] mechanism —
    * one exact-percentile aggregate broadcast as the cutpoint array
    * (at 100 TB: approx_percentile, same plan shape), one narrow
    * bucket map, one phase-keyed aggregate, totals as a 1-row
    * broadcast.
    */
  def curriculumPhases(s: SparkSession, dir: String): DataFrame = {
    val ps = (1 until CurriculumPhases).map(_.toDouble / CurriculumPhases)
    val toks = TextOps.tokenCount(s, dir)
      .select(col("doc_id"), col("ws_tokens"))
    val cuts = toks.agg(percentile(col("ws_tokens"),
      array(ps.map(lit): _*)).as("cuts"))
    val phase = AnalyticsOps.equidepthBucket(col("ws_tokens"), col("cuts"),
      CurriculumPhases)
    val phases = toks.crossJoin(broadcast(cuts))
      .select(phase.as("phase"), col("ws_tokens"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("n_tokens"),
        min(col("ws_tokens")).as("shortest"),
        max(col("ws_tokens")).as("longest"))
    val tot = phases.agg(sum(col("n_tokens")).as("total_tokens"))
    phases.crossJoin(broadcast(tot))
      .select(col("phase"), col("n_docs"), col("n_tokens"),
        col("shortest"), col("longest"),
        round(col("n_tokens") / col("total_tokens"), 6).as("token_share"))
      .orderBy("phase")
  }

  val curriculumPhasesOracle: String = {
    val n = CurriculumPhases
    val ps = (1 until n).map(i => i.toDouble / n).mkString(", ")
    val phase = AnalyticsOps.equidepthBucketOracle("ws_tokens", "cuts", n)
    s"""WITH tok AS (
       |  SELECT doc_id, ws_tokens FROM (${TextOps.tokenCountOracle})),
       |c AS (SELECT quantile_cont(ws_tokens, [$ps]) AS cuts FROM tok),
       |phases AS (
       |  SELECT phase, count(*) AS n_docs,
       |         CAST(sum(ws_tokens) AS BIGINT) AS n_tokens,
       |         min(ws_tokens) AS shortest, max(ws_tokens) AS longest
       |  FROM (SELECT $phase AS phase, ws_tokens FROM tok, c)
       |  GROUP BY phase),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM phases)
       |SELECT phase, n_docs, n_tokens, shortest, longest,
       |       round(n_tokens / CAST(total_tokens AS DOUBLE), 6) AS token_share
       |FROM phases, t ORDER BY phase""".stripMargin
  }

  /** The hashed-bigram bucket id shared by the perplexity LM's train
    * and score sides — [[DsirBuckets]]-sized, the md5 convention that
    * keeps the whole chain value-oracle-backed.
    */
  private def pplBucket(w: Column): Column = md5Bucket(w, DsirBuckets)

  /** The per-doc (doc_id, lang, u, v, cnt) hashed-bigram BAG behind the
    * perplexity family, over any (doc_id, lang, text) frame — tokenize,
    * one bigram row per adjacent token pair (positions exploded; docs
    * under two tokens contribute nothing and are absent from the scored
    * output), one doc-keyed aggregate. Each token IS md5-hashed twice
    * (once as u, once as v of the next pair) — measured better than the
    * alternatives: bucketing the array once via `transform` runs the
    * lambda interpreted (no whole-stage codegen inside higher-order
    * functions; 2.9 vs 1.9 s warm at sf0.1), and pairing single-hashed
    * token rows needs a doc-keyed window/join shuffle the inline form
    * avoids entirely. A doc's bag is a pure function of the doc, so
    * eras are doc-disjoint and per-batch builds compose by union —
    * [[graft.streaming.StreamingPpl]] appends exactly this table.
    */
  private[graft] def pplBagsFor(docs: DataFrame): DataFrame =
    Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        split(DedupOps.normText(col("text")), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("lang"), col("ts"),
        explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
      .select(col("doc_id"), col("lang"),
        pplBucket(element_at(col("ts"), col("i"))).as("u"),
        pplBucket(element_at(col("ts"), col("i") + 1)).as("v"))
      .groupBy(col("doc_id"), col("lang"), col("u"), col("v"))
      .agg(count(lit(1)).as("cnt"))

  /** The model → score → tertile chain over any bigram-bag table —
    * shared by the gate query and [[graft.streaming.StreamingPpl]]'s
    * serving read (the [[dsirWeightsFrom]] convention: store and query
    * cannot drift). Joining BAGS rather than the raw bigram stream
    * also cuts the broadcast-join input to distinct (doc, bigram) rows.
    */
  private[graft] def perplexityFrom(bags: DataFrame): DataFrame = {
    val c2 = bags.filter(col("lang") === DsirTargetLang)
      .groupBy(col("u"), col("v")).agg(sum(col("cnt")).as("c2"))
    val c1 = c2.groupBy(col("u")).agg(sum(col("c2")).as("c1"))
    val ppl = bags
      .join(broadcast(c2), Seq("u", "v"), "left")
      .join(broadcast(c1), Seq("u"), "left")
      .select(col("doc_id"), col("lang"), col("cnt"),
        (log(coalesce(col("c2"), lit(0L)) + lit(1.0)) -
          log(coalesce(col("c1"), lit(0L)) + lit(DsirBuckets.toDouble)))
          .as("lp"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(-(sum(col("cnt") * col("lp")) / sum(col("cnt"))), 4)
          .as("log_ppl"))
    val ps = (1 until 3).map(_.toDouble / 3)
    val cuts = ppl.agg(percentile(col("log_ppl"),
      array(ps.map(lit): _*)).as("cuts"))
    val tertile = AnalyticsOps.equidepthBucket(col("log_ppl"), col("cuts"), 3)
    ppl.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("log_ppl"),
        when(tertile === 1, "head").when(tertile === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** CCNet-style n-gram LM quality filter (Wenzek et al., LREC 2020 —
    * the single most-used published quality signal: score every
    * document's perplexity under a small LM trained on a high-quality
    * target corpus, then split the corpus into head/middle/tail
    * perplexity tertiles; LLaMA/RedPajama keep head+middle). The
    * deterministic instantiation: a BIGRAM LM over [[DsirBuckets]]
    * md5-hashed token buckets with add-1 smoothing — p(v|u) =
    * (c(u,v)+1)/(c(u)+B) — trained on the [[DsirTargetLang]] slice
    * (the same self-contained target-corpus convention as
    * [[dsirWeights]], whose machinery this generalizes from unigram
    * importance ratios to conditional likelihoods). Per doc:
    * `log_ppl` = −mean bigram log-likelihood (monotone in CCNet's
    * perplexity, without the exp that amplifies float drift), and the
    * tertile label at the corpus' exact (1/3, 2/3) log_ppl quantiles —
    * `head` = most-target-like, `tail` = the drop candidates.
    *
    * Scale shape: tokenize + bigram explode are narrow per-row maps
    * into ONE doc-keyed bag aggregate ([[pplBagsFor]] — the additive
    * artifact [[graft.streaming.StreamingPpl]] maintains); the model is
    * one re-aggregate of the target slice's bags collapsing to ≤ B²
    * rows, with the unigram marginals derived from IT (no second
    * corpus pass) — both attach to the bag table as broadcasts; the
    * per-doc score is a second doc-keyed aggregate; the tertile
    * cutpoints are a 2-value exact-percentile aggregate broadcast back
    * ([[curriculumPhases]]' equidepth mechanism — at 100 TB:
    * approx_percentile, same plan shape). Two linear shuffles, nothing
    * collected.
    */
  def perplexityFilter(s: SparkSession, dir: String): DataFrame =
    perplexityFrom(pplBagsFor(
      Tables(s, dir, "documents").select("doc_id", "lang", "text")))

  // lazy: filterAgreementOracle (declared ABOVE) interpolates this at
  // object init — a strict val here would still be null there
  lazy val perplexityFilterOracle: String = {
    val b = DsirBuckets
    val ps = (1 until 3).map(i => i.toDouble / 3).mkString(", ")
    def bk(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT % $b"
    val tertile = AnalyticsOps.equidepthBucketOracle("log_ppl", "cuts", 3)
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |         string_split(${DedupOps.normTextOracle("text")}, ' ') AS ts
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |         ${bk("ts[i]")} AS u,
       |         ${bk("ts[i+1]")} AS v
       |  FROM toks, LATERAL unnest(generate_series(1, len(ts) - 1)) AS t(i)
       |  WHERE len(ts) >= 2),
       |bag AS (
       |  SELECT doc_id, lang, u, v, count(*) AS cnt
       |  FROM bg GROUP BY 1, 2, 3, 4),
       |c2 AS (
       |  SELECT u, v, CAST(sum(cnt) AS BIGINT) AS c2 FROM bag
       |  WHERE lang = '$DsirTargetLang' GROUP BY 1, 2),
       |c1 AS (SELECT u, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |ppl AS (
       |  SELECT doc_id, lang, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |         round(-(sum(cnt * (ln(coalesce(c2.c2, 0) + 1.0) -
       |                            ln(coalesce(c1.c1, 0) + $b.0)))
       |                 / sum(cnt)), 4) AS log_ppl
       |  FROM bag LEFT JOIN c2 USING (u, v) LEFT JOIN c1 USING (u)
       |  GROUP BY 1, 2),
       |c AS (SELECT quantile_cont(log_ppl, [$ps]) AS cuts FROM ppl)
       |SELECT doc_id, lang, n_bigrams, log_ppl,
       |       CASE ($tertile) WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |            ELSE 'tail' END AS ppl_bucket
       |FROM ppl, c ORDER BY doc_id""".stripMargin
  }

  /** Training-row context length for [[packSequences]] — bins hold ~6-10
    * of this corpus' ~54-token docs, so both boundary cases (doc fits /
    * doc crosses) occur constantly at every SF.
    */
  val PackContextLen = 512

  /** Shard count for [[packSequences]] — each shard packs independently
    * (the training-file unit); production sets this to the writer
    * parallelism (thousands), the packing semantics are shard-local
    * either way.
    */
  val PackShards = 8

  /** Per-doc packing assignment behind [[packSequences]] — exposed for
    * the spec's pure-Scala sequential replay of one shard.
    */
  /** The packers' shared doc-prep: positive whitespace-token lengths,
    * the md5 shard/order draw, and the [[PackContextLen]] cap — ONE
    * definition so the two packers' rows stay comparable row-for-row
    * (r16 review; the md5Long lesson applied to the packing family).
    */
  private def packDocs(s: SparkSession, dir: String): DataFrame = {
    val key = col("doc_id").cast("string")
    TextOps.tokenCount(s, dir)
      .select(col("doc_id"), col("ws_tokens").cast("long").as("len"))
      .filter(col("len") > 0)
      .select(col("doc_id"), col("len"),
        md5Bucket(key, PackShards).as("shard"),
        md5(key).as("okey"),
        least(col("len"), lit(PackContextLen.toLong)).as("capped"))
  }

  /** The packers' shared doc-prep as the oracle CTEs `tok`/`o`. */
  private def packDocsOracleCte: String =
    s"""tok AS (
       |  SELECT doc_id, CAST(ws_tokens AS BIGINT) AS len
       |  FROM (${TextOps.tokenCountOracle}) WHERE ws_tokens > 0),
       |o AS (
       |  SELECT doc_id, len,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |           % $PackShards AS shard,
       |         md5(CAST(doc_id AS VARCHAR)) AS okey,
       |         least(len, $PackContextLen) AS capped
       |  FROM tok)""".stripMargin

  private[graft] def packAssignments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = PackContextLen
    val docs = packDocs(s, dir)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("okey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("off0", sum(col("capped")).over(w) - col("capped"))
      .select(col("doc_id"), col("shard"), col("len"),
        floor(col("off0") / L).cast("long").as("bin"),
        least(col("capped"), lit(L.toLong) - col("off0") % L).as("kept"))
  }

  /** Sequence packing — the last step every training-data pipeline runs
    * before the trainer: concatenate documents into fixed
    * [[PackContextLen]]-token training rows. The deterministic
    * parallel scheme: docs are sharded by the md5 draw (the
    * [[corpusSample]] convention) and packed greedily in md5 order
    * WITHIN each shard; a doc that would cross its row boundary is
    * truncated at the boundary (never split across rows — the
    * concat-and-chunk baseline's document-splitting is the harm
    * measured by Ding et al. 2024, and truncate-at-boundary is the
    * standard alternative), with the truncated tail's virtual space
    * left as row slack so every assignment is a pure function of the
    * PREFIX SUM — no sequential state, no recursion. Output is the
    * per-row audit a training job reads: docs per row, fill tokens,
    * fill ppm (the packing-efficiency headline, as an exact integer
    * parts-per-million), and truncation
    * loss; first-fit-decreasing / histogram packing (Krell et al.
    * 2021) are the optimization path when the measured fill ratio
    * isn't acceptable.
    *
    * Scale shape: one narrow tokenize map; ONE window partitioned by
    * shard (bounded per-shard work, parallel across shards — never a
    * global sort; production shard count = writer parallelism); one
    * (shard, bin)-keyed aggregate. The md5 order also IS the training
    * shuffle, so packing doesn't undo [[corpusShuffle]].
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val L = PackContextLen
    packAssignments(s, dir)
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("fill_tokens"),
        // fill as EXACT integer parts-per-million, never a rounded
        // DOUBLE: kept/L is always a multiple of 1/L, and at L=512
        // the values k ≡ 4 (mod 8) land exactly on a .5 µ boundary —
        // the engine/oracle then disagree per their doubles' rounding,
        // which is the r16 red-row class (CORRECTNESS_r16
        // pack_sequences hash-fail; environment-sensitive, so the
        // gate can pass locally and fail on the driver's DuckDB)
        expr(s"sum(kept) * 1000000L div ${L}L").as("fill_ppm"),
        sum(col("len") - col("kept")).as("trunc_tokens"))
      .orderBy("shard", "bin")
  }

  val packSequencesOracle: String = {
    val L = PackContextLen
    s"""WITH $packDocsOracleCte,
       |w AS (
       |  SELECT doc_id, shard, len, capped,
       |         sum(capped) OVER (PARTITION BY shard ORDER BY okey, doc_id
       |           ROWS UNBOUNDED PRECEDING) - capped AS off0
       |  FROM o),
       |a AS (
       |  -- off0 is a windowed sum(BIGINT) => HUGEINT in DuckDB, and an
       |  -- uncast HUGEINT-derived output column hashes differently per
       |  -- DuckDB build even when values agree (the r4 pivot class;
       |  -- this was the r16/r17 pack_sequences red driver row)
       |  SELECT shard, CAST(off0 // $L AS BIGINT) AS bin,
       |         least(capped, $L - off0 % $L) AS kept, len
       |  FROM w)
       |SELECT shard, bin, count(*) AS n_docs,
       |       CAST(sum(kept) AS BIGINT) AS fill_tokens,
       |       CAST(sum(kept) * 1000000 // $L AS BIGINT) AS fill_ppm,
       |       CAST(sum(len - kept) AS BIGINT) AS trunc_tokens
       |FROM a GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin
  }

  /** Length-grouped batch packing — [[packSequences]]' fine-tuning-side
    * twin (bucketed/length-grouped batching, the standard padded-batch
    * minimizer in seq2seq and SFT pipelines): docs are grouped by
    * EXACT capped token length, and each length class fills
    * fixed-[[PackContextLen]]-token batches of ⌊L/ℓ⌋ same-length docs —
    * zero intra-batch padding by construction, zero boundary
    * truncation (only over-length docs are capped, as in
    * packSequences), and the waste moves to per-batch SLACK
    * L − ⌊L/ℓ⌋·ℓ < ℓ plus each class' partial last batch. The two
    * packers are the trade a pipeline chooses between: greedy concat
    * (truncation loss, maximal fill) vs length batches (no truncation,
    * bounded slack) — their fill_ppm columns compare row-for-row.
    *
    * Scale shape: one narrow tokenize map; ONE window partitioned by
    * (length class, [[PackShards]] md5 shard) — a bare length-class
    * window would cap parallelism at ≤ L tasks however large the
    * corpus, so classes sub-shard exactly as [[packSequences]] does
    * (each shard is a writer's batch stream; same-length batches stay
    * same-length under any sharding); one (class, shard, batch)-keyed
    * aggregate. Deterministic via the md5 order, so batch membership
    * is retry-idempotent.
    */
  def packLengthBatches(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = PackContextLen
    val docs = packDocs(s, dir)
      .withColumnRenamed("capped", "len_class")
    val w = Window.partitionBy(col("len_class"), col("shard"))
      .orderBy(col("okey"), col("doc_id"))
    docs
      .withColumn("rk", row_number().over(w))
      .withColumn("batch",
        ((col("rk") - 1) / floor(lit(L.toLong) / col("len_class")))
          .cast("long"))
      .groupBy(col("len_class"), col("shard"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len_class")).as("fill_tokens"),
        // exact integer ppm, same reasoning as packSequences: this
        // packer had the identical round(x/L, 6) exposure and passed
        // r16 only by luck of its values
        expr(s"sum(len_class) * 1000000L div ${L}L").as("fill_ppm"),
        sum(col("len") - col("len_class")).as("trunc_tokens"))
      .orderBy("len_class", "shard", "batch")
  }

  val packLengthBatchesOracle: String = {
    val L = PackContextLen
    s"""WITH $packDocsOracleCte,
       |r AS (
       |  SELECT doc_id, len, capped AS len_class, shard,
       |         row_number() OVER (PARTITION BY capped, shard
       |           ORDER BY okey, doc_id) AS rk
       |  FROM o),
       |a AS (
       |  SELECT len_class, shard,
       |         (rk - 1) // ($L // len_class) AS batch, len
       |  FROM r)
       |SELECT len_class, shard, batch, count(*) AS n_docs,
       |       CAST(count(*) * len_class AS BIGINT) AS fill_tokens,
       |       CAST(count(*) * len_class * 1000000 // $L AS BIGINT)
       |         AS fill_ppm,
       |       CAST(sum(len - len_class) AS BIGINT) AS trunc_tokens
       |FROM a GROUP BY 1, 2, 3 ORDER BY len_class, shard, batch""".stripMargin
  }

  /** The packer trade as ONE audit row per strategy (r17 — the decision
    * table the two packers' scaladoc says a pipeline chooses between,
    * made oracle-visible): for [[packSequences]] (greedy concat:
    * truncation loss, maximal fill) and [[packLengthBatches]] (length
    * batches: zero truncation-at-boundary, per-batch slack), the row
    * count, doc count, kept/lost token mass, overall fill efficiency
    * (kept tokens per emitted L-token row, exact ppm) and truncation
    * share of the original token mass (exact ppm). A training job reads
    * exactly this pair to pick its packer for a corpus: greedy wins
    * fill_ppm, length batches win trunc_ppm, and the gap sizes are
    * corpus statistics, not constants.
    *
    * Scale shape: the two packers' audited one-window plans, each
    * reduced by ONE 1-row aggregate; the union is 2 rows.
    */
  def packEfficiencyCompare(s: SparkSession, dir: String): DataFrame = {
    val L = PackContextLen
    def summarize(df: DataFrame, strategy: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("fill_tokens")).as("fill_tokens"),
          sum(col("trunc_tokens")).as("trunc_tokens"))
        .select(lit(strategy).as("strategy"), col("n_rows"), col("n_docs"),
          col("fill_tokens"), col("trunc_tokens"),
          expr(s"fill_tokens * 1000000L div (n_rows * ${L}L)")
            .as("fill_ppm"),
          expr("trunc_tokens * 1000000L div (fill_tokens + trunc_tokens)")
            .as("trunc_ppm"))
    summarize(packSequences(s, dir), "greedy_concat")
      .unionByName(summarize(packLengthBatches(s, dir), "length_batches"))
      .orderBy("strategy")
  }

  val packEfficiencyCompareOracle: String = {
    val L = PackContextLen
    def leg(strategy: String, oracle: String): String =
      s"""SELECT '$strategy' AS strategy,
         |       count(*) AS n_rows,
         |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |       CAST(sum(fill_tokens) AS BIGINT) AS fill_tokens,
         |       CAST(sum(trunc_tokens) AS BIGINT) AS trunc_tokens,
         |       CAST(sum(fill_tokens) * 1000000 // (count(*) * $L)
         |         AS BIGINT) AS fill_ppm,
         |       CAST(sum(trunc_tokens) * 1000000
         |         // (sum(fill_tokens) + sum(trunc_tokens)) AS BIGINT)
         |         AS trunc_ppm
         |FROM ($oracle)""".stripMargin
    s"""SELECT * FROM (
       |${leg("greedy_concat", packSequencesOracle)}
       |UNION ALL
       |${leg("length_batches", packLengthBatchesOracle)})
       |ORDER BY strategy""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_anonymity" -> ((s: SparkSession, dir: String) => kAnonymity(s, dir)),
    "doc_lineage" -> (docLineage _),
    "crossval_split" -> (crossvalSplit _),
    "grouped_crossval" -> (groupedCrossval _),
    "source_pair_matrix" -> (sourcePairMatrix _),
    "epoch_plan" -> (epochPlan _),
    "batch_mix_audit" -> (batchMixAudit _),
    "data_card" -> (dataCard _),
    "domain_reweight" -> (domainReweight _),
    "quality_ablation" -> (qualityAblation _),
    "token_budget_fill" -> (tokenBudgetFill _),
    "ngram_novelty" -> (ngramNovelty _),
    "corpus_reservoir_agg" -> (corpusReservoirAgg _),
    "corpus_reservoir" -> (corpusReservoir _),
    "corpus_split" -> (corpusSplit _),
    "source_overlap" -> (sourceOverlap _),
    "corpus_curation" -> (corpusCuration _),
    "curation_funnel" -> (curationFunnel _),
    "ingest_delta_card" -> (ingestDeltaCard _),
    "corpus_sample" -> (corpusSample _),
    "corpus_weighted_sample" -> (corpusWeightedSample _),
    "corpus_shuffle" -> (corpusShuffle _),
    "source_mixture" -> (sourceMixture _),
    "dsir_weights" -> (dsirWeights _),
    "dsir_resample" -> (dsirResample _),
    "soft_dedup" -> (softDedup _),
    "dsir_drift" -> (dsirDrift _),
    "filter_agreement" -> (filterAgreement _),
    "cluster_quota_sample" -> (clusterQuotaSample _),
    "curriculum_phases" -> (curriculumPhases _),
    "perplexity_filter" -> (perplexityFilter _),
    "pack_sequences" -> (packSequences _),
    "pack_length_batches" -> (packLengthBatches _),
    "pack_efficiency_compare" -> (packEfficiencyCompare _))

  val oracles: Map[String, String] = Map(
    "k_anonymity" -> kAnonymityOracle,
    "doc_lineage" -> docLineageOracle,
    "crossval_split" -> crossvalSplitOracle,
    "grouped_crossval" -> groupedCrossvalOracle,
    "source_pair_matrix" -> sourcePairMatrixOracle,
    "epoch_plan" -> epochPlanOracle,
    "batch_mix_audit" -> batchMixAuditOracle,
    "data_card" -> dataCardOracle,
    "domain_reweight" -> domainReweightOracle,
    "quality_ablation" -> qualityAblationOracle,
    "token_budget_fill" -> tokenBudgetFillOracle,
    "ngram_novelty" -> ngramNoveltyOracle,
    "corpus_reservoir_agg" -> corpusReservoirOracle,
    "corpus_reservoir" -> corpusReservoirOracle,
    "corpus_split" -> corpusSplitOracle,
    "source_overlap" -> sourceOverlapOracle,
    "corpus_curation" -> corpusCurationOracle,
    "curation_funnel" -> curationFunnelOracle,
    "ingest_delta_card" -> ingestDeltaCardOracle,
    "corpus_sample" -> corpusSampleOracle,
    "corpus_weighted_sample" -> corpusWeightedSampleOracle,
    "corpus_shuffle" -> corpusShuffleOracle,
    "source_mixture" -> sourceMixtureOracle,
    "dsir_weights" -> dsirWeightsOracle,
    "dsir_resample" -> dsirResampleOracle,
    "soft_dedup" -> softDedupOracle,
    "dsir_drift" -> dsirDriftOracle,
    "filter_agreement" -> filterAgreementOracle,
    "cluster_quota_sample" -> clusterQuotaSampleOracle,
    "curriculum_phases" -> curriculumPhasesOracle,
    "perplexity_filter" -> perplexityFilterOracle,
    "pack_sequences" -> packSequencesOracle,
    "pack_length_batches" -> packLengthBatchesOracle,
    "pack_efficiency_compare" -> packEfficiencyCompareOracle)
}
