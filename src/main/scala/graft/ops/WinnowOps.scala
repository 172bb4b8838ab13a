package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints and cross-document substring dedup
  * (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm).
  *
  * Every k-token shingle is hashed; within each window of `W` consecutive
  * shingle hashes the MINIMUM hash is selected. The selected set is the
  * document's fingerprint, with the winnowing guarantee: any token run of
  * length ≥ W + K − 1 shared verbatim by two documents yields at least one
  * shared fingerprint, while expected fingerprint density drops to
  * 2/(W+1) of the shingle count — the local-algorithm sweet spot between
  * "sample every shingle" (exact but K× the data) and "one hash per doc"
  * (exact-dup only). This is the cross-document EXACT-substring detector
  * the n-gram-Jaccard / MinHash family can't express: those measure
  * whole-document set overlap, winnowing localizes verbatim reuse
  * (contamination spans, boilerplate, quotes) anywhere inside documents
  * of arbitrarily different length.
  *
  * Hash choice: md5 hex of the shingle STRING, compared lexicographically
  * — identical in Spark and DuckDB, so unlike the xxhash64-based MinHash
  * sketches the winnowed selection itself is value-level oracle-checked
  * (the [[TextOps.shingleFingerprint]] count-parity trick is not needed).
  *
  * Scale shape: ONE narrow pass hashes each shingle exactly once
  * (generator input is evaluated once per row), then the window-min runs
  * as a doc_id-partitioned ROWS window — linear, compiled, O(W) frame
  * state; the ONLY corpus shuffle before the pair join is hash(doc_id).
  * NOT implemented as nested array higher-order functions: Catalyst's
  * CollapseProject inlines a referenced array column into every consumer,
  * so `transform(windows, j -> min(slice(hs, j, W)))` re-evaluates the
  * FULL O(n) md5 chain per window — O(n²) interpreted work per document
  * (measured: a single sf0.1 bench task pinned a core for 10+ minutes;
  * the row-form runs in seconds). The row form is also literally the
  * oracle's shape, so both engines compute the identical selection. The
  * pair join is fp-keyed with a stop-fingerprint cap (document frequency
  * ≤ [[MaxDf]], mirrored in the oracle) — the same bucket-size bound the
  * LSH band joins apply, so one boilerplate string shared by half the
  * corpus can't quadratically blow up a bucket; candidate volume is
  * Σ df² over surviving fps, each df capped. Reference surface: the same
  * dirty-data quarantine intent as `CSVtoSQLimport.ps1:242-251`'s
  * skip-and-log, lifted to corpus scale.
  */
object WinnowOps {

  private val K = 4 // tokens per shingle
  private val W = 4 // shingle hashes per winnowing window
  private val MaxDf = 50 // stop-fingerprint document-frequency cap
  private val MinShared = 3 // shared fingerprints to report a pair

  /** One row per shingle: (doc_id, n_sh, i, h) with 1-based position `i`
    * and md5-hex hash `h`; documents with no shingle keep a single
    * (null i, null h) row via the outer generator so per-doc aggregates
    * still see them. Positions/counts are long — DuckDB's
    * generate_series/len are BIGINT and the driver hash is
    * type-width-sensitive (the r4 pivot lesson).
    */
  private def shingleHashRows(s: SparkSession, dir: String): DataFrame = {
    val toks = split(DedupOps.normText(col("text")), " ")
    def shingleAt(t: Column, i: Column): Column =
      md5(concat_ws(" ", slice(t, i, lit(K))).cast("binary"))
    // doc_id is the winnowing window's partition key, so the window
    // rides this exchange
    Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n_sh_i", greatest(size(col("toks")) - (K - 1), lit(0)))
      .select(col("doc_id"), col("n_sh_i").cast("long").as("n_sh"),
        posexplode_outer(
          when(col("n_sh_i") === 0, array().cast("array<string>"))
            .otherwise(transform(
              sequence(lit(1), greatest(col("n_sh_i"), lit(1))),
              i => shingleAt(col("toks"), i)))))
      .select(col("doc_id"), col("n_sh"),
        (col("pos") + 1).cast("long").as("i"), col("col").as("h"))
  }

  /** Winnow selection predicate over the windowed rows: full windows only
    * (j = 1 .. n_sh − W + 1); docs shorter than one window keep their
    * single global minimum (SIGMOD'03 §4's boundary rule).
    */
  private val selected: Column =
    (col("n_sh") <= W && col("i") === 1) || col("i") <= col("n_sh") - (W - 1)

  /** Rows with the window minimum attached: the frame is the next W
    * shingle hashes within the document.
    */
  private def windowed(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, W - 1)
    shingleHashRows(s, dir).withColumn("fp", min(col("h")).over(w))
  }

  /** (doc_id, fp, pos): the distinct winnowed fingerprints with the FIRST
    * selecting window position. hash(doc_id) from the window satisfies the
    * (doc_id, fp) clustering, so this adds no exchange.
    */
  private def selectedFps(s: SparkSession, dir: String): DataFrame =
    // feeds the df aggregate AND both pair-join sides; localCheckpoint
    // pays the hash pass + window once (ClusterOps lineage discipline)
    windowed(s, dir).filter(selected)
      .groupBy(col("doc_id"), col("fp"))
      .agg(min(col("i")).as("pos"))
      .localCheckpoint()

  /** Per-document fingerprint density: shingles vs winnowed count. */
  def winnowFingerprint(s: SparkSession, dir: String): DataFrame =
    windowed(s, dir)
      .groupBy(col("doc_id"))
      .agg(max(col("n_sh")).as("n_shingles"),
        count_distinct(when(selected, col("fp"))).as("n_fingerprints"))
      .orderBy("doc_id")

  private def oracleSel: String = {
    val norm = DedupOps.normTextOracle("text")
    s"""toks AS (
       |  SELECT doc_id, string_split($norm, ' ') AS tokens FROM documents),
       |sh AS (
       |  SELECT doc_id, i,
       |         md5(array_to_string(tokens[i:i+${K - 1}], ' ')) AS h,
       |         greatest(len(tokens) - ${K - 1}, 0) AS n_sh
       |  FROM toks, LATERAL unnest(generate_series(1,
       |         greatest(len(tokens) - ${K - 1}, 1))) t(i)
       |  WHERE len(tokens) >= $K),
       |win AS (
       |  SELECT doc_id, i, n_sh,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |           ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS fp
       |  FROM sh),
       |sel AS (
       |  SELECT DISTINCT doc_id, fp FROM win
       |  WHERE n_sh <= $W AND i = 1
       |     OR i <= n_sh - ${W - 1})""".stripMargin
  }

  val winnowFingerprintOracle: String =
    s"""WITH $oracleSel,
       |cnt AS (SELECT doc_id, count(*) AS n_fingerprints FROM sel
       |        GROUP BY doc_id)
       |SELECT t.doc_id,
       |       greatest(len(t.tokens) - ${K - 1}, 0) AS n_shingles,
       |       coalesce(c.n_fingerprints, 0) AS n_fingerprints
       |FROM toks t LEFT JOIN cnt c USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  /** Cross-document substring-reuse pairs: documents sharing ≥ [[MinShared]]
    * winnowed fingerprints, stop-fingerprints (df > [[MaxDf]]) dropped
    * before the join. n_shared is a lower bound on distinct shared ≥
    * (W+K−1)-token verbatim runs.
    */
  def dedupWinnow(s: SparkSession, dir: String): DataFrame = {
    val fps = selectedFps(s, dir).select(col("doc_id"), col("fp"))
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf)
      .select("fp")
    val pruned = fps.join(rare, "fp")
    val a = pruned.select(col("fp"), col("doc_id").as("doc_a"))
    val b = pruned.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .orderBy("doc_a", "doc_b")
  }

  val dedupWinnowOracle: String =
    s"""WITH $oracleSel,
       |rare AS (
       |  SELECT fp FROM sel GROUP BY fp HAVING count(*) <= $MaxDf),
       |pruned AS (SELECT s.doc_id, s.fp FROM sel s JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       count(*) AS n_shared
       |FROM pruned a JOIN pruned b
       |  ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $MinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Span localization for the [[dedupWinnow]] pairs: WHERE the verbatim
    * reuse sits in each document — per pair, the bounding token-position
    * range of the matched fingerprints on both sides (the cross-document
    * analog of TextOps' within-document `duplicate_spans`). A contiguous
    * lifted quote shows as a tight [lo, hi] on both docs; scattered
    * boilerplate shows as a wide range with the same n_shared.
    *
    * Scale shape: identical join graph to [[dedupWinnow]] (fp-keyed with
    * the same stop-fp cap) — positions are one extra long riding rows
    * that already exist; the span bounds are min/max aggregates of the
    * same pair groupBy.
    */
  def dedupWinnowSpans(s: SparkSession, dir: String): DataFrame = {
    val fps = selectedFps(s, dir)
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf)
      .select("fp")
    val pruned = fps.join(rare, "fp")
    val a = pruned.select(col("fp"), col("doc_id").as("doc_a"),
      col("pos").as("pos_a"))
    val b = pruned.select(col("fp"), col("doc_id").as("doc_b"),
      col("pos").as("pos_b"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("pos_a")).as("a_lo"), max(col("pos_a")).as("a_hi"),
        min(col("pos_b")).as("b_lo"), max(col("pos_b")).as("b_hi"))
      .filter(col("n_shared") >= MinShared)
      .orderBy("doc_a", "doc_b")
  }

  private def oracleSelPos: String =
    s"""selp AS (
       |  SELECT doc_id, fp, min(i) AS pos FROM win
       |  WHERE n_sh <= $W AND i = 1
       |     OR i <= n_sh - ${W - 1}
       |  GROUP BY doc_id, fp)""".stripMargin

  val dedupWinnowSpansOracle: String =
    s"""WITH $oracleSel,
       |$oracleSelPos,
       |rare AS (
       |  SELECT fp FROM selp GROUP BY fp HAVING count(*) <= $MaxDf),
       |pruned AS (SELECT s.doc_id, s.fp, s.pos
       |           FROM selp s JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       count(*) AS n_shared,
       |       min(a.pos) AS a_lo, max(a.pos) AS a_hi,
       |       min(b.pos) AS b_lo, max(b.pos) AS b_hi
       |FROM pruned a JOIN pruned b
       |  ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $MinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "winnow_fingerprint" -> (winnowFingerprint _),
    "dedup_winnow" -> (dedupWinnow _),
    "dedup_winnow_spans" -> (dedupWinnowSpans _))

  val oracles: Map[String, String] = Map(
    "winnow_fingerprint" -> winnowFingerprintOracle,
    "dedup_winnow" -> dedupWinnowOracle,
    "dedup_winnow_spans" -> dedupWinnowSpansOracle)
}
