package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.DedupOps.{normText, normTextOracle}

/** Text analysis for training-data pipelines (SURVEY.md §7.5): language ID
  * (marker-word heuristic), quality scoring, token counting (whitespace +
  * BPE-ish regex), and document fingerprinting. All narrow per-row maps of
  * codegen'd built-ins — embarrassingly parallel at any scale.
  */
object TextOps {

  /** (lang, marker regex) — counts of distinctive function words. The
    * heuristic is self-contained and deterministic; it does NOT consult the
    * table's `lang` column (that is synthetic ground truth, kept alongside
    * for inspection).
    */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|is|was)\\b",
    "de" -> "\\b(und|der|die|das|ist)\\b",
    "fr" -> "\\b(le|la|les|est|et)\\b",
    "es" -> "\\b(el|los|las|es|y)\\b")

  def langId(s: SparkSession, dir: String): DataFrame = {
    val scored = LangMarkers.foldLeft(
      Tables(s, dir, "documents").select(col("doc_id"), col("lang"),
        normText(col("text")).as("t"))) {
      case (df, (lang, pat)) =>
        df.withColumn(s"n_$lang", regexp_count(col("t"), lit(pat)))
    }
    val best = LangMarkers.map { case (l, _) => col(s"n_$l") }.reduce(greatest(_, _))
    // argmax with first-wins tie-break in LangMarkers order; 0 matches → und
    val predFirstWins = LangMarkers.reverse.foldLeft(lit("und")) {
      case (acc, (l, _)) => when(col(s"n_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.select(Seq(col("doc_id"), col("lang"), predFirstWins.as("lang_pred")) ++
        LangMarkers.map { case (l, _) => col(s"n_$l") }: _*)
      .orderBy("doc_id")
  }

  val langIdOracle: String = {
    val counts = LangMarkers.map { case (l, p) =>
      s"len(regexp_extract_all(t, '$p')) AS n_$l"
    }.mkString(",\n       ")
    val best = "greatest(" + LangMarkers.map { case (l, _) => s"n_$l" }.mkString(", ") + ")"
    val pred = "CASE " + LangMarkers.map { case (l, _) =>
      s"WHEN n_$l = $best AND $best > 0 THEN '$l'"
    }.mkString(" ") + " ELSE 'und' END"
    s"""SELECT doc_id, lang, $pred AS lang_pred,
       |  ${LangMarkers.map { case (l, _) => s"n_$l" }.mkString(", ")}
       |FROM (
       |  SELECT doc_id, lang,
       |       $counts
       |  FROM (SELECT doc_id, lang, ${normTextOracle("text")} AS t FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Quality scoring: length, word count, mean word length, punctuation and
    * digit ratios, and a low-quality flag (the usual pretraining filters).
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), normText(col("text")).as("t"))
      .select(
        col("doc_id"),
        length(col("t")).as("n_chars"),
        regexp_count(col("t"), lit("\\S+")).as("n_words"),
        round(length(col("t")).cast("double") /
          regexp_count(col("t"), lit("\\S+")).cast("double"), 4).as("chars_per_word"),
        round(regexp_count(col("t"), lit("[^a-z0-9 ]")).cast("double") /
          length(col("t")).cast("double"), 4).as("punct_ratio"),
        round(regexp_count(col("t"), lit("[0-9]")).cast("double") /
          length(col("t")).cast("double"), 4).as("digit_ratio"))
      .withColumn("low_quality",
        col("n_words") < 10 || col("punct_ratio") > 0.3 || col("digit_ratio") > 0.3)
      .orderBy("doc_id")

  val textQualityOracle: String =
    s"""SELECT doc_id, n_chars, n_words, chars_per_word, punct_ratio, digit_ratio,
       |       (n_words < 10 OR punct_ratio > 0.3 OR digit_ratio > 0.3) AS low_quality
       |FROM (
       |  SELECT doc_id,
       |         length(t) AS n_chars,
       |         len(regexp_extract_all(t, '\\S+')) AS n_words,
       |         round(CAST(length(t) AS DOUBLE) /
       |               CAST(len(regexp_extract_all(t, '\\S+')) AS DOUBLE), 4) AS chars_per_word,
       |         round(CAST(len(regexp_extract_all(t, '[^a-z0-9 ]')) AS DOUBLE) /
       |               CAST(length(t) AS DOUBLE), 4) AS punct_ratio,
       |         round(CAST(len(regexp_extract_all(t, '[0-9]')) AS DOUBLE) /
       |               CAST(length(t) AS DOUBLE), 4) AS digit_ratio
       |  FROM (SELECT doc_id, ${normTextOracle("text")} AS t FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** The stopword-presence rule set of [[gopherRules]] (Rae et al. 2021,
    * Table A1): a page must contain at least [[GopherMinStopHits]] of
    * these eight English function words.
    */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2

  /** The Gopher quality rule set (Rae et al., 2021, Appendix A1 — the
    * published heuristic filter most open pretraining pipelines start
    * from), restated per document with one boolean per rule plus the
    * conjunction: word count in [50, 100k], mean word length in [3, 10],
    * symbol-to-word ratio (# and ellipsis) ≤ 0.1, ≥ 80% of words contain
    * an alphabetic character, and ≥ 2 of the eight listed stopwords
    * present. The two line-shape rules (bullet/ellipsis line fractions)
    * are omitted: the corpus carries no newlines, so both are vacuous
    * here. Complements [[textQuality]] (generic ratios, one composite
    * flag) with the named, threshold-pinned rule set a data card cites.
    *
    * On THIS synthetic corpus the stopword rule fails universally (the
    * vocabulary contains only "the" from the list), so `keep` is
    * all-false and the per-rule flags + `n_rules_failed` carry the
    * signal — the audit's value is the breakdown, not the verdict.
    *
    * Scale shape: a narrow per-row map of codegen'd regexp counts —
    * embarrassingly parallel, no shuffle before the output sort.
    */
  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    val stopHits = GopherStopWords
      .map(w => when(col("t").rlike(s"\\b$w\\b"), 1).otherwise(0))
      .reduce(_ + _)
    // nullif denominator: an empty doc has n_words = 0, and x/0 is NaN
    // in Spark but ±Inf in DuckDB (and the two engines ORDER NaN
    // differently) — NULL ratios + coalesce(flag, false) below keep
    // empty docs deterministic and engine-identical (r15 ADVICE)
    val denom = nullif(regexp_count(col("t"), lit("\\S+")), lit(0))
      .cast("double")
    val measured = Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), normText(col("text")).as("t"))
      .select(
        col("doc_id"),
        regexp_count(col("t"), lit("\\S+")).as("n_words"),
        round(length(regexp_replace(col("t"), " ", "")).cast("double") /
          denom, 4).as("mean_word_len"),
        round(regexp_count(col("t"), lit("#|\\.\\.\\.")).cast("double") /
          denom, 4).as("symbol_to_word"),
        round(regexp_count(col("t"), lit("(^| )[^ ]*[a-z]")).cast("double") /
          denom, 4).as("alpha_word_frac"),
        stopHits.as("stop_hits"))
    val rules = Seq(
      "r_word_count" -> (col("n_words") >= 50 && col("n_words") <= 100000),
      "r_word_len" -> coalesce(
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0,
        lit(false)),
      "r_symbol" -> coalesce(col("symbol_to_word") <= 0.1, lit(false)),
      "r_alpha" -> coalesce(col("alpha_word_frac") >= 0.8, lit(false)),
      "r_stop" -> (col("stop_hits") >= GopherMinStopHits))
    rules.foldLeft(measured) { case (df, (name, c)) => df.withColumn(name, c) }
      .withColumn("n_rules_failed",
        rules.map { case (name, _) => when(col(name), 0).otherwise(1) }
          .reduce(_ + _))
      .withColumn("keep", rules.map { case (name, _) => col(name) }
        .reduce(_ && _))
      .orderBy("doc_id")
  }

  val gopherRulesOracle: String = {
    val hits = GopherStopWords
      .map(w => s"CASE WHEN regexp_matches(t, '\\b$w\\b') THEN 1 ELSE 0 END")
      .mkString(" + ")
    val rules = Seq(
      "r_word_count" -> "(n_words >= 50 AND n_words <= 100000)",
      "r_word_len" ->
        "COALESCE(mean_word_len >= 3.0 AND mean_word_len <= 10.0, FALSE)",
      "r_symbol" -> "COALESCE(symbol_to_word <= 0.1, FALSE)",
      "r_alpha" -> "COALESCE(alpha_word_frac >= 0.8, FALSE)",
      "r_stop" -> s"(stop_hits >= $GopherMinStopHits)")
    val flagCols = rules.map { case (n, e) => s"$e AS $n" }.mkString(",\n       ")
    val failed = rules.map { case (_, e) => s"CASE WHEN $e THEN 0 ELSE 1 END" }
      .mkString(" + ")
    val keep = rules.map(_._2).mkString(" AND ")
    s"""SELECT doc_id, n_words, mean_word_len, symbol_to_word,
       |       alpha_word_frac, stop_hits,
       |       $flagCols,
       |       $failed AS n_rules_failed,
       |       $keep AS keep
       |FROM (
       |  SELECT doc_id,
       |         len(regexp_extract_all(t, '\\S+')) AS n_words,
       |         round(CAST(length(replace(t, ' ', '')) AS DOUBLE) /
       |               nullif(len(regexp_extract_all(t, '\\S+')), 0), 4) AS mean_word_len,
       |         round(CAST(len(regexp_extract_all(t, '#|\\.\\.\\.')) AS DOUBLE) /
       |               nullif(len(regexp_extract_all(t, '\\S+')), 0), 4) AS symbol_to_word,
       |         round(CAST(len(regexp_extract_all(t, '(^| )[^ ]*[a-z]')) AS DOUBLE) /
       |               nullif(len(regexp_extract_all(t, '\\S+')), 0), 4) AS alpha_word_frac,
       |         $hits AS stop_hits
       |  FROM (SELECT doc_id, ${normTextOracle("text")} AS t FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Token counting: whitespace tokens and a BPE-ish lexer regex (letter
    * runs / digit runs / single non-alnum), per document plus per-source
    * aggregate totals for corpus budgeting.
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), col("source"), normText(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        regexp_count(col("t"), lit("\\S+")).as("ws_tokens"),
        regexp_count(col("t"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).as("bpe_ish_tokens"))
      .orderBy("doc_id")

  val tokenCountOracle: String =
    s"""SELECT doc_id, source,
       |       len(regexp_extract_all(t, '\\S+')) AS ws_tokens,
       |       len(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens
       |FROM (SELECT doc_id, source, ${normTextOracle("text")} AS t FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Per-source token budget (grouped aggregation over tokenCount). */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    tokenCount(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        round(avg(col("ws_tokens")), 4).as("avg_ws_tokens"),
        max(col("bpe_ish_tokens")).as("max_bpe_ish_tokens"))
      .orderBy("source")

  val tokenStatsOracle: String =
    s"""SELECT source, count(*) AS n_docs,
       |       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
       |       round(avg(ws_tokens), 4) AS avg_ws_tokens,
       |       max(bpe_ish_tokens) AS max_bpe_ish_tokens
       |FROM (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(t, '\\S+')) AS ws_tokens,
       |         len(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens
       |  FROM (SELECT doc_id, source, ${normTextOracle("text")} AS t FROM documents))
       |GROUP BY source ORDER BY source""".stripMargin

  /** Document fingerprinting: full-text md5 + 50-char-prefix md5, with the
    * prefix-cluster size (near-dup cluster discovery via fingerprints; a
    * window count, shuffle on the fingerprint key only).
    */
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    val fp = Tables(s, dir, "documents")
      .select(col("doc_id"),
        DedupOps.fingerprint(col("text")).as("fp_full"),
        DedupOps.prefixFingerprint(col("text"), 50).as("fp_prefix"))
    fp.withColumn("prefix_cluster_size",
        count(lit(1)).over(Window.partitionBy(col("fp_prefix"))))
      .orderBy("doc_id")
  }

  val docFingerprintOracle: String =
    s"""SELECT doc_id, md5(${normTextOracle("text")}) AS fp_full,
       |       md5(substr(${normTextOracle("text")}, 1, 50)) AS fp_prefix,
       |       count(*) OVER (PARTITION BY md5(substr(${normTextOracle("text")}, 1, 50)))
       |         AS prefix_cluster_size
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Rolling-hash shingle fingerprinting via the native Rabin–Karp
    * [[graft.functions.expressions.RollingShingleHash]] (O(tokens) per doc):
    * per-document shingle count and DISTINCT-shingle count — the repetition
    * signal near-dup sketchers build on. The distinct count equals the
    * distinct count of the actual 5-token shingle strings (the oracle
    * counts those directly; hash collisions are the only divergence, at
    * ~2⁻⁶⁴ per pair), so the rolling-hash output itself is oracle-checked.
    */
  def shingleFingerprint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val K = 5
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        ColumnBridge.column(graft.functions.expressions.RollingShingleHash(
          ColumnBridge.expression(graft.functions.ArrayFunctions
            .xxhash64Elements(split(normText(col("text")), " "))),
          K)).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).as("n_shingles"),
        size(array_distinct(col("fps"))).as("n_distinct_shingles"))
      .orderBy("doc_id")
  }

  val shingleFingerprintOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(${normTextOracle("text")}, ' ') AS tokens
       |  FROM documents),
       |shingles AS (
       |  SELECT doc_id,
       |         array_to_string(tokens[i:i+4], ' ') AS sh
       |  FROM toks, LATERAL unnest(generate_series(1, len(tokens) - 4)) AS t(i))
       |SELECT t.doc_id,
       |       coalesce(s.n_shingles, 0) AS n_shingles,
       |       coalesce(s.n_distinct_shingles, 0) AS n_distinct_shingles
       |FROM toks t LEFT JOIN (
       |  SELECT doc_id, count(*) AS n_shingles,
       |         count(DISTINCT sh) AS n_distinct_shingles
       |  FROM shingles GROUP BY doc_id) s USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  /** Gopher/C4-style repetition filters (Rae et al. 2021 §A1.1): fraction
    * of duplicated words / 2-grams / 3-grams and the top-word mass, with a
    * `repetitive` verdict — the standard pretraining signal for boilerplate
    * and generator-loop text that length/punct quality scoring misses.
    *
    * Scale shape: the n-gram duplicate fractions are NARROW maps (native
    * [[graft.functions.expressions.RollingShingleHash]] over xxhash64'd
    * tokens — distinct-hash counts equal distinct-n-gram counts modulo
    * ~2⁻⁶⁴ collisions, same argument as [[shingleFingerprint]]); the
    * top-word mass is two doc_id-keyed aggregations (explode → per-word
    * count → per-doc max), map-side combined, so the shuffle carries one
    * row per distinct (doc, word), not per token.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    import graft.functions.expressions.RollingShingleHash
    def grams(k: Int) = bc(RollingShingleHash(be(col("htoks")), k))
    val base = Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), col("source"),
        split(normText(col("text")), " ").as("toks"))
      .withColumn("htoks", graft.functions.ArrayFunctions.xxhash64Elements(col("toks")))
      .select(col("doc_id"), col("source"), col("toks"),
        size(col("toks")).as("n_w"),
        size(array_distinct(col("toks"))).as("d_w"),
        size(grams(2)).as("n_2"),
        size(array_distinct(grams(2))).as("d_2"),
        size(grams(3)).as("n_3"),
        size(array_distinct(grams(3))).as("d_3"))
    val topCnt = base
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_cnt"))
    def frac(d: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      when(n > 0, round(lit(1.0) - d.cast("double") / n.cast("double"), 4))
        .otherwise(lit(0.0))
    base.join(topCnt, "doc_id")
      .select(col("doc_id"), col("source"),
        frac(col("d_w"), col("n_w")).as("dup_word_frac"),
        frac(col("d_2"), col("n_2")).as("dup_2gram_frac"),
        frac(col("d_3"), col("n_3")).as("dup_3gram_frac"),
        round(col("top_cnt").cast("double") / col("n_w").cast("double"), 4)
          .as("top_word_frac"))
      .withColumn("repetitive",
        col("dup_3gram_frac") > 0.2 || col("top_word_frac") > 0.3)
      .orderBy("doc_id")
  }

  val textRepetitionOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(${normTextOracle("text")}, ' ') AS tokens
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |         count(*) FILTER (k = 2) AS n_2,
       |         count(DISTINCT g) FILTER (k = 2) AS d_2,
       |         count(*) FILTER (k = 3) AS n_3,
       |         count(DISTINCT g) FILTER (k = 3) AS d_3
       |  FROM (
       |    SELECT doc_id, 2 AS k, array_to_string(tokens[i:i+1], ' ') AS g
       |    FROM toks, LATERAL unnest(generate_series(1, len(tokens) - 1)) t(i)
       |    UNION ALL
       |    SELECT doc_id, 3 AS k, array_to_string(tokens[i:i+2], ' ') AS g
       |    FROM toks, LATERAL unnest(generate_series(1, len(tokens) - 2)) t(i))
       |  GROUP BY doc_id),
       |top AS (
       |  SELECT doc_id, max(c) AS top_cnt FROM (
       |    SELECT doc_id, tok, count(*) AS c
       |    FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks)
       |    GROUP BY doc_id, tok) GROUP BY doc_id)
       |SELECT doc_id, source, dup_word_frac, dup_2gram_frac, dup_3gram_frac,
       |       top_word_frac,
       |       (dup_3gram_frac > 0.2 OR top_word_frac > 0.3) AS repetitive
       |FROM (
       |  SELECT t.doc_id, t.source,
       |         CASE WHEN len(tokens) > 0 THEN round(1.0 -
       |           CAST(len(list_distinct(tokens)) AS DOUBLE) /
       |           CAST(len(tokens) AS DOUBLE), 4) ELSE 0.0 END AS dup_word_frac,
       |         CASE WHEN coalesce(g.n_2, 0) > 0 THEN round(1.0 -
       |           CAST(g.d_2 AS DOUBLE) / CAST(g.n_2 AS DOUBLE), 4)
       |           ELSE 0.0 END AS dup_2gram_frac,
       |         CASE WHEN coalesce(g.n_3, 0) > 0 THEN round(1.0 -
       |           CAST(g.d_3 AS DOUBLE) / CAST(g.n_3 AS DOUBLE), 4)
       |           ELSE 0.0 END AS dup_3gram_frac,
       |         round(CAST(p.top_cnt AS DOUBLE) /
       |           CAST(len(tokens) AS DOUBLE), 4) AS top_word_frac
       |  FROM toks t
       |  LEFT JOIN grams g USING (doc_id)
       |  JOIN top p USING (doc_id))
       |ORDER BY doc_id""".stripMargin

  /** PII detection + redaction — the scrub every shareable training corpus
    * runs. The testdata carries no organic PII (synthetic word-soup text,
    * trimmed TPC-H columns), so the query materializes a contact blob from
    * real `customer` fields and the REDACTION PASS is the operator under
    * test: emails are masked to `[EMAIL]`, remaining digit runs of ≥ 4 to
    * `[NUM]` (short numbers like nation keys survive — redaction should
    * not destroy non-identifying numerics), each with a per-row hit count
    * for audit. Order matters and is part of the contract: emails first,
    * so their digits never double-count as number hits. Narrow codegen'd
    * regexp maps — embarrassingly parallel at any scale.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val numPat = "[0-9]{4,}"
    Tables(s, dir, "customer")
      .select(col("c_custkey"),
        concat(col("c_name"), lit(" <"), lower(col("c_mktsegment")), lit("."),
          col("c_custkey").cast("string"), lit("@example.com> nation "),
          col("c_nationkey").cast("string")).as("blob"))
      .select(col("c_custkey"),
        regexp_count(col("blob"), lit(emailPat)).as("n_emails"),
        regexp_replace(col("blob"), emailPat, "[EMAIL]").as("b1"))
      .select(col("c_custkey"),
        regexp_replace(col("b1"), numPat, "[NUM]").as("redacted"),
        col("n_emails"),
        regexp_count(col("b1"), lit(numPat)).as("n_long_nums"))
      .orderBy("c_custkey")
  }

  val piiRedactOracle: String = {
    val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val numPat = "[0-9]{4,}"
    s"""WITH blob AS (
       |  SELECT c_custkey,
       |         c_name || ' <' || lower(c_mktsegment) || '.' ||
       |         CAST(c_custkey AS VARCHAR) || '@example.com> nation ' ||
       |         CAST(c_nationkey AS VARCHAR) AS blob
       |  FROM customer),
       |e AS (
       |  SELECT c_custkey,
       |         len(regexp_extract_all(blob, '$emailPat')) AS n_emails,
       |         regexp_replace(blob, '$emailPat', '[EMAIL]', 'g') AS b1
       |  FROM blob)
       |SELECT c_custkey,
       |       regexp_replace(b1, '$numPat', '[NUM]', 'g') AS redacted,
       |       n_emails,
       |       len(regexp_extract_all(b1, '$numPat')) AS n_long_nums
       |FROM e ORDER BY c_custkey""".stripMargin
  }

  /** Corpus-wide top-k bigrams by frequency — the vocabulary/boilerplate
    * census run before choosing filters. One explode and ONE keyed shuffle
    * (map-side-combined count), then a global top-k that Spark plans as
    * TakeOrderedAndProject (k rows per partition survive the partial sort —
    * no full global sort). Ties break lexicographically so the cut is
    * deterministic.
    */
  def topNgrams(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(split(normText(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
        .as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(20)

  val topNgramsOracle: String =
    s"""WITH toks AS (
       |  SELECT string_split(${normTextOracle("text")}, ' ') AS w FROM documents),
       |b AS (
       |  SELECT w[i] || ' ' || w[i + 1] AS ngram
       |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 1)) t(i)
       |  WHERE len(w) >= 2)
       |SELECT ngram, count(*) AS cnt FROM b
       |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin

  /** Train/eval contamination check — the benchmark-leakage audit every
    * published model needs: treating `source = 'src0'` as the eval set and
    * the rest as training data, score each eval doc by the fraction of its
    * distinct 5-token shingles that appear ANYWHERE in the training set
    * (asymmetric containment, not Jaccard — a short eval doc quoted inside
    * a long training doc must still score 1.0).
    *
    * Scale shape: the training shingle set is one linear distinct shuffle;
    * the probe is a shingle-keyed left join (eval side is the small one).
    * Shingles stay literal strings here for DuckDB-oracle parity; at 100 TB
    * they'd be xxhash64'd ([[shingleFingerprint]]'s argument) to keep the
    * shuffle narrow.
    */
  def contaminationCheck(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), col("source"),
        split(normText(col("text")), " ").as("toks"))
    containmentScores(
      docs.filter(col("source") === "src0"),
      docs.filter(col("source") =!= "src0"))
  }

  /** Core asymmetric-containment scorer over (doc_id, toks) frames; split
    * out so the eval-quoted-in-training ⇒ 1.0 property is testable with
    * train ⊇ eval (PipelineOpsSpec's self-containment test).
    */
  private[graft] def containmentScores(
      evalDocs: DataFrame, trainDocs: DataFrame): DataFrame = {
    def shingles(df: DataFrame) = df
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(toks) - 5), " +
          "i -> concat_ws(' ', slice(toks, i + 1, 5))))")).as("sh"))
    val evalSh = shingles(evalDocs)
    val trainSh = shingles(trainDocs)
      .select(col("sh")).distinct()
    val agg = evalSh
      .join(trainSh.select(col("sh"), lit(1).as("hit")), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).as("n_hits"))
    evalDocs.select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contamination",
        when(col("n_shingles") > 0,
          round(col("n_hits").cast("double") /
            col("n_shingles").cast("double"), 4)).otherwise(lit(0.0)))
      .withColumn("contaminated", col("contamination") > 0.5)
      .orderBy("doc_id")
  }

  val contaminationCheckOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(${normTextOracle("text")}, ' ') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source, array_to_string(w[i:i+4], ' ') AS sh
       |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 4)) t(i)
       |  WHERE len(w) >= 5),
       |train AS (SELECT DISTINCT sh FROM sh WHERE source <> 'src0'),
       |agg AS (
       |  SELECT e.doc_id, count(*) AS n_shingles, count(t.sh) AS n_hits
       |  FROM (SELECT doc_id, sh FROM sh WHERE source = 'src0') e
       |  LEFT JOIN train t USING (sh)
       |  GROUP BY e.doc_id)
       |SELECT d.doc_id,
       |       coalesce(n_shingles, 0) AS n_shingles,
       |       coalesce(n_hits, 0) AS n_hits,
       |       CASE WHEN coalesce(n_shingles, 0) > 0
       |            THEN round(CAST(n_hits AS DOUBLE) /
       |                       CAST(n_shingles AS DOUBLE), 4)
       |            ELSE 0.0 END AS contamination,
       |       (CASE WHEN coalesce(n_shingles, 0) > 0
       |             THEN round(CAST(n_hits AS DOUBLE) /
       |                        CAST(n_shingles AS DOUBLE), 4)
       |             ELSE 0.0 END) > 0.5 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
       |LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Sequence packing — the pretraining step that concatenates documents
    * into fixed-token-budget rows: docs are laid out per source in doc_id
    * order, each starting at its running token offset, and assigned to
    * pack `floor(offset / budget)` (offset packing: a doc may straddle its
    * pack boundary and continue into the next, the usual causal-LM layout
    * with cross-doc attention masking). Emits per-pack occupancy — the
    * padding-waste audit.
    *
    * Scale shape: one window cumsum partitioned by `source` and ONE keyed
    * aggregation. A whole source in one window partition is the honest
    * small-N form; at 100 TB the partition key becomes (source,
    * hash-shard) with per-shard offsets — same plan, bounded partitions.
    */
  def docPack(s: SparkSession, dir: String): DataFrame =
    docPack(s, dir, budget = 2048)

  /** As [[docPack]] with an explicit token budget. Small budgets force
    * boundary straddles at test scale — the oracle-benched sf0.01 corpus
    * fits one pack per source at 2048, so PipelineOpsSpec pins the
    * straddle/offset semantics against an independent recompute at
    * budget = 64.
    */
  def docPack(s: SparkSession, dir: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tokenCount(s, dir)
      .withColumn("offset",
        coalesce(sum(col("ws_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("offset") / budget))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "pack_id")
  }

  val docPackOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(${normTextOracle("text")}, '\\S+')) AS ws_tokens
       |  FROM documents),
       |placed AS (
       |  SELECT doc_id, source, ws_tokens,
       |         coalesce(sum(ws_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS "offset"
       |  FROM tok)
       |SELECT source, CAST(floor("offset" / 2048) AS BIGINT) AS pack_id,
       |       count(*) AS n_docs,
       |       CAST(sum(ws_tokens) AS BIGINT) AS pack_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM placed
       |GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin

  /** First merge iteration of BPE tokenizer training (Sennrich et al.,
    * "Neural Machine Translation of Rare Words with Subword Units", ACL
    * 2016): adjacent character-pair frequencies over the corpus, weighted
    * by word frequency — the statistic that picks the first merge rule.
    *
    * Scale shape: computed vocabulary-first. ONE keyed shuffle builds the
    * distinct word-frequency table (Zipf: orders of magnitude smaller than
    * the token stream), the pair explode runs over that table only, then
    * ONE map-side-combined count and a TakeOrderedAndProject top-k — the
    * full corpus is touched exactly once, narrowly.
    */
  def bpePairStats(s: SparkSession, dir: String): DataFrame =
    bpePairCounts(bpeWordFreq(s, dir))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(30)

  /** The distinct word-frequency table every BPE stage runs on (Zipf:
    * orders of magnitude smaller than the token stream — the full corpus
    * is touched exactly once, by this one keyed shuffle).
    */
  private[graft] def bpeWordFreq(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(explode(split(normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** Adjacent symbol-pair frequencies over a word-frequency table —
    * the statistic each BPE round ranks to pick its merge.
    */
  private[graft] def bpePairCounts(wf: DataFrame): DataFrame =
    wf.select(explode(expr(
        "transform(sequence(0, length(w) - 2), i -> substring(w, i + 1, 2))"))
        .as("pair"), col("f"))
      .groupBy("pair").agg(sum(col("f")).as("cnt"))

  /** Apply one learned merge (a 1-row `(pair, …)` frame broadcast into a
    * narrow leftmost-first `replace`) and drop words collapsed to a
    * single symbol — they can never contribute a pair again.
    */
  private[graft] def bpeApplyMerge(wf: DataFrame, top: DataFrame,
      sym: String): DataFrame =
    wf.crossJoin(broadcast(top.select(col("pair").as("mp"))))
      .select(expr(s"replace(w, mp, '$sym')").as("w"), col("f"))
      .filter(length(col("w")) >= 2)

  /** Reserved merge symbols: single chars absent from the normalized
    * (lowercased) corpus, one per applied merge — 'Þ'/'ß' are the r6-era
    * convention [[bpe2Merge]]/[[bpeEncode]] established; the rest extend
    * it for [[bpeIterate]]. `replace` with a fresh symbol is injective on
    * symbol-free strings, so distinct vocabulary words stay distinct and
    * no re-aggregation is needed between rounds.
    */
  private[graft] val BpeMergeSyms =
    // first 8 unchanged — the gate oracles (bpe_iterate/bpe_train CTE
    // unrolls, bpe_encode/bpe_2merge) embed them verbatim; the Cyrillic
    // block extends the budget to 64 applied merges for the depth-scaling
    // run (r15 — VERDICT r14 #4), same absent-from-the-normalized-corpus
    // contract. All 64 are distinct BMP chars (PipelineOpsSpec asserts),
    // so string comparisons rank identically in UTF-8 and UTF-16 orders
    Vector("Þ", "ß", "Æ", "Ø", "Œ", "Ð", "Ŋ", "Ħ") ++
      (0x0410 until 0x0448).map(_.toChar.toString)

  val bpePairStatsOracle: String =
    s"""WITH words AS (
       |  SELECT unnest(string_split(${normTextOracle("text")}, ' ')) AS w
       |  FROM documents),
       |wf AS (
       |  SELECT w, count(*) AS f FROM words WHERE len(w) >= 2 GROUP BY w),
       |pairs AS (
       |  SELECT w[i:i+1] AS pair, f
       |  FROM wf, LATERAL unnest(generate_series(1, len(w) - 1)) t(i))
       |SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
       |FROM pairs GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin

  /** Second BPE merge iteration — [[bpePairStats]] picks the first merge
    * rule; this applies it and recounts: the winning pair is replaced by a
    * single reserved symbol ('Þ' — absent from the corpus, asserted
    * implicitly by determinism of the counts) in every vocabulary word,
    * then adjacent-pair frequencies are recounted over the merged
    * vocabulary. `replace` is leftmost-first non-overlapping in BOTH
    * engines — exactly BPE's merge application order — so the iteration
    * is engine-reproducible without a tokenizer runtime.
    *
    * Scale shape: both iterations run on the distinct word-frequency
    * table (Zipf-small), never the token stream; the winning pair is a
    * 1-row broadcast into the narrow merge map.
    */
  def bpe2Merge(s: SparkSession, dir: String): DataFrame = {
    val wf = bpeWordFreq(s, dir)
    val top1 = bpePairCounts(wf)
      .orderBy(col("cnt").desc, col("pair")).limit(1)
    bpePairCounts(bpeApplyMerge(wf, top1, BpeMergeSyms.head))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(30)
  }

  val bpe2MergeOracle: String =
    s"""WITH words AS (
       |  SELECT unnest(string_split(${normTextOracle("text")}, ' ')) AS w
       |  FROM documents),
       |wf AS (
       |  SELECT w, count(*) AS f FROM words WHERE len(w) >= 2 GROUP BY w),
       |p1 AS (
       |  SELECT w[i:i+1] AS pair, f
       |  FROM wf, LATERAL unnest(generate_series(1, len(w) - 1)) t(i)),
       |c1 AS (SELECT pair, sum(f) AS cnt FROM p1 GROUP BY pair),
       |top1 AS (SELECT pair FROM c1 ORDER BY cnt DESC, pair LIMIT 1),
       |m2 AS (
       |  SELECT replace(w, (SELECT pair FROM top1), 'Þ') AS w, f FROM wf),
       |m2f AS (SELECT w, f FROM m2 WHERE len(w) >= 2),
       |p2 AS (
       |  SELECT w[i:i+1] AS pair, f
       |  FROM m2f, LATERAL unnest(generate_series(1, len(w) - 1)) t(i))
       |SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
       |FROM p2 GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin

  /** The N-merge BPE TRAINING DRIVER (r11 — VERDICT r10 #4): the full
    * learn loop in the [[SimilarityOps.kmeansIterate]] mold, of which
    * [[bpePairStats]] / [[bpe2Merge]] are the unrolled N=1/N=2 special
    * cases (they now share this file's round kernel). Each round ranks
    * adjacent-pair frequencies over the current vocabulary, RECORDS the
    * winning merge (the row emitted — the output is the merge TABLE, a
    * tokenizer's merges.txt with selection-time counts), then applies it
    * with the round's reserved symbol ([[BpeMergeSyms]]) and recounts. A
    * real tokenizer run is thousands of rounds; the driver takes N.
    *
    * Scale shape, per round: everything runs on the Zipf-small distinct
    * word-frequency table — ONE pair-keyed count + a 1-row TakeOrdered,
    * the merge a 1-row broadcast into a narrow `replace` map. The merged
    * vocabulary is `localCheckpoint`ed per round (the kmeansIterate
    * lineage discipline — round r's plan would otherwise embed TWO copies
    * of round r−1's, 2^N blowup), as is each 1-row winner (read twice:
    * output row + next round's broadcast). The corpus itself is touched
    * exactly once, by the word-frequency shuffle before round 1.
    *
    * Engine parity: `replace` is leftmost-first non-overlapping in both
    * engines — exactly BPE's merge application order — and ties rank
    * (cnt DESC, pair ASC) in both, so the N-round loop transliterates to
    * N CTE levels verbatim ([[bpeIterateOracleFor]]).
    */
  def bpeIterate(s: SparkSession, dir: String): DataFrame =
    bpeIterate(s, dir, rounds = 4)

  def bpeIterate(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= BpeMergeSyms.length + 1,
      s"rounds must be in [1, ${BpeMergeSyms.length + 1}] " +
        "(one reserved symbol per APPLIED merge; the last round only ranks)")
    var wf = bpeWordFreq(s, dir)
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val top = bpePairCounts(wf)
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .localCheckpoint()
      val row = top.select(lit(r).as("round"), col("pair"), col("cnt"))
      out = if (out == null) row else out.unionByName(row)
      if (r < rounds)
        wf = bpeApplyMerge(wf, top, BpeMergeSyms(r - 1)).localCheckpoint()
    }
    out.orderBy("round")
  }

  /** N CTE levels of count→rank→replace — the [[bpeIterate]] loop
    * restated in SQL, one `(c_r, t_r, wf_{r+1})` triple per round.
    */
  private[graft] def bpeIterateOracleFor(rounds: Int): String = {
    val levels = (1 to rounds).map { r =>
      val count =
        s"""c$r AS (
           |  SELECT w[i:i+1] AS pair, CAST(sum(f) AS BIGINT) AS cnt
           |  FROM wf$r, LATERAL unnest(generate_series(1, len(w) - 1)) t(i)
           |  GROUP BY pair),
           |t$r AS (SELECT pair, cnt FROM c$r ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
      val next =
        if (r < rounds)
          s""",
             |wf${r + 1} AS (
             |  SELECT w, f FROM (
             |    SELECT replace(w, (SELECT pair FROM t$r),
             |                   '${BpeMergeSyms(r - 1)}') AS w, f
             |    FROM wf$r)
             |  WHERE len(w) >= 2)""".stripMargin
        else ""
      count + next
    }.mkString(",\n")
    val picks = (1 to rounds)
      .map(r => s"SELECT $r AS round, pair, cnt FROM t$r")
      .mkString("\nUNION ALL ")
    s"""WITH words AS (
       |  SELECT unnest(string_split(${normTextOracle("text")}, ' ')) AS w
       |  FROM documents),
       |wf1 AS (
       |  SELECT w, count(*) AS f FROM words WHERE len(w) >= 2 GROUP BY w),
       |$levels
       |$picks
       |ORDER BY round""".stripMargin
  }

  val bpeIterateOracle: String = bpeIterateOracleFor(4)

  /** The gate-depth BPE TRAINING run (r14 — VERDICT r13 #3 closed at
    * depth): [[bpeIterate]] at rounds = 8, the full [[BpeMergeSyms]]
    * budget — 8 learned merge rules with selection-time counts, each
    * round value-pinned against the 8-level CTE-unrolled oracle. The
    * loop is the same audited kernel (`bpe_iterate` is its N=4 gate
    * twin; PipelineOpsSpec pins N-prefix stability, so the first 4 rows
    * here ARE `bpe_iterate`'s output row-for-row — merge-order
    * determinism across depths). Per-round cost is unchanged
    * (Zipf-small word table, 1-row broadcast merge); the corpus is still
    * touched exactly once.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeIterate(s, dir, rounds = 8)

  val bpeTrainOracle: String = bpeIterateOracleFor(8)

  /** BPE APPLY — the encode half of the learn→encode tokenizer loop
    * ([[bpePairStats]] / [[bpe2Merge]] are the learn half): the two
    * corpus-learned merges are applied to every word and the per-source
    * token-length budget reports the achieved compression — the number a
    * tokenizer-aware data pipeline actually schedules on (context-window
    * packing, cost estimates).
    *
    * Scale shape: learning reuses the word-frequency aggregate (one
    * token-keyed shuffle); both learned merges are 1-row broadcasts;
    * encoding is a NARROW per-doc map (higher-order `aggregate` over the
    * word array with two non-overlapping left-to-right `replace`s — the
    * identical primitive in DuckDB, so the whole encode is value-pinned);
    * the per-source rollup is one map-side-combined groupBy.
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        split(normText(col("text")), " ").as("ws"))
    val wf = docs.select(explode(col("ws")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))
    val top1 = wf
      .select(explode(expr(
        "transform(sequence(0, length(w) - 2), i -> substring(w, i + 1, 2))"))
        .as("pair"), col("f"))
      .groupBy("pair").agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(1)
      .select(col("pair").as("p1"))
    val top2 = wf.crossJoin(broadcast(top1))
      .select(expr("replace(w, p1, 'Þ')").as("w2"), col("f"))
      .filter(length(col("w2")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, length(w2) - 2), i -> substring(w2, i + 1, 2))"))
        .as("pair"), col("f"))
      .groupBy("pair").agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(1)
      .select(col("pair").as("p2"))
    docs.crossJoin(broadcast(top1)).crossJoin(broadcast(top2))
      .select(col("source"),
        expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))")
          .as("c_raw"),
        expr("aggregate(ws, 0L, (acc, w) -> acc + " +
          "length(replace(w, p1, 'Þ')))").as("c_m1"),
        expr("aggregate(ws, 0L, (acc, w) -> acc + " +
          "length(replace(replace(w, p1, 'Þ'), p2, 'ß')))").as("c_m2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("c_raw")).as("chars_raw"),
        sum(col("c_m1")).as("chars_after_m1"),
        sum(col("c_m2")).as("chars_after_m2"))
      .withColumn("compression",
        round(col("chars_after_m2") / col("chars_raw"), 6))
      .orderBy("source")
  }

  val bpeEncodeOracle: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source,
       |         string_split(${normTextOracle("text")}, ' ') AS ws
       |  FROM documents),
       |wf AS (
       |  SELECT w, count(*) AS f FROM (
       |    SELECT unnest(ws) AS w FROM docs) WHERE len(w) >= 2 GROUP BY w),
       |p1c AS (
       |  SELECT w[i:i+1] AS pair, sum(f) AS cnt
       |  FROM wf, LATERAL unnest(generate_series(1, len(w) - 1)) t(i)
       |  GROUP BY pair),
       |t1 AS (SELECT pair AS p1 FROM p1c ORDER BY cnt DESC, pair LIMIT 1),
       |m2 AS (
       |  SELECT replace(w, (SELECT p1 FROM t1), 'Þ') AS w, f FROM wf),
       |p2c AS (
       |  SELECT w[i:i+1] AS pair, sum(f) AS cnt
       |  FROM (SELECT w, f FROM m2 WHERE len(w) >= 2),
       |       LATERAL unnest(generate_series(1, len(w) - 1)) t(i)
       |  GROUP BY pair),
       |t2 AS (SELECT pair AS p2 FROM p2c ORDER BY cnt DESC, pair LIMIT 1),
       |enc AS (
       |  SELECT d.doc_id, d.source,
       |         coalesce(list_sum(list_transform(d.ws, w -> len(w))), 0)
       |           AS c_raw,
       |         coalesce(list_sum(list_transform(d.ws,
       |           w -> len(replace(w, t1.p1, 'Þ')))), 0) AS c_m1,
       |         coalesce(list_sum(list_transform(d.ws,
       |           w -> len(replace(replace(w, t1.p1, 'Þ'), t2.p2, 'ß')))),
       |           0) AS c_m2
       |  FROM docs d, t1, t2)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(c_raw) AS BIGINT) AS chars_raw,
       |       CAST(sum(c_m1) AS BIGINT) AS chars_after_m1,
       |       CAST(sum(c_m2) AS BIGINT) AS chars_after_m2,
       |       round(CAST(sum(c_m2) AS DOUBLE) / sum(c_raw), 6)
       |         AS compression
       |FROM enc GROUP BY source ORDER BY source""".stripMargin

  /** Corpus heavy hitters (words above 0.5% frequency) via the two-pass
    * Misra–Gries pattern: pass 1 proposes ≤ k candidates with the O(k)
    * mergeable [[graft.functions.MisraGriesCandidates]] Aggregator — no
    * shuffle of the distinct-token space, just k-entry maps merging
    * map-side; pass 2 recounts EXACTLY over the tiny broadcast candidate
    * list, so only candidate-matching rows reach the count shuffle. The
    * MG superset guarantee (every item above n/(k+1) survives any
    * reduce/merge order; k = 256 ≫ the 200 implied by the threshold)
    * makes the recount complete and the final answer deterministic —
    * hence ORACLE-CHECKABLE even though the candidate set itself is
    * merge-order-dependent. Completes the sketch family: KMV (distinct),
    * HLL/KLL (`cardinality_sketches`), MG (frequent items).
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val words = Tables(s, dir, "documents")
      .select(explode(split(normText(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val total = words.agg(count(lit(1)).cast("double").as("n"))
    val cands = words
      .agg(graft.functions.MisraGries.candidates(col("w"), 256).as("cands"))
      .select(explode(col("cands")).as("w"))
    words.join(broadcast(cands), "w")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") > col("n") / 200.0)
      .select(col("w"), col("cnt"))
      .orderBy(col("cnt").desc, col("w"))
  }

  val heavyHittersOracle: String =
    s"""WITH words AS (
       |  SELECT unnest(string_split(${normTextOracle("text")}, ' ')) AS w
       |  FROM documents),
       |w2 AS (SELECT w FROM words WHERE w <> ''),
       |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM w2)
       |SELECT w, count(*) AS cnt FROM w2
       |GROUP BY w HAVING count(*) > (SELECT n FROM tot) / 200.0
       |ORDER BY cnt DESC, w""".stripMargin

  /** [[heavyHitters]] GROUPED: Misra–Gries as a per-group aggregation —
    * one O(k) buffer PER SOURCE merging map-side (the per-shard/
    * per-language vocabulary-stats shape a corpus pipeline runs at
    * 100 TB), where the global form keeps a single buffer. Same two-pass
    * determinism argument: each group's candidate set is a superset of
    * its true >n_g/(k+1) hitters under any merge order (k = 128 ≫ the
    * 100 the per-group threshold implies), and the exact recount over
    * the broadcast (source, word) candidate pairs makes the final answer
    * oracle-checkable. Words above 1% of their OWN source's token count —
    * a per-stratum threshold, not the global one.
    */
  def heavyHittersBySource(s: SparkSession, dir: String): DataFrame = {
    val words = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(normText(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val tot = words.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("n"))
    val cands = words.groupBy(col("source"))
      .agg(graft.functions.MisraGries.candidates(col("w"), 128).as("cands"))
      .select(col("source"), explode(col("cands")).as("w"))
    words.join(broadcast(cands), Seq("source", "w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(tot), "source")
      .filter(col("cnt") > col("n") / 100.0)
      .select(col("source"), col("w"), col("cnt"))
      .orderBy(col("source"), col("cnt").desc, col("w"))
  }

  val heavyHittersBySourceOracle: String =
    s"""WITH words AS (
       |  SELECT source, unnest(string_split(${normTextOracle("text")}, ' ')) AS w
       |  FROM documents),
       |w2 AS (SELECT source, w FROM words WHERE w <> ''),
       |tot AS (
       |  SELECT source, CAST(count(*) AS DOUBLE) AS n FROM w2 GROUP BY source)
       |SELECT source, w, count(*) AS cnt
       |FROM w2 JOIN tot USING (source)
       |GROUP BY source, w, n HAVING count(*) > n / 100.0
       |ORDER BY source, cnt DESC, w""".stripMargin

  /** Per-document character-distribution Shannon entropy — the cheap
    * repetitive/degenerate-content signal (low bits/char ⇒ filler, mash,
    * or heavy repetition). Runs as ONE narrow map over the corpus via the
    * native [[graft.functions.expressions.CharEntropy]] expression; the
    * composed alternative explodes a row per character and shuffles twice
    * (that composition IS the DuckDB oracle, and the spec pins the native
    * node against a Spark-side explode recompute).
    */
  def charEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => bc, expression => be}
    Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), normText(col("text")).as("t"))
      .select(col("doc_id"), length(col("t")).as("n_chars"),
        round(bc(graft.functions.expressions.CharEntropy(be(col("t")))), 4)
          .as("entropy_bits"))
      .withColumn("degenerate", col("entropy_bits") < 3.0)
      .orderBy("doc_id")
  }

  val charEntropyOracle: String =
    s"""WITH chars AS (
       |  SELECT doc_id, unnest(regexp_extract_all(${normTextOracle("text")}, '.')) AS ch
       |  FROM documents),
       |cc AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
       |tot AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_chars FROM cc GROUP BY doc_id),
       |ent AS (
       |  SELECT cc.doc_id,
       |         round(sum(-(CAST(c AS DOUBLE) / n_chars)
       |               * log2(CAST(c AS DOUBLE) / n_chars)), 4) AS entropy_bits
       |  FROM cc JOIN tot USING (doc_id) GROUP BY cc.doc_id)
       |SELECT d.doc_id, coalesce(n_chars, 0) AS n_chars,
       |       coalesce(entropy_bits, 0.0) AS entropy_bits,
       |       coalesce(entropy_bits, 0.0) < 3.0 AS degenerate
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN tot USING (doc_id) LEFT JOIN ent USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Inverted index over the corpus: term → document frequency + a capped,
    * sorted posting list (lowest 20 doc_ids), restricted to terms appearing
    * in ≥ 5% of documents. The scale discipline is the CAP-BEFORE-COLLECT:
    * postings are ranked per term (one keyed window) and cut to 20 BEFORE
    * `collect_list`, so no task ever materializes an unbounded posting
    * array (a full index at 100 TB would write postings as partitioned
    * rows, not arrays). df threshold is relative (5% of a 1-row broadcast
    * count), so selectivity is scale-invariant.
    */
  def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    val words = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(split(normText(col("text")), " "))).as("term"))
      .filter(length(col("term")) >= 3)
    val docFreq = words.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Tables(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val postings = words
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .groupBy(col("term"))
      .agg(array_join(sort_array(collect_list(col("doc_id")))
        .cast("array<string>"), ",").as("postings"))
    docFreq.join(postings, "term")
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= lit(0.05) * col("n_docs"))
      .select(col("term"), col("df"), col("postings"))
      .orderBy(col("df").desc, col("term"))
  }

  val invertedIndexOracle: String =
    s"""WITH words AS (
       |  SELECT DISTINCT doc_id, term FROM (
       |    SELECT doc_id,
       |           unnest(string_split(${normTextOracle("text")}, ' ')) AS term
       |    FROM documents)
       |  WHERE len(term) >= 3),
       |df AS (SELECT term, count(*) AS df FROM words GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |ranked AS (
       |  SELECT term, doc_id,
       |         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
       |  FROM words),
       |post AS (
       |  SELECT term, array_to_string(list_sort(list(doc_id)), ',') AS postings
       |  FROM ranked WHERE rn <= 20 GROUP BY term)
       |SELECT term, df, postings
       |FROM df JOIN post USING (term), n
       |WHERE df >= 0.05 * n_docs
       |ORDER BY df DESC, term""".stripMargin

  /** Corpus-trained bigram language model scoring each document's own text
    * (add-one smoothing): the statistical "how typical of this corpus"
    * filter that catches boilerplate-free gibberish a rule filter misses.
    * Emits the 20 most SURPRISING docs (lowest mean log-probability; the
    * cut orders on the ROUNDED score for engine determinism).
    *
    * Scale shape: bigram extraction is one per-doc window (lead over token
    * position); model counts are two keyed aggregations with map-side
    * combine; scoring joins each bigram instance to its count — a linear
    * shuffle on the bigram key, skew (stop-word pairs) handled by AQE; the
    * vocabulary size attaches as a 1-row broadcast. Nothing is ever
    * collected driver-side.
    */
  def bigramLmScore(s: SparkSession, dir: String): DataFrame = {
    // doc_id is the lead window's partition key, so the window rides
    // this exchange
    val toks = Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"),
        posexplode(split(normText(col("text")), " ")).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = toks
      .withColumn("w2", lead(col("w"), 1).over(byDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w"), col("w2"))
    val bigramCounts = bigrams.groupBy(col("w"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val uniCounts = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = toks.agg(countDistinct(col("w")).as("v"))
    bigrams
      .join(bigramCounts, Seq("w", "w2"))
      .join(uniCounts, Seq("w"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c12") + lit(1.0)) / (col("c1") + col("v")))), 4)
          .as("avg_logp"))
      .orderBy(col("avg_logp"), col("doc_id"))
      .limit(20)
  }

  val bigramLmScoreOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, i AS pos, t[i] AS w
       |  FROM (SELECT doc_id, string_split(${normTextOracle("text")}, ' ') AS t
       |        FROM documents),
       |       LATERAL unnest(generate_series(1, len(t))) u(i)),
       |bg AS (
       |  SELECT doc_id, w,
       |         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM toks),
       |bg2 AS (SELECT doc_id, w, w2 FROM bg WHERE w2 IS NOT NULL),
       |bc AS (SELECT w, w2, count(*) AS c12 FROM bg2 GROUP BY w, w2),
       |uc AS (SELECT w, count(*) AS c1 FROM toks GROUP BY w),
       |v AS (SELECT count(DISTINCT w) AS v FROM toks)
       |SELECT doc_id, count(*) AS n_bigrams,
       |       round(avg(ln((c12 + 1.0) / (c1 + v))), 4) AS avg_logp
       |FROM bg2 JOIN bc USING (w, w2) JOIN uc USING (w), v
       |GROUP BY doc_id
       |ORDER BY avg_logp, doc_id LIMIT 20""".stripMargin

  /** Distribution-relative quality cut: percent_rank of a composite quality
    * score WITHIN each language, bottom decile flagged — the
    * "keep the best X% per language" policy (an absolute threshold would
    * gut low-resource languages). One shuffle on lang; rank windows
    * partition by lang so no global sort exists; ties are impossible
    * because doc_id breaks them, making percent_rank engine-deterministic.
    */
  def qualityPercentileCut(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), normText(col("text")).as("t"))
      .select(col("doc_id"), col("lang"),
        round(regexp_count(col("t"), lit("\\S+")).cast("double") *
          (lit(1.0) - regexp_count(col("t"), lit("[^a-z0-9 ]")).cast("double") /
            greatest(length(col("t")).cast("double"), lit(1.0))), 4)
          .as("score"))
    scored
      .withColumn("pr", round(percent_rank().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("score"), col("doc_id"))), 6))
      .withColumn("cut", col("pr") < 0.10)
      .orderBy("doc_id")
  }

  val qualityPercentileCutOracle: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |         round(CAST(len(regexp_extract_all(t, '\\S+')) AS DOUBLE) *
       |               (1.0 - CAST(len(regexp_extract_all(t, '[^a-z0-9 ]')) AS DOUBLE) /
       |                      greatest(CAST(length(t) AS DOUBLE), 1.0)), 4) AS score
       |  FROM (SELECT doc_id, lang, ${normTextOracle("text")} AS t FROM documents))
       |SELECT doc_id, lang, score,
       |       round(percent_rank() OVER (PARTITION BY lang
       |         ORDER BY score, doc_id), 6) AS pr,
       |       round(percent_rank() OVER (PARTITION BY lang
       |         ORDER BY score, doc_id), 6) < 0.10 AS cut
       |FROM scored ORDER BY doc_id""".stripMargin

  /** Language-ID confusion matrix: predicted vs ground-truth label counts
    * with per-truth recall — the accuracy audit that belongs next to any
    * heuristic classifier ([[langId]]). A 25-cell aggregate over the
    * narrow langId map; the per-truth total is a window over that tiny
    * aggregate, never over the corpus.
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame = {
    val cells = langId(s, dir)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("recall", round(col("n") /
        sum(col("n")).over(Window.partitionBy(col("lang"))), 4))
      .orderBy("lang", "lang_pred")
  }

  val langConfusionOracle: String =
    s"""WITH cells AS (
       |  SELECT lang, lang_pred, count(*) AS n
       |  FROM (${langIdOracle.replace("ORDER BY doc_id", "")})
       |  GROUP BY lang, lang_pred)
       |SELECT lang, lang_pred, n,
       |       round(n / sum(n) OVER (PARTITION BY lang), 4) AS recall
       |FROM cells ORDER BY lang, lang_pred""".stripMargin

  /** Zipf's-law fit of the corpus token-frequency curve: regression of
    * ln(freq) on ln(rank) over the top-1000 whitespace tokens — the
    * sanity check every corpus report carries (natural text slopes near
    * −1; synthetic or template-heavy corpora drift). Token counting is a
    * keyed aggregate with map-side partials; the top-1000 cut is
    * `orderBy + limit` — TakeOrderedAndProject, a partial top-1000 on
    * every partition then a 1000-row merge, NEVER a window over the full
    * vocabulary (web-scale vocab is 10⁸+; an unpartitioned `row_number`
    * there funnels it through one task). Rank is re-derived by the same
    * deterministic (freq desc, token) order WITHIN the 1000 surviving
    * rows, so both engines rank identically; the regression aggregates
    * (`regr_slope`/`regr_intercept`/`regr_r2`) run over 1000 rows.
    */
  def tokenZipf(s: SparkSession, dir: String): DataFrame = {
    val freqs = Tables(s, dir, "documents")
      .select(explode(split(normText(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val top1000 = freqs
      .orderBy(col("freq").desc, col("tok"))
      .limit(1000)
    val ranked = top1000
      .withColumn("rank", row_number().over(
        // input is the 1000-row limit result — bounded, deliberate
        Window.orderBy(col("freq").desc, col("tok"))))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      round(regr_slope(log(col("freq")), log(col("rank"))), 4).as("zipf_slope"),
      round(regr_intercept(log(col("freq")), log(col("rank"))), 4)
        .as("zipf_intercept"),
      round(regr_r2(log(col("freq")), log(col("rank"))), 4).as("r2"))
  }

  val tokenZipfOracle: String =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(t, '\\S+')) AS tok
       |  FROM (SELECT ${normTextOracle("text")} AS t FROM documents)),
       |freqs AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
       |ranked AS (
       |  SELECT freq,
       |         row_number() OVER (ORDER BY freq DESC, tok) AS rank
       |  FROM freqs QUALIFY rank <= 1000)
       |SELECT count(*) AS n_terms,
       |       round(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
       |       round(regr_intercept(ln(freq), ln(rank)), 4) AS zipf_intercept,
       |       round(regr_r2(ln(freq), ln(rank)), 4) AS r2
       |FROM ranked""".stripMargin

  /** Mutual information + entropies of the (lang, source) pair — the
    * information-theoretic dependence profile between two categorical
    * columns ("does source determine language?"), the signal behind
    * corpus-mixture design and leakage checks between sampling strata.
    * MI in nats with marginal entropies and the min-entropy-normalized
    * coefficient (NMI ∈ [0,1]).
    *
    * Scale shape: ONE (lang, source) groupBy reduces the corpus to L×S
    * rows (map-side combined); marginals and totals are re-aggregations
    * of that tiny table, attached by broadcast; every log term is
    * computed on exact integer counts, so the only float work happens on
    * L×S rows and the result rounds to 6 (the cross-engine accumulation
    * damping the vector ops use).
    */
  def mutualInformation(s: SparkSession, dir: String): DataFrame = {
    val joint = Tables(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_ls"))
    val total = joint.agg(sum(col("n_ls")).as("n"),
      count(lit(1)).as("n_cells"))
    val langM = joint.groupBy(col("lang")).agg(sum(col("n_ls")).as("n_l"))
    val srcM = joint.groupBy(col("source")).agg(sum(col("n_ls")).as("n_s"))
    val mi = joint
      .join(broadcast(langM), "lang")
      .join(broadcast(srcM), "source")
      .crossJoin(broadcast(total))
      .agg(sum((col("n_ls") / col("n")) *
        log((col("n_ls") * col("n")) / (col("n_l") * col("n_s"))))
        .as("mi"))
    val hl = langM.crossJoin(broadcast(total))
      .agg((-sum((col("n_l") / col("n")) * log(col("n_l") / col("n"))))
        .as("h_lang"))
    val hs = srcM.crossJoin(broadcast(total))
      .agg((-sum((col("n_s") / col("n")) * log(col("n_s") / col("n"))))
        .as("h_source"))
    total.crossJoin(broadcast(mi)).crossJoin(broadcast(hl))
      .crossJoin(broadcast(hs))
      .select(col("n").as("n_docs"), col("n_cells"),
        round(col("mi"), 6).as("mi_nats"),
        round(col("h_lang"), 6).as("h_lang_nats"),
        round(col("h_source"), 6).as("h_source_nats"),
        round(col("mi") / least(col("h_lang"), col("h_source")), 6)
          .as("nmi"))
  }

  val mutualInformationOracle: String =
    """WITH joint AS (
      |  SELECT lang, source, count(*) AS n_ls FROM documents GROUP BY 1, 2),
      |tot AS (SELECT sum(n_ls) AS n, count(*) AS n_cells FROM joint),
      |lm AS (SELECT lang, sum(n_ls) AS n_l FROM joint GROUP BY lang),
      |sm AS (SELECT source, sum(n_ls) AS n_s FROM joint GROUP BY source),
      |mi AS (
      |  SELECT sum((j.n_ls / t.n) * ln((j.n_ls * t.n) / (l.n_l * s.n_s)))
      |           AS mi
      |  FROM joint j JOIN lm l USING (lang) JOIN sm s USING (source),
      |       tot t),
      |hl AS (SELECT -sum((n_l / t.n) * ln(n_l / t.n)) AS h_lang
      |       FROM lm, tot t),
      |hs AS (SELECT -sum((n_s / t.n) * ln(n_s / t.n)) AS h_source
      |       FROM sm, tot t)
      |SELECT CAST(t.n AS BIGINT) AS n_docs, t.n_cells,
      |       round(mi.mi, 6) AS mi_nats,
      |       round(hl.h_lang, 6) AS h_lang_nats,
      |       round(hs.h_source, 6) AS h_source_nats,
      |       round(mi.mi / least(hl.h_lang, hs.h_source), 6) AS nmi
      |FROM tot t, mi, hl, hs""".stripMargin

  /** Fixed-size overlapping chunking — the context-window prep step of
    * every RAG/pretraining pipeline: 64-token windows at stride 48
    * (16-token overlap). Start positions are `1, 49, 97, …` up to
    * `n − 16`, so the final (possibly short) chunk always reaches the last
    * token and no chunk is a strict suffix of its predecessor; a doc
    * shorter than one window yields exactly one chunk. Entirely narrow —
    * `sequence` + `posexplode` + `slice`, no shuffle except the output
    * sort — and embarrassingly parallel at any scale. Chunk text is
    * emitted as its md5 (value-checkable without megabytes of output);
    * `chunk_idx` is derived arithmetically from `start` so both engines
    * agree without a window function.
    */
  def docChunk(s: SparkSession, dir: String): DataFrame = {
    val chunkLen = 64; val stride = 48
    Tables(s, dir, "documents")
      .select(col("doc_id"), split(normText(col("text")), " ").as("tokens"))
      .select(col("doc_id"), col("tokens"),
        explode(sequence(lit(1),
          greatest(lit(1), size(col("tokens")) - lit(chunkLen - stride)),
          lit(stride))).as("start"))
      .select(col("doc_id"),
        expr(s"CAST((start - 1) DIV $stride + 1 AS INT)").as("chunk_idx"),
        col("start"),
        size(slice(col("tokens"), col("start"), lit(chunkLen))).as("n_tok"),
        md5(concat_ws(" ", slice(col("tokens"), col("start"), lit(chunkLen)))
          .cast("binary")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  val docChunkOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(${normTextOracle("text")}, ' ') AS tokens
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, tokens, CAST(u.s AS INTEGER) AS start
       |  FROM toks,
       |       LATERAL unnest(generate_series(1, greatest(1, len(tokens) - 16), 48)) u(s))
       |SELECT doc_id, CAST((start - 1) // 48 + 1 AS INTEGER) AS chunk_idx,
       |       start,
       |       CAST(len(tokens[start:start+63]) AS INTEGER) AS n_tok,
       |       md5(array_to_string(tokens[start:start+63], ' ')) AS chunk_hash
       |FROM st ORDER BY doc_id, chunk_idx""".stripMargin

  /** Per-source quantile normalization of document length — the standard
    * move when mixing heterogeneous corpora: a raw cutoff like
    * "n_chars > 300" means different things in different sources, so each
    * doc gets its within-source quantile (`cume_dist`: fraction of the
    * source at or below it) and downstream curation thresholds become
    * source-fair. The window is PARTITIONED by source — per-partition
    * sort, never a global funnel (contrast the banned unpartitioned-window
    * class) — and both engines share the exact cume_dist tie semantics
    * (ties get the count of all their peers), so no hash-sensitive
    * rounding games are needed beyond the usual round(6).
    */
  def quantileNormalize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(cume_dist().over(w), 6).as("q"))
      .orderBy("doc_id")
  }

  val quantileNormalizeOracle: String =
    """SELECT doc_id, source, n_chars,
      |       round(cume_dist() OVER (PARTITION BY source ORDER BY n_chars), 6) AS q
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-language tokenizer-fertility profile — the metric a tokenizer
    * choice is graded on per language (Rust/BPE papers call it fertility:
    * subword tokens per word; ~1 = vocabulary fits the language, ≫1 = the
    * language is being spelled out): for each lang, BPE-ish tokens per
    * whitespace word and chars per BPE-ish token (the compression ratio
    * that sets context-window cost). A multilingual budget planner reads
    * per-lang token costs off this table before converting document
    * counts into training tokens.
    *
    * Scale shape: the token counting is [[tokenCount]]'s one narrow
    * regexp pass; this adds a doc_id-keyed join to lang and ONE
    * map-side-combined per-lang aggregate. Ratios computed from exact
    * integer sums, 4-rounded identically in both engines.
    */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    tokenCount(s, dir)
      .join(Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).cast("long").as("ws_tokens"),
        sum(col("bpe_ish_tokens")).cast("long").as("bpe_tokens"),
        round(sum(col("bpe_ish_tokens")).cast("double") /
          sum(col("ws_tokens")), 4).as("fertility"),
        round(sum(col("n_chars")).cast("double") /
          sum(col("bpe_ish_tokens")), 4).as("chars_per_token"))
      .orderBy("lang")

  val tokenizerFertilityOracle: String =
    s"""SELECT lang, count(*) AS n_docs,
       |       CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
       |       CAST(sum(bpe_ish_tokens) AS BIGINT) AS bpe_tokens,
       |       round(CAST(sum(bpe_ish_tokens) AS DOUBLE) / sum(ws_tokens), 4)
       |         AS fertility,
       |       round(CAST(sum(n_chars) AS DOUBLE) / sum(bpe_ish_tokens), 4)
       |         AS chars_per_token
       |FROM (${tokenCountOracle})
       |JOIN (SELECT doc_id, lang, n_chars FROM documents) USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — the corpus-composition distance matrix behind data-
    * mixing decisions (Lin 1991; the Pile's §4 "how different are my
    * sources" analysis): two sources with near-zero JSD are redundant in a
    * mixture, a high-JSD pair genuinely diversifies it. Distributions are
    * restricted to the corpus-wide top-200 words (the df-cap discipline:
    * a bounded, broadcastable support) and renormalized within it; JSD =
    * H((p+q)/2) − (H(p)+H(q))/2, symmetric and bounded by ln 2, with
    * 0·ln 0 = 0. `n_shared` counts support overlap inside the top-200.
    *
    * Scale shape: one corpus token pass into a (source, word) count
    * (map-side combined); the dense source×top-200 grid and everything
    * after are bounded by |sources|²·200 — never corpus-sized. The pair
    * join is word-keyed, so at thousands of sources it shuffles on the
    * 200-word key, each word contributing its |sources|² block in
    * parallel. Shares 6-rounded BEFORE the JSD terms, so both engines
    * sum identical values.
    */
  def sourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(normText(col("text")), " ")).as("w"))
    val top = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(200)
      .select(col("w"))
    // ≤ |sources|×200 rows — materialized so the totals and the dense
    // grid read one corpus scan, and the grid again so the a/b self-join
    // doesn't re-plan it twice (construction-time jobs, ClusterOps
    // discipline)
    val sw = toks.join(broadcast(top), "w")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val st = sw.groupBy(col("source")).agg(sum(col("cnt")).as("n_s"))
    val grid = st.crossJoin(broadcast(top))
      .join(sw, Seq("source", "w"), "left")
      .na.fill(0, Seq("cnt"))
      .select(col("source"), col("w"),
        round(col("cnt") / col("n_s"), 6).as("p"))
      .localCheckpoint()
    val pairs = grid.as("a").join(grid.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.p").as("p"), col("b.p").as("q"))
    def xlnx(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(c > 0, c * log(c)).otherwise(lit(0.0))
    pairs.groupBy(col("source_a"), col("source_b"))
      .agg(
        sum(-xlnx((col("p") + col("q")) / 2) +
          (xlnx(col("p")) + xlnx(col("q"))) / 2).as("jsd"),
        sum(when(col("p") > 0 && col("q") > 0, 1).otherwise(0))
          .as("n_shared"))
      .select(col("source_a"), col("source_b"),
        round(col("jsd"), 6).as("jsd_nats"),
        round(col("jsd") / log(lit(2.0)), 4).as("jsd_norm"),
        col("n_shared"))
      .orderBy("source_a", "source_b")
  }

  val sourceDivergenceOracle: String = {
    def xlnx(e: String) = s"CASE WHEN $e > 0 THEN ($e) * ln($e) ELSE 0 END"
    s"""WITH toks AS (
       |  SELECT source,
       |         unnest(string_split(${normTextOracle("text")}, ' ')) AS w
       |  FROM documents),
       |top AS (
       |  SELECT w FROM (SELECT w, count(*) AS cw FROM toks GROUP BY w)
       |  ORDER BY cw DESC, w LIMIT 200),
       |sw AS (SELECT source, w, count(*) AS cnt
       |       FROM toks JOIN top USING (w) GROUP BY source, w),
       |st AS (SELECT source, sum(cnt) AS n_s FROM sw GROUP BY source),
       |grid AS (
       |  SELECT st.source, top.w,
       |         round(coalesce(sw.cnt, 0) / st.n_s, 6) AS p
       |  FROM st CROSS JOIN top
       |  LEFT JOIN sw ON sw.source = st.source AND sw.w = top.w),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b, a.p AS p,
       |         b.p AS q
       |  FROM grid a JOIN grid b
       |    ON a.w = b.w AND a.source < b.source),
       |agg AS (
       |  SELECT source_a, source_b,
       |         sum(-${xlnx("(p + q) / 2")} +
       |             (${xlnx("p")} + ${xlnx("q")}) / 2) AS jsd,
       |         CAST(sum(CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_shared
       |  FROM pairs GROUP BY source_a, source_b)
       |SELECT source_a, source_b, round(jsd, 6) AS jsd_nats,
       |       round(jsd / ln(2.0), 4) AS jsd_norm, n_shared
       |FROM agg ORDER BY source_a, source_b""".stripMargin
  }

  /** Pointwise mutual information over token pairs within a 2-token
    * forward window (Church & Hanks, CL 1990 — the association measure
    * under every co-occurrence embedding and collocation extractor):
    * pmi(w1,w2) = ln(p(w1,w2) / (p(w1)·p(w2))) with pair probability
    * from the skip-window stream and marginals from the unigram stream.
    * High-PMI pairs are collocations (tokens that co-occur far above
    * chance) — the lexical structure a tokenizer/phrase-merge pass feeds
    * on. Top-20 by rounded PMI with c12 ≥ 5 (the standard sparse-count
    * guard: a 1-count pair of two rare words maxes the raw score).
    *
    * Scale shape: ONE doc-keyed window shuffle produces both forward
    * leads (the [[graft.ops.CurationOps]] bigram discipline); pair and
    * unigram counts are vocabulary-bounded keyed aggregates; the two
    * 1-row totals attach as broadcast cross joins; the top-20 cut is
    * TakeOrderedAndProject on the bounded vocab² (really: observed-pair)
    * table. PMI rounds to 4 BEFORE the ranking (cross-engine order).
    */
  def tokenPmi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(normText(col("text")), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = toks
      .withColumn("n1", lead(col("w"), 1).over(byDoc))
      .withColumn("n2", lead(col("w"), 2).over(byDoc))
      .select(col("w"), explode(array(col("n1"), col("n2"))).as("w2"))
      .filter(col("w2").isNotNull)
    val c12 = pairs.groupBy(col("w"), col("w2")).agg(count(lit(1)).as("c12"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val tot = toks.agg(count(lit(1)).as("nt"))
      .crossJoin(broadcast(pairs.agg(count(lit(1)).as("np"))))
    c12.join(uni, "w")
      .join(uni.select(col("w").as("w2"), col("c1").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .filter(col("c12") >= 5)
      .select(col("w").as("w1"), col("w2"), col("c12"),
        round(log(col("c12") * col("nt").cast("double") * col("nt") /
          (col("np") * col("c1") * col("c2"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val tokenPmiOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, i AS pos, t[i] AS w
       |  FROM (SELECT doc_id, string_split(${normTextOracle("text")}, ' ')
       |          AS t FROM documents),
       |       LATERAL unnest(generate_series(1, len(t))) u(i)
       |  WHERE len(t[i]) > 0),
       |leads AS (
       |  SELECT w,
       |         lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
       |         lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2
       |  FROM toks),
       |pairs AS (
       |  SELECT w, n1 AS w2 FROM leads WHERE n1 IS NOT NULL
       |  UNION ALL SELECT w, n2 FROM leads WHERE n2 IS NOT NULL),
       |c12 AS (SELECT w, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
       |uni AS (SELECT w, count(*) AS c1 FROM toks GROUP BY w),
       |tot AS (SELECT (SELECT count(*) FROM toks) AS nt,
       |               (SELECT count(*) FROM pairs) AS np)
       |SELECT c.w AS w1, c.w2, c.c12,
       |       round(ln(c.c12 * CAST(t.nt AS DOUBLE) * t.nt /
       |         (t.np * u1.c1 * u2.c1)), 4) AS pmi
       |FROM c12 c JOIN uni u1 ON u1.w = c.w
       |JOIN uni u2 ON u2.w = c.w2, tot t
       |WHERE c.c12 >= 5
       |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  /** Vocabulary coverage curve — the tokenizer-budget planning table
    * (how big must the vocab be before OOV stops hurting): for top-N
    * type budgets N ∈ {10, 100, 1000}, the share of corpus token
    * OCCURRENCES covered by the N most frequent types. The complement of
    * [[tokenZipf]] (which fits the frequency law; this integrates it)
    * and the number a BPE vocab size is sanity-checked against.
    *
    * Scale shape: one keyed type-frequency aggregate, ONE top-1000
    * TakeOrderedAndProject cut, and the rank window sits on that
    * 1000-row bounded result serving all three budgets; the corpus
    * total attaches as a 1-row broadcast. No vocabulary-sized window.
    */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqs = Tables(s, dir, "documents")
      .select(explode(split(normText(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val total = freqs.agg(sum(col("freq")).as("total"),
      count(lit(1)).as("n_types"))
    val ranked = freqs.orderBy(col("freq").desc, col("tok")).limit(1000)
      .withColumn("rank", row_number().over(
        // input is the 1000-row limit result — bounded, deliberate
        Window.orderBy(col("freq").desc, col("tok"))))
    val budgets = s.range(0, 1)
      .select(explode(array(lit(10), lit(100), lit(1000))).as("vocab_size"))
    ranked.crossJoin(broadcast(budgets))
      .filter(col("rank") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(sum(col("freq")).as("covered_tokens"),
        count(lit(1)).as("n_types_used"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size"), col("n_types_used"), col("n_types"),
        col("covered_tokens"), col("total"),
        round(col("covered_tokens").cast("double") / col("total"), 6)
          .as("coverage"))
      .orderBy("vocab_size")
  }

  val vocabCoverageOracle: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(${normTextOracle("text")}, ' ')) AS tok
       |  FROM documents),
       |freqs AS (
       |  SELECT tok, count(*) AS freq FROM toks
       |  WHERE len(tok) > 0 GROUP BY tok),
       |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total,
       |               count(*) AS n_types FROM freqs),
       |ranked AS (
       |  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
       |  FROM freqs QUALIFY rank <= 1000),
       |budgets AS (SELECT unnest([10, 100, 1000]) AS vocab_size)
       |SELECT b.vocab_size,
       |       count(*) AS n_types_used, t.n_types,
       |       CAST(sum(r.freq) AS BIGINT) AS covered_tokens, t.total,
       |       round(CAST(sum(r.freq) AS DOUBLE) / t.total, 6) AS coverage
       |FROM ranked r JOIN budgets b ON r.rank <= b.vocab_size, tot t
       |GROUP BY b.vocab_size, t.n_types, t.total
       |ORDER BY b.vocab_size""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vocab_coverage" -> (vocabCoverage _),
    "token_pmi" -> (tokenPmi _),
    "tokenizer_fertility" -> (tokenizerFertility _),
    "source_divergence" -> (sourceDivergence _),
    "doc_chunk" -> (docChunk _),
    "quantile_normalize" -> (quantileNormalize _),
    "token_zipf" -> (tokenZipf _),
    "lang_confusion" -> (langConfusion _),
    "inverted_index" -> (invertedIndex _),
    "bigram_lm_score" -> (bigramLmScore _),
    "quality_percentile_cut" -> (qualityPercentileCut _),
    "bpe_pair_stats" -> (bpePairStats _),
    "bpe_2merge" -> (bpe2Merge _),
    "bpe_iterate" -> ((s: SparkSession, dir: String) => bpeIterate(s, dir)),
    "bpe_train" -> (bpeTrain _),
    "heavy_hitters" -> (heavyHitters _),
    "heavy_hitters_by_source" -> (heavyHittersBySource _),
    "char_entropy" -> (charEntropy _),
    "doc_pack" -> (docPack _),
    "lang_id" -> (langId _),
    "text_quality" -> (textQuality _),
    "gopher_rules" -> (gopherRules _),
    "token_count" -> (tokenCount _),
    "token_stats" -> (tokenStats _),
    "doc_fingerprint" -> (docFingerprint _),
    "shingle_fingerprint" -> (shingleFingerprint _),
    "text_repetition" -> (textRepetition _),
    "pii_redact" -> (piiRedact _),
    "top_ngrams" -> (topNgrams _),
    "contamination_check" -> (contaminationCheck _),
    "mutual_information" -> (mutualInformation _),
    "bpe_encode" -> (bpeEncode _))

  val oracles: Map[String, String] = Map(
    "vocab_coverage" -> vocabCoverageOracle,
    "token_pmi" -> tokenPmiOracle,
    "tokenizer_fertility" -> tokenizerFertilityOracle,
    "source_divergence" -> sourceDivergenceOracle,
    "doc_chunk" -> docChunkOracle,
    "quantile_normalize" -> quantileNormalizeOracle,
    "token_zipf" -> tokenZipfOracle,
    "lang_confusion" -> langConfusionOracle,
    "inverted_index" -> invertedIndexOracle,
    "bigram_lm_score" -> bigramLmScoreOracle,
    "quality_percentile_cut" -> qualityPercentileCutOracle,
    "bpe_pair_stats" -> bpePairStatsOracle,
    "bpe_2merge" -> bpe2MergeOracle,
    "bpe_iterate" -> bpeIterateOracle,
    "bpe_train" -> bpeTrainOracle,
    "heavy_hitters" -> heavyHittersOracle,
    "heavy_hitters_by_source" -> heavyHittersBySourceOracle,
    "char_entropy" -> charEntropyOracle,
    "doc_pack" -> docPackOracle,
    "lang_id" -> langIdOracle,
    "text_quality" -> textQualityOracle,
    "gopher_rules" -> gopherRulesOracle,
    "token_count" -> tokenCountOracle,
    "token_stats" -> tokenStatsOracle,
    "doc_fingerprint" -> docFingerprintOracle,
    "shingle_fingerprint" -> shingleFingerprintOracle,
    "text_repetition" -> textRepetitionOracle,
    "pii_redact" -> piiRedactOracle,
    "top_ngrams" -> topNgramsOracle,
    "contamination_check" -> contaminationCheckOracle,
    "mutual_information" -> mutualInformationOracle,
    "bpe_encode" -> bpeEncodeOracle)
}
