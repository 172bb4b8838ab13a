package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-in-the-loop corpus operators: training a (tiny) model INSIDE the
  * engine, the way a large-scale data pipeline trains quality classifiers
  * over its own corpus (the reference has no analog; this extends SURVEY.md
  * §7.5's text-quality family from scoring heuristics to a trained scorer).
  *
  * The kernel is batch gradient descent as a KEYLESS AGGREGATE: one full
  * pass per iteration computing `avg(residual · feature)` per weight — a
  * 1-row result regardless of corpus size. The weight vector rides between
  * iterations as a 1-row broadcast (the [[AnalyticsOps.equidepthHistogram]]
  * scalar-broadcast discipline), so nothing ever collects to the driver and
  * each iteration is exactly one pruned columnar scan + one partial-agg
  * shuffle of 32 rows. At 100 TB the cost is N_iter corpus scans — the
  * textbook distributed-GD profile (compute-bound map, negligible shuffle).
  *
  * Determinism discipline (the [[SimilarityOps.kmeans2Step]] precedent):
  * weights are rounded to 6 decimals at each iteration boundary so both
  * engines chain from IDENTICAL intermediates, and losses to 4.
  */
object ModelOps {

  private val eta = 0.1 // learning rate; 2·η·avg(…) folds the loss' 2x

  /** Two unrolled batch-GD iterations of least-squares linear regression
    * predicting mean token length from (chars/1000, tokens/100) document
    * features. Output: one row per iteration with the post-step weights and
    * the pre-step loss, so the oracle pins BOTH the gradient math and the
    * loss trajectory (loss must be non-increasing — `ModelOpsSpec`).
    */
  /** The ONE featurization both training and scoring read — written once
    * so the scorer can never silently drift from the features the weights
    * were trained on (review r6 finding).
    */
  private def features(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      col("source"),
      (col("n_chars").cast("double") / 1000.0).as("x1"),
      (size(split(col("text"), " ")).cast("double") / 100.0).as("x2"),
      (col("n_chars").cast("double") /
        size(split(col("text"), " ")).cast("double")).as("y"))

  def linreg2Step(s: SparkSession, dir: String): DataFrame = {
    val f = features(s, dir).drop("source")

    def step(iter: Int, b: Column, w1: Column, w2: Column)
        (src: DataFrame): DataFrame = {
      val e = b + w1 * col("x1") + w2 * col("x2") - col("y")
      src.agg(
        round(first(b) - lit(2 * eta) * avg(e), 6).as("b"),
        round(first(w1) - lit(2 * eta) * avg(e * col("x1")), 6).as("w1"),
        round(first(w2) - lit(2 * eta) * avg(e * col("x2")), 6).as("w2"),
        round(avg(e * e), 4).as("loss_before"))
        .select(lit(iter).as("iter"), col("b"), col("w1"), col("w2"),
          col("loss_before"))
    }

    val s1 = step(1, lit(0.0), lit(0.0), lit(0.0))(f)
    val s2 = step(2, col("b1"), col("w11"), col("w21"))(
      f.crossJoin(broadcast(s1.select(
        col("b").as("b1"), col("w1").as("w11"), col("w2").as("w21")))))
    s1.unionAll(s2).orderBy("iter")
  }

  val linreg2StepOracle: String =
    """WITH f AS (
      |  SELECT CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
      |         CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS y
      |  FROM documents),
      |s1 AS (
      |  SELECT round(0.0 - 0.2 * avg(0.0 - y), 6) AS b,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x1), 6) AS w1,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x2), 6) AS w2,
      |         round(avg((0.0 - y) * (0.0 - y)), 4) AS loss_before
      |  FROM f),
      |s2 AS (
      |  SELECT round(any_value(s1.b)
      |           - 0.2 * avg(s1.b + s1.w1 * x1 + s1.w2 * x2 - y), 6) AS b,
      |         round(any_value(s1.w1)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x1), 6)
      |           AS w1,
      |         round(any_value(s1.w2)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x2), 6)
      |           AS w2,
      |         round(avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y)
      |           * (s1.b + s1.w1 * x1 + s1.w2 * x2 - y)), 4) AS loss_before
      |  FROM f, s1)
      |SELECT 1 AS iter, * FROM s1
      |UNION ALL SELECT 2 AS iter, * FROM s2
      |ORDER BY iter""".stripMargin

  /** The trained scorer APPLIED: score every document with the 2-step
    * weights (a 1-row broadcast into a narrow codegen'd map — zero extra
    * shuffles beyond the training aggregates) and report the per-source
    * quality profile: mean prediction, mean absolute residual, and the
    * share of documents whose token length the model over-predicts by >20%.
    * This is the quality-classifier deployment shape: train once, score the
    * corpus inline, aggregate by slice for curation decisions.
    */
  def qualityModelScore(s: SparkSession, dir: String): DataFrame = {
    val w = linreg2Step(s, dir).filter(col("iter") === 2)
      .select(col("b"), col("w1"), col("w2"))
    features(s, dir)
      .crossJoin(broadcast(w))
      .withColumn("pred", col("b") + col("w1") * col("x1") +
        col("w2") * col("x2"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("pred")), 4).as("mean_pred"),
        round(avg(abs(col("pred") - col("y"))), 4).as("mean_abs_err"),
        count(when(col("pred") > lit(1.2) * col("y"), 1))
          .as("n_overpredicted"))
      .orderBy("source")
  }

  val qualityModelScoreOracle: String =
    """WITH f AS (
      |  SELECT source,
      |         CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
      |         CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS y
      |  FROM documents),
      |s1 AS (
      |  SELECT round(0.0 - 0.2 * avg(0.0 - y), 6) AS b,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x1), 6) AS w1,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x2), 6) AS w2
      |  FROM f),
      |s2 AS (
      |  SELECT round(any_value(s1.b)
      |           - 0.2 * avg(s1.b + s1.w1 * x1 + s1.w2 * x2 - y), 6) AS b,
      |         round(any_value(s1.w1)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x1), 6)
      |           AS w1,
      |         round(any_value(s1.w2)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x2), 6)
      |           AS w2
      |  FROM f, s1),
      |scored AS (
      |  SELECT f.source, s2.b + s2.w1 * f.x1 + s2.w2 * f.x2 AS pred, f.y
      |  FROM f, s2)
      |SELECT source, count(*) AS n_docs,
      |       round(avg(pred), 4) AS mean_pred,
      |       round(avg(abs(pred - y)), 4) AS mean_abs_err,
      |       count(*) FILTER (pred > 1.2 * y) AS n_overpredicted
      |FROM scored GROUP BY source ORDER BY source""".stripMargin

  /** Train/holdout evaluation closing the ML loop: train the 2-step GD
    * weights on the md5-nibble TRAIN split (the [[CurationOps.corpusSplit]]
    * content-stable rule: nibble < 13 of 16 ≈ 81%) and report MSE and R²
    * on the held-out remainder — the metric a quality-classifier pipeline
    * gates deployment on. Same one-pass aggregate shape as training: the
    * holdout eval is ONE keyless aggregate over the val split with the
    * 1-row weight broadcast; nothing collects.
    *
    * R² guard: computed against the VAL split's own mean (the baseline a
    * holdout metric must beat), so R² < 0 is visible when the model
    * underperforms the constant predictor.
    */
  def modelEval(s: SparkSession, dir: String): DataFrame = {
    // the [[CurationOps.corpusSplit]] content-stable nibble rule verbatim
    // (instr/strpos is the proven cross-engine hex-digit decoder)
    val isTrain = (instr(lit("0123456789abcdef"),
      substring(md5(col("doc_id").cast("string").cast("binary")), 32, 1))
      - 1) < 13
    val f = Tables(s, dir, "documents").select(
      col("doc_id"), isTrain.as("is_train"),
      (col("n_chars").cast("double") / 1000.0).as("x1"),
      (size(split(col("text"), " ")).cast("double") / 100.0).as("x2"),
      (col("n_chars").cast("double") /
        size(split(col("text"), " ")).cast("double")).as("y"))

    def step(b: Column, w1: Column, w2: Column)(src: DataFrame): DataFrame = {
      val e = b + w1 * col("x1") + w2 * col("x2") - col("y")
      src.agg(
        round(first(b) - lit(2 * eta) * avg(e), 6).as("b"),
        round(first(w1) - lit(2 * eta) * avg(e * col("x1")), 6).as("w1"),
        round(first(w2) - lit(2 * eta) * avg(e * col("x2")), 6).as("w2"))
    }
    val train = f.filter(col("is_train"))
    val s1 = step(lit(0.0), lit(0.0), lit(0.0))(train)
    val s2 = step(col("b1"), col("w11"), col("w21"))(
      train.crossJoin(broadcast(s1.select(
        col("b").as("b1"), col("w1").as("w11"), col("w2").as("w21")))))
    val err = col("b") + col("w1") * col("x1") + col("w2") * col("x2") - col("y")
    f.filter(!col("is_train"))
      .crossJoin(broadcast(s2))
      .agg(
        count(lit(1)).as("n_val"),
        round(avg(err * err), 4).as("mse"),
        round(lit(1.0) - avg(err * err) /
          (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y"))), 4)
          .as("r2"))
  }

  val modelEvalOracle: String =
    """WITH f AS (
      |  SELECT (strpos('0123456789abcdef',
      |            substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) < 13
      |           AS is_train,
      |         CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
      |         CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS y
      |  FROM documents),
      |tr AS (SELECT * FROM f WHERE is_train),
      |s1 AS (
      |  SELECT round(0.0 - 0.2 * avg(0.0 - y), 6) AS b,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x1), 6) AS w1,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x2), 6) AS w2
      |  FROM tr),
      |s2 AS (
      |  SELECT round(any_value(s1.b)
      |           - 0.2 * avg(s1.b + s1.w1 * x1 + s1.w2 * x2 - y), 6) AS b,
      |         round(any_value(s1.w1)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x1), 6)
      |           AS w1,
      |         round(any_value(s1.w2)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x2), 6)
      |           AS w2
      |  FROM tr, s1)
      |SELECT CAST(count(*) AS BIGINT) AS n_val,
      |       round(avg((s2.b + s2.w1 * x1 + s2.w2 * x2 - y)
      |         * (s2.b + s2.w1 * x1 + s2.w2 * x2 - y)), 4) AS mse,
      |       round(1.0 - avg((s2.b + s2.w1 * x1 + s2.w2 * x2 - y)
      |           * (s2.b + s2.w1 * x1 + s2.w2 * x2 - y))
      |         / (avg(y * y) - avg(y) * avg(y)), 4) AS r2
      |FROM f, s2 WHERE NOT is_train""".stripMargin

  /** Per-source holdout evaluation — slice-based model analysis (the
    * fairness/regression-by-slice audit every deployed scorer needs:
    * an aggregate R² can hide one source the model is useless on):
    * the SAME train-split weights [[modelEval]] gates on, but MSE and R²
    * reported per source against each source's OWN val mean — a slice
    * whose R² goes negative is worse than predicting its mean, i.e. the
    * global model actively misfits it.
    *
    * Scale shape: [[modelEval]]'s two keyless GD aggregates (1-row
    * broadcasts) plus ONE map-side-combined per-source aggregate over
    * the val split — the slice dimension adds no extra pass.
    */
  def modelEvalBySlice(s: SparkSession, dir: String): DataFrame = {
    val isTrain = (instr(lit("0123456789abcdef"),
      substring(md5(col("doc_id").cast("string").cast("binary")), 32, 1))
      - 1) < 13
    val f = Tables(s, dir, "documents").select(
      col("source"), isTrain.as("is_train"),
      (col("n_chars").cast("double") / 1000.0).as("x1"),
      (size(split(col("text"), " ")).cast("double") / 100.0).as("x2"),
      (col("n_chars").cast("double") /
        size(split(col("text"), " ")).cast("double")).as("y"))
    def step(b: Column, w1: Column, w2: Column)(src: DataFrame): DataFrame = {
      val e = b + w1 * col("x1") + w2 * col("x2") - col("y")
      src.agg(
        round(first(b) - lit(2 * eta) * avg(e), 6).as("b"),
        round(first(w1) - lit(2 * eta) * avg(e * col("x1")), 6).as("w1"),
        round(first(w2) - lit(2 * eta) * avg(e * col("x2")), 6).as("w2"))
    }
    val train = f.filter(col("is_train"))
    val s1 = step(lit(0.0), lit(0.0), lit(0.0))(train)
    val s2 = step(col("b1"), col("w11"), col("w21"))(
      train.crossJoin(broadcast(s1.select(
        col("b").as("b1"), col("w1").as("w11"), col("w2").as("w21")))))
    val err = col("b") + col("w1") * col("x1") + col("w2") * col("x2") - col("y")
    // a slice can have zero val variance (few docs, identical y) — R²
    // against its own mean is then undefined; NULL on both engines, not
    // an ANSI divide-by-zero. Rounded to 6dp BEFORE the zero test and the
    // division: Spark and DuckDB aggregate in different orders, so a
    // degenerate slice can cancel to exactly 0.0 in one engine and ~1e-18
    // in the other — the round makes both the branch decision and the
    // denominator engine-identical (the abPower moments discipline)
    val sliceVar = round(
      avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")), 6)
    f.filter(!col("is_train"))
      .crossJoin(broadcast(s2))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_val"),
        round(avg(err * err), 4).as("mse"),
        when(sliceVar === 0.0, lit(null))
          .otherwise(round(lit(1.0) - avg(err * err) / sliceVar, 4))
          .as("r2"))
      .orderBy("source")
  }

  val modelEvalBySliceOracle: String =
    """WITH f AS (
      |  SELECT source,
      |         (strpos('0123456789abcdef',
      |            substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) < 13
      |           AS is_train,
      |         CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
      |         CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS y
      |  FROM documents),
      |tr AS (SELECT * FROM f WHERE is_train),
      |s1 AS (
      |  SELECT round(0.0 - 0.2 * avg(0.0 - y), 6) AS b,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x1), 6) AS w1,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x2), 6) AS w2
      |  FROM tr),
      |s2 AS (
      |  SELECT round(any_value(s1.b)
      |           - 0.2 * avg(s1.b + s1.w1 * x1 + s1.w2 * x2 - y), 6) AS b,
      |         round(any_value(s1.w1)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x1), 6)
      |           AS w1,
      |         round(any_value(s1.w2)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x2), 6)
      |           AS w2
      |  FROM tr, s1)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_val,
      |       round(avg((s2.b + s2.w1 * x1 + s2.w2 * x2 - y)
      |         * (s2.b + s2.w1 * x1 + s2.w2 * x2 - y)), 4) AS mse,
      |       CASE WHEN round(avg(y * y) - avg(y) * avg(y), 6) = 0 THEN NULL
      |            ELSE round(1.0 - avg((s2.b + s2.w1 * x1 + s2.w2 * x2 - y)
      |                * (s2.b + s2.w1 * x1 + s2.w2 * x2 - y))
      |              / round(avg(y * y) - avg(y) * avg(y), 6), 4) END AS r2
      |FROM f, s2 WHERE NOT is_train
      |GROUP BY source ORDER BY source""".stripMargin

  /** Split-conformal prediction-interval audit (Vovk's conformal
    * prediction in its simplest deployed form — Angelopoulos & Bates
    * 2021 §2): the train-split scorer's absolute residuals on a held-out
    * CALIBRATION split (the val nibbles) give q̂ = the ⌈0.9·(n+1)⌉-th
    * smallest; the interval pred ± q̂ then carries a finite-sample ≥90%
    * coverage guarantee on exchangeable data, and the TEST split checks
    * it empirically. This is how a regression scorer ships with honest
    * error bars instead of a point estimate — the audit row is the
    * guarantee's receipt.
    *
    * Scale shape: no corpus-sized ranking — residuals are clamped to
    * [0, 100] and 4-rounded, so the calibration histogram is ≤ 10⁶+1
    * rows REGARDLESS of corpus size and the order statistic is a
    * cumulative-count window over that bounded aggregate (the
    * [[modelAuc]] discipline, whitelisted with this bound); k attaches
    * as a 1-row broadcast, nothing collects. Coverage on test is one
    * keyless aggregate against the broadcast q̂.
    */
  def conformalInterval(s: SparkSession, dir: String): DataFrame = {
    val nibble = instr(lit("0123456789abcdef"),
      substring(md5(col("doc_id").cast("string").cast("binary")), 32, 1)) - 1
    val f = Tables(s, dir, "documents").select(
      when(nibble < 13, "train").when(nibble < 15, "cal")
        .otherwise("test").as("part"),
      (col("n_chars").cast("double") / 1000.0).as("x1"),
      (size(split(col("text"), " ")).cast("double") / 100.0).as("x2"),
      (col("n_chars").cast("double") /
        size(split(col("text"), " ")).cast("double")).as("y"))
    def step(b: Column, w1: Column, w2: Column)(src: DataFrame): DataFrame = {
      val e = b + w1 * col("x1") + w2 * col("x2") - col("y")
      src.agg(
        round(first(b) - lit(2 * eta) * avg(e), 6).as("b"),
        round(first(w1) - lit(2 * eta) * avg(e * col("x1")), 6).as("w1"),
        round(first(w2) - lit(2 * eta) * avg(e * col("x2")), 6).as("w2"))
    }
    val train = f.filter(col("part") === "train")
    val s1 = step(lit(0.0), lit(0.0), lit(0.0))(train)
    val s2 = step(col("b1"), col("w11"), col("w21"))(
      train.crossJoin(broadcast(s1.select(
        col("b").as("b1"), col("w1").as("w11"), col("w2").as("w21")))))
    // |residual|, clamped + 4-rounded: the bounded-histogram scale
    val res = round(least(
      abs(col("b") + col("w1") * col("x1") + col("w2") * col("x2")
        - col("y")), lit(100.0)), 4)
    val scored = f.filter(col("part") =!= "train")
      .crossJoin(broadcast(s2)).select(col("part"), res.as("r"))
    val calHist = scored.filter(col("part") === "cal")
      .groupBy(col("r")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("r"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val nCal = calHist.agg(sum(col("cnt")).as("n_cal"))
    val qhat = calHist.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(nCal))
      .filter(col("cum") >= ceil(lit(0.9) * (col("n_cal") + 1)))
      .agg(min(col("r")).as("q_hat"), first(col("n_cal")).as("n_cal"))
    scored.filter(col("part") === "test")
      .crossJoin(broadcast(qhat))
      .agg(
        first(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        round(first(col("q_hat")), 4).as("q_hat"),
        round(avg(when(col("r") <= col("q_hat"), 1).otherwise(0)), 4)
          .as("coverage"),
        lit(0.9).as("target"))
  }

  val conformalIntervalOracle: String =
    """WITH f AS (
      |  SELECT CASE WHEN nib < 13 THEN 'train'
      |              WHEN nib < 15 THEN 'cal' ELSE 'test' END AS part,
      |         x1, x2, y
      |  FROM (SELECT strpos('0123456789abcdef',
      |            substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS nib,
      |          CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
      |          CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
      |          CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS y
      |        FROM documents)),
      |tr AS (SELECT * FROM f WHERE part = 'train'),
      |s1 AS (
      |  SELECT round(0.0 - 0.2 * avg(0.0 - y), 6) AS b,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x1), 6) AS w1,
      |         round(0.0 - 0.2 * avg((0.0 - y) * x2), 6) AS w2
      |  FROM tr),
      |s2 AS (
      |  SELECT round(any_value(s1.b)
      |           - 0.2 * avg(s1.b + s1.w1 * x1 + s1.w2 * x2 - y), 6) AS b,
      |         round(any_value(s1.w1)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x1), 6)
      |           AS w1,
      |         round(any_value(s1.w2)
      |           - 0.2 * avg((s1.b + s1.w1 * x1 + s1.w2 * x2 - y) * x2), 6)
      |           AS w2
      |  FROM tr, s1),
      |scored AS (
      |  SELECT part,
      |         round(least(abs(s2.b + s2.w1 * x1 + s2.w2 * x2 - y),
      |           100.0), 4) AS r
      |  FROM f, s2 WHERE part <> 'train'),
      |hist AS (SELECT r, count(*) AS cnt FROM scored
      |         WHERE part = 'cal' GROUP BY r),
      |nc AS (SELECT sum(cnt) AS n_cal FROM hist),
      |qh AS (
      |  SELECT min(r) AS q_hat, any_value(n_cal) AS n_cal FROM (
      |    SELECT r, sum(cnt) OVER (ORDER BY r
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      nc.n_cal
      |    FROM hist, nc)
      |  WHERE cum >= ceil(0.9 * (n_cal + 1)))
      |SELECT CAST(qh.n_cal AS BIGINT) AS n_cal,
      |       count(*) AS n_test,
      |       round(qh.q_hat, 4) AS q_hat,
      |       round(avg(CASE WHEN r <= qh.q_hat THEN 1 ELSE 0 END), 4)
      |         AS coverage,
      |       CAST(0.9 AS DOUBLE) AS target
      |FROM scored, qh WHERE part = 'test'
      |GROUP BY qh.n_cal, qh.q_hat""".stripMargin

  /** Upper-triangular Gram matrix X^T X of the 64-dim embedding corpus —
    * the normal-equation / covariance / PCA building block (one pass, then
    * eigen-work happens on the d×d result, never on the data). Plan: a
    * double posexplode expands each row to its d(d+1)/2 upper-tri products
    * feeding ONE keyed aggregate — map-side partial aggregation caps the
    * shuffle at 2080 (i,j) cells per partition regardless of row count,
    * which is the whole trick: at 100 TB the only thing that moves is a
    * d² matrix per partition (for d in the thousands you'd switch to a
    * mapPartitions BLAS accumulation, same shuffle shape). Dims are
    * 1-based to match DuckDB list indexing; float→double casts happen
    * before any product on both engines; round(4) absorbs the ~1e-13
    * summation-order noise of a 500-term double sum.
    */
  /** Unordered upper-tri Gram cells — shared by [[gramMatrix]] (which just
    * adds the deterministic output sort) and [[pcaPower]] (which iterates
    * on it and must not inherit an interior global sort).
    */
  private def gramUpper(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        posexplode(col("embedding")))
      .select(col("vec_id"), col("embedding"),
        (col("pos") + 1).as("i"), col("col").cast("double").as("xi"))
    e.select(col("vec_id"), col("i"), col("xi"), posexplode(col("embedding")))
      .select(col("i"), col("xi"),
        (col("pos") + 1).as("j"), col("col").cast("double").as("xj"))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(round(sum(col("xi") * col("xj")), 4).as("gram"))
  }

  def gramMatrix(s: SparkSession, dir: String): DataFrame =
    gramUpper(s, dir).orderBy("i", "j")

  /** The shared CTE chain producing the upper-tri Gram cells — interpolated
    * into both oracles so the two stay definitionally identical (the
    * WinnowOps shared-oracle-chain discipline).
    */
  private val gramUpperSql: String =
    """e AS (
      |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
      |         CAST(embedding[t.i] AS DOUBLE) AS x
      |  FROM embeddings,
      |       LATERAL unnest(generate_series(1, len(embedding))) t(i)),
      |g0 AS (
      |  SELECT a.i AS i, b.i AS j, round(sum(a.x * b.x), 4) AS gram
      |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
      |  GROUP BY a.i, b.i)""".stripMargin

  val gramMatrixOracle: String =
    s"""WITH $gramUpperSql
       |SELECT i, j, gram FROM g0 ORDER BY i, j""".stripMargin

  /** Top principal direction of the embedding corpus by two fixed power-
    * iteration steps on the ROUNDED Gram matrix — the promised eigen-work
    * that happens on the d×d result, never on the data: after [[gramUpper]]
    * pays its one corpus pass (localCheckpointed so the two mat-vec
    * consumers don't recompute it), everything here is d- or d²-sized —
    * symmetrize, u₁ = G·1, normalize, u₂ = G·v₁, normalize, Rayleigh
    * quotient λ ≈ v₁ᵀu₂. Starting from the all-ones vector and a FIXED
    * two steps keeps the result deterministic (no convergence branch, no
    * sign ambiguity). Basing both engines on the 4-dp-rounded Gram makes
    * their inputs bit-identical, so the only float divergence left is
    * 64-term summation order (~1e-15) — invisible at round(6).
    */
  def pcaPower(s: SparkSession, dir: String): DataFrame = {
    val g0 = gramUpper(s, dir).localCheckpoint()
    val g = g0.union(g0.filter(col("i") < col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("gram")))
    val u1 = g.groupBy(col("i")).agg(sum(col("gram")).as("u"))
    val n1 = u1.agg(sqrt(sum(col("u") * col("u"))).as("n"))
    val v1 = u1.crossJoin(broadcast(n1))
      .select(col("i"), (col("u") / col("n")).as("v"))
    val u2 = g.join(v1.select(col("i").as("j"), col("v")), "j")
      .groupBy(col("i")).agg(sum(col("gram") * col("v")).as("u"))
    val n2 = u2.agg(sqrt(sum(col("u") * col("u"))).as("n"))
    val lam = v1.join(u2, "i").agg(sum(col("v") * col("u")).as("l"))
    u2.crossJoin(broadcast(n2)).crossJoin(broadcast(lam))
      .select(col("i"), round(col("u") / col("n"), 6).as("loading"),
        round(col("l"), 4).as("eigenvalue"))
      .orderBy("i")
  }

  val pcaPowerOracle: String =
    s"""WITH $gramUpperSql,
       |g AS (SELECT i, j, gram FROM g0
       |      UNION ALL
       |      SELECT j AS i, i AS j, gram FROM g0 WHERE i < j),
       |u1 AS (SELECT i, sum(gram) AS u FROM g GROUP BY i),
       |n1 AS (SELECT sqrt(sum(u * u)) AS n FROM u1),
       |v1 AS (SELECT i, u / n AS v FROM u1, n1),
       |u2 AS (SELECT g.i, sum(g.gram * v1.v) AS u
       |       FROM g JOIN v1 ON v1.i = g.j GROUP BY g.i),
       |n2 AS (SELECT sqrt(sum(u * u)) AS n FROM u2),
       |lam AS (SELECT sum(v1.v * u2.u) AS l FROM v1 JOIN u2 USING (i))
       |SELECT u2.i, round(u2.u / n2.n, 6) AS loading,
       |       round(lam.l, 4) AS eigenvalue
       |FROM u2, n2, lam ORDER BY u2.i""".stripMargin

  /** Two unrolled batch-GD iterations of LOGISTIC regression — the binary
    * quality-classifier twin of [[linreg2Step]] (real curation pipelines
    * train keep/drop classifiers, not regressors). Label: mean token
    * length above the corpus-median 5.49 cut; features are the same
    * (chars/1000, tokens/100) pair. Each iteration is the cross-entropy
    * gradient as a keyless aggregate — σ(z) evaluated per row in codegen,
    * `avg((σ(z) − y)·x)` per weight, 1-row result — with the weight
    * vector riding a 1-row broadcast between iterations and weights
    * rounded to 6 at each boundary so both engines chain from identical
    * intermediates (the class scaladoc's determinism discipline; σ and
    * ln are the [[AnalyticsOps.driftPsi]] exp/ln cross-engine precedent).
    * Reported loss is the pre-step log-loss, rounded to 4. Scale: two
    * corpus scans, 1-row shuffles — the distributed-GD profile.
    */
  def logreg2Step(s: SparkSession, dir: String): DataFrame = {
    val f = features(s, dir)
      .select(col("x1"), col("x2"), (col("y") > 5.49).cast("double").as("y"))

    def step(iter: Int, b: Column, w1: Column, w2: Column)
        (src: DataFrame): DataFrame = {
      val z = b + w1 * col("x1") + w2 * col("x2")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val g = p - col("y")
      src.agg(
        round(first(b) - lit(eta) * avg(g), 6).as("b"),
        round(first(w1) - lit(eta) * avg(g * col("x1")), 6).as("w1"),
        round(first(w2) - lit(eta) * avg(g * col("x2")), 6).as("w2"),
        round(avg(-(col("y") * log(p) +
          (lit(1.0) - col("y")) * log(lit(1.0) - p))), 4).as("loss_before"))
        .select(lit(iter).as("iter"), col("b"), col("w1"), col("w2"),
          col("loss_before"))
    }

    val s1 = step(1, lit(0.0), lit(0.0), lit(0.0))(f)
    val s2 = step(2, col("b1"), col("w11"), col("w21"))(
      f.crossJoin(broadcast(s1.select(
        col("b").as("b1"), col("w1").as("w11"), col("w2").as("w21")))))
    s1.unionAll(s2).orderBy("iter")
  }

  val logreg2StepOracle: String =
    """WITH f AS (
      |  SELECT CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
      |         CASE WHEN CAST(n_chars AS DOUBLE)
      |                / len(string_split(text, ' ')) > 5.49
      |              THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
      |  FROM documents),
      |s1 AS (
      |  SELECT round(0.0 - 0.1 * avg(0.5 - y), 6) AS b,
      |         round(0.0 - 0.1 * avg((0.5 - y) * x1), 6) AS w1,
      |         round(0.0 - 0.1 * avg((0.5 - y) * x2), 6) AS w2,
      |         round(avg(-(y * ln(0.5) + (1 - y) * ln(0.5))), 4)
      |           AS loss_before
      |  FROM f),
      |s2 AS (
      |  SELECT round(any_value(s1.b) - 0.1 * avg(
      |           1.0 / (1.0 + exp(-(s1.b + s1.w1 * x1 + s1.w2 * x2))) - y),
      |           6) AS b,
      |         round(any_value(s1.w1) - 0.1 * avg(
      |           (1.0 / (1.0 + exp(-(s1.b + s1.w1 * x1 + s1.w2 * x2))) - y)
      |             * x1), 6) AS w1,
      |         round(any_value(s1.w2) - 0.1 * avg(
      |           (1.0 / (1.0 + exp(-(s1.b + s1.w1 * x1 + s1.w2 * x2))) - y)
      |             * x2), 6) AS w2,
      |         round(avg(-(
      |           y * ln(1.0 / (1.0 + exp(-(s1.b + s1.w1 * x1 + s1.w2 * x2))))
      |           + (1 - y) * ln(1 - 1.0 / (1.0 +
      |               exp(-(s1.b + s1.w1 * x1 + s1.w2 * x2)))))), 4)
      |           AS loss_before
      |  FROM f, s1)
      |SELECT 1 AS iter, * FROM s1
      |UNION ALL SELECT 2 AS iter, * FROM s2
      |ORDER BY iter""".stripMargin

  /** Calibration audit of the 2-step logistic quality model
    * ([[logreg2Step]]'s weights re-derived, the self-contained-query
    * discipline [[modelEval]] set): reliability diagram + Expected
    * Calibration Error — the standard check (Guo et al. 2017) before a
    * model's SCORES (not just its rankings) drive data decisions, e.g.
    * quality-weighted sampling where p = 0.9 must mean ~90% positive
    * rate. Two GD steps leave the raw logits in a data-dependent sliver
    * near zero (±0.001 at sf0.01, a different sliver at every SF — a
    * diagram with nothing to diagnose), so the audit scores the
    * STANDARDIZED-then-sharpened model p = σ(2·(z − μᵤ)/σᵤ) with μᵤ/σᵤ the
    * corpus logit mean/stddev (6-rounded 1-row broadcast) — self-adapting
    * to any corpus, and deliberately the overconfident regime a
    * reliability diagram exists to expose (Guo et al.'s finding is exactly
    * that modern models run over-sharpened; temperature scaling, the fix,
    * is this same transform with T fitted the other way). Scores spread
    * across the ten equal-width bins at every SF — bin
    * assignment by STATIC literal comparisons on the 6-rounded p (no
    * float×10+floor boundary games — ten codegen'd comparisons, identical
    * literals in both engines), then per bin: occupancy, mean confidence,
    * empirical positive rate, |gap|; ECE = Σ nᵦ·gapᵦ / N rides every row
    * and puts one number on the overconfidence.
    *
    * Scale shape: train = two keyless GD aggregates (1-row broadcasts),
    * score+bin = one narrow pass, the reliability table is ≤ 10 rows —
    * nothing after the corpus aggregate exceeds bin count.
    */
  /** The (p, y) score frame [[modelCalibration]] audits — factored so
    * [[modelAuc]] ranks the SAME scores the reliability diagram bins
    * (an AUC of a different score column would audit a different model).
    */
  private def calibrationScores(s: SparkSession, dir: String): DataFrame = {
    val f = features(s, dir)
      .select(col("x1"), col("x2"), (col("y") > 5.49).cast("double").as("y"))
    def step(b: Column, w1: Column, w2: Column)(src: DataFrame): DataFrame = {
      val z = b + w1 * col("x1") + w2 * col("x2")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val g = p - col("y")
      src.agg(
        round(first(b) - lit(eta) * avg(g), 6).as("b"),
        round(first(w1) - lit(eta) * avg(g * col("x1")), 6).as("w1"),
        round(first(w2) - lit(eta) * avg(g * col("x2")), 6).as("w2"))
    }
    val s1 = step(lit(0.0), lit(0.0), lit(0.0))(f)
    val s2 = step(col("b1"), col("w11"), col("w21"))(
      f.crossJoin(broadcast(s1.select(
        col("b").as("b1"), col("w1").as("w11"), col("w2").as("w21")))))
    val zs = f.crossJoin(broadcast(s2))
      .withColumn("z",
        col("b") + col("w1") * col("x1") + col("w2") * col("x2"))
    val mz = zs.agg(round(avg(col("z")), 6).as("mz"),
      round(stddev_samp(col("z")), 6).as("sz"))
    zs.crossJoin(broadcast(mz))
      .withColumn("p", round(lit(1.0) / (lit(1.0) +
        exp(lit(-2.0) * (col("z") - col("mz")) / col("sz"))), 6))
  }

  /** The shared WITH-body producing `scored(p, y)` — spliced into both
    * [[modelCalibrationOracle]] and [[modelAucOracle]].
    */
  private val calibrationScoredCte: String =
    s"""f AS (
       |  SELECT CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
       |         CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
       |         CASE WHEN CAST(n_chars AS DOUBLE)
       |                / len(string_split(text, ' ')) > 5.49
       |              THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
       |  FROM documents),
       |s1 AS (
       |  SELECT round(0.0 - 0.1 * avg(0.5 - y), 6) AS b,
       |         round(0.0 - 0.1 * avg((0.5 - y) * x1), 6) AS w1,
       |         round(0.0 - 0.1 * avg((0.5 - y) * x2), 6) AS w2
       |  FROM f),
       |s2 AS (
       |  SELECT round(any_value(s1.b) - 0.1 * avg(
       |           1.0 / (1.0 + exp(-(s1.b + s1.w1 * x1 + s1.w2 * x2))) - y),
       |           6) AS b,
       |         round(any_value(s1.w1) - 0.1 * avg(
       |           (1.0 / (1.0 + exp(-(s1.b + s1.w1 * x1 + s1.w2 * x2))) - y)
       |             * x1), 6) AS w1,
       |         round(any_value(s1.w2) - 0.1 * avg(
       |           (1.0 / (1.0 + exp(-(s1.b + s1.w1 * x1 + s1.w2 * x2))) - y)
       |             * x2), 6) AS w2
       |  FROM f, s1),
       |zs AS (
       |  SELECT s2.b + s2.w1 * x1 + s2.w2 * x2 AS z, y FROM f, s2),
       |mz AS (
       |  SELECT round(avg(z), 6) AS mz, round(stddev_samp(z), 6) AS sz
       |  FROM zs),
       |scored AS (
       |  SELECT round(1.0 / (1.0 +
       |           exp(-2.0 * (z - mz.mz) / mz.sz)), 6) AS p, y
       |  FROM zs, mz)""".stripMargin

  def modelCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = calibrationScores(s, dir)
    // (i+1)/10.0 — one correctly-rounded division, bit-identical to the
    // oracle's decimal literal (0.1+0.2-style accumulation is NOT)
    val bin = (1 to 9).foldLeft(when(col("p") < 0.1, lit(0))) {
      (acc, i) => acc.when(col("p") < lit((i + 1) / 10.0), lit(i))
    }.otherwise(lit(9))
    val bins = scored.withColumn("bin", bin)
      .groupBy(col("bin")).agg(
        count(lit(1)).as("n"),
        round(avg(col("p")), 4).as("confidence"),
        round(avg(col("y")), 4).as("accuracy"))
      .withColumn("gap", round(abs(col("accuracy") - col("confidence")), 4))
    val ece = bins.agg(
      round(sum(col("n") * col("gap")) / sum(col("n")), 6).as("ece"))
    bins.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("confidence"), col("accuracy"),
        col("gap"), col("ece"))
      .orderBy("bin")
  }

  val modelCalibrationOracle: String = {
    val binCase = "CASE " + (0 to 8).map(i =>
      s"WHEN p < ${(i + 1) / 10.0} THEN $i").mkString(" ") + " ELSE 9 END"
    s"""WITH $calibrationScoredCte,
       |bins AS (
       |  SELECT $binCase AS bin, count(*) AS n,
       |         round(avg(p), 4) AS confidence,
       |         round(avg(y), 4) AS accuracy
       |  FROM scored GROUP BY 1),
       |g AS (
       |  SELECT bin, n, confidence, accuracy,
       |         round(abs(accuracy - confidence), 4) AS gap
       |  FROM bins),
       |e AS (SELECT round(sum(n * gap) / sum(n), 6) AS ece FROM g)
       |SELECT bin, n, confidence, accuracy, gap, ece
       |FROM g, e ORDER BY bin""".stripMargin
  }

  /** Ranking-quality audit of the same quality-model scores
    * [[modelCalibration]] bins: tie-corrected AUC (the Mann–Whitney U
    * statistic — the probability a random positive outranks a random
    * negative) plus its Gini rescaling. Calibration and AUC are the two
    * orthogonal halves of "can this score drive curation": ECE says the
    * VALUES are honest, AUC says the ORDER is useful (a percentile cut
    * like [[TextOps.quality_percentile_cut]] only needs the order).
    *
    * Scale shape: no per-row ranking anywhere — scores are 6-rounded, so
    * grouping by score value yields a histogram bounded by 10⁶+1 rows
    * REGARDLESS of corpus size, and the cumulative-negatives window runs
    * unpartitioned over that bounded aggregate (the
    * [[AnalyticsOps]]/global_rank histogram-cumsum discipline,
    * whitelisted in PlanLintSpec with this bound). U = Σ_p np·(nn_below +
    * nn_p/2); every term is an integer or half-integer, so the double
    * arithmetic is EXACT — no float-order sensitivity in the sum.
    */
  def modelAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = calibrationScores(s, dir)
    val hist = scored.groupBy(col("p")).agg(
      sum(col("y")).as("np"), sum(lit(1.0) - col("y")).as("nn"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withCum = hist.withColumn("cum_nn",
      coalesce(sum(col("nn")).over(w), lit(0.0)))
    // n_pos/n_neg fold out of the histogram itself — no second pass over
    // the scoring pipeline (it would re-plan the whole GD chain)
    withCum
      .agg(sum(col("np") * (col("cum_nn") + col("nn") / 2)).as("u"),
        sum(col("np")).as("np_tot"), sum(col("nn")).as("nn_tot"),
        count(lit(1)).as("n_scores"))
      .select(
        col("np_tot").cast("long").as("n_pos"),
        col("nn_tot").cast("long").as("n_neg"),
        col("n_scores"),
        round(col("u") / (col("np_tot") * col("nn_tot")), 6).as("auc"),
        round(lit(2.0) * col("u") / (col("np_tot") * col("nn_tot")) - 1.0, 6)
          .as("gini"))
  }

  val modelAucOracle: String =
    s"""WITH $calibrationScoredCte,
       |hist AS (
       |  SELECT p, sum(y) AS np, sum(1.0 - y) AS nn
       |  FROM scored GROUP BY p),
       |c AS (
       |  SELECT np, nn,
       |         coalesce(sum(nn) OVER (ORDER BY p
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           0.0) AS cum_nn
       |  FROM hist),
       |u AS (SELECT sum(np * (cum_nn + nn / 2)) AS u,
       |             sum(np) AS np_tot, sum(nn) AS nn_tot,
       |             count(*) AS n_scores FROM c)
       |SELECT CAST(np_tot AS BIGINT) AS n_pos,
       |       CAST(nn_tot AS BIGINT) AS n_neg,
       |       n_scores,
       |       round(u / (np_tot * nn_tot), 6) AS auc,
       |       round(2.0 * u / (np_tot * nn_tot) - 1.0, 6) AS gini
       |FROM u""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nb_source_classify" -> (nbSourceClassify _),
    "conformal_interval" -> (conformalInterval _),
    "model_eval_by_slice" -> (modelEvalBySlice _),
    "model_auc" -> (modelAuc _),
    "model_calibration" -> (modelCalibration _),
    "linreg_2step" -> (linreg2Step _),
    "logreg_2step" -> (logreg2Step _),
    "quality_model_score" -> (qualityModelScore _),
    "gram_matrix" -> (gramMatrix _),
    "pca_power" -> (pcaPower _),
    "model_eval" -> (modelEval _))

  /** Naive Bayes source classifier with holdout accuracy — the generative
    * twin to [[qualityModelScore]]'s discriminative logreg, and the
    * fastText-style domain/source tagger every web-corpus curation stack
    * runs (CCNet's lang/quality classifiers; domain routing for mixture
    * weights). Multinomial NB over whitespace tokens, Laplace-smoothed:
    *
    *   score(d, c) = ln p(c) − |d|·ln(n_c + V) + Σ_{w∈d∩vocab_c} cnt_w·ln(c_wc + 1)
    *
    * — the ln((c+1)/(n_c+V)) likelihood DECOMPOSED so out-of-class-vocab
    * tokens need no dense grid: the join against the observed (class,
    * token) counts covers the third term and the −|d|·ln(n_c+V) bulk
    * term is a per-class scalar times document length. Train/holdout by
    * the content-stable md5 nibble rule ([[modelEval]]); output is
    * per-source holdout accuracy.
    *
    * Scale shape: class-token counts are (|classes|·vocab)-bounded keyed
    * aggregates; the holdout scoring is ONE token-keyed join + one
    * (doc, class) aggregate; the dense (doc × class) frame exists only
    * at the |classes|-bounded broadcast cross join, and the argmax
    * window partitions by doc over |classes| rows. Scores 6-rounded
    * before the argmax (cross-engine ranking).
    */
  def nbSourceClassify(s: SparkSession, dir: String): DataFrame =
    nbPredictions(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cls") === col("source"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("source"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs"), 6)
          .as("accuracy"))
      .orderBy("source")

  /** Per-holdout-doc NB argmax `(doc_id, source, cls, score)` —
    * [[nbSourceClassify]]'s accuracy rollup reads it; ModelOpsSpec
    * recounts a doc's full score vector against it.
    */
  private[graft] def nbPredictions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isTrain = (instr(lit("0123456789abcdef"),
      substring(md5(col("doc_id").cast("string").cast("binary")), 32, 1))
      - 1) < 13
    val toks = Tables.spread(Tables(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), col("source"), isTrain.as("is_train"),
        explode(split(DedupOps.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val docTok = toks
      .groupBy(col("doc_id"), col("source"), col("is_train"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      // r13 ckpt audit: docTok feeds FIVE subtrees (class counts, class
      // stats, globals, doc lengths, matched sums) — A/B at sf0.1 warm:
      // 1.58 s with / 2.21 s without — keep
      .localCheckpoint()
    val train = docTok.filter(col("is_train"))
    val classTok = train.groupBy(col("source").as("cls"), col("w"))
      .agg(sum(col("cnt")).as("c"))
    val classStats = train.groupBy(col("source").as("cls"))
      .agg(sum(col("cnt")).as("n_c"), countDistinct(col("doc_id")).as("d_c"))
    val globals = train.agg(countDistinct(col("w")).as("v"),
      countDistinct(col("doc_id")).as("n_train"))
    val classes = classStats.crossJoin(broadcast(globals))
      .select(col("cls"),
        log(col("d_c").cast("double") / col("n_train")).as("lp"),
        log((col("n_c") + col("v")).cast("double")).as("lden"))
    val hold = docTok.filter(!col("is_train"))
    val docLen = hold.groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt")).as("len"))
    val matched = hold.join(classTok, "w")
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("cnt") * log(col("c") + lit(1.0))).as("m"))
    val scored = docLen.crossJoin(broadcast(classes))
      .join(matched, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("source"), col("cls"),
        round(col("lp") - col("len") * col("lden") +
          coalesce(col("m"), lit(0.0)), 6).as("score"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls"))
    scored.withColumn("rk", row_number().over(wDoc)).filter(col("rk") === 1)
      .select(col("doc_id"), col("source"), col("cls"), col("score"))
  }

  val nbSourceClassifyOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         (strpos('0123456789abcdef',
       |            substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) < 13
       |           AS is_train,
       |         unnest(string_split(${DedupOps.normTextOracle("text")}, ' '))
       |           AS w
       |  FROM documents),
       |doctok AS (
       |  SELECT doc_id, source, is_train, w, count(*) AS cnt
       |  FROM toks WHERE len(w) > 0 GROUP BY 1, 2, 3, 4),
       |train AS (SELECT * FROM doctok WHERE is_train),
       |classtok AS (
       |  SELECT source AS cls, w, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM train GROUP BY 1, 2),
       |classstats AS (
       |  SELECT source AS cls, CAST(sum(cnt) AS BIGINT) AS n_c,
       |         count(DISTINCT doc_id) AS d_c
       |  FROM train GROUP BY 1),
       |globals AS (
       |  SELECT count(DISTINCT w) AS v, count(DISTINCT doc_id) AS n_train
       |  FROM train),
       |classes AS (
       |  SELECT cls, ln(CAST(d_c AS DOUBLE) / n_train) AS lp,
       |         ln(CAST(n_c + v AS DOUBLE)) AS lden
       |  FROM classstats, globals),
       |hold AS (SELECT * FROM doctok WHERE NOT is_train),
       |doclen AS (
       |  SELECT doc_id, source, CAST(sum(cnt) AS BIGINT) AS len
       |  FROM hold GROUP BY 1, 2),
       |matched AS (
       |  SELECT h.doc_id, ct.cls, sum(h.cnt * ln(c + 1.0)) AS m
       |  FROM hold h JOIN classtok ct USING (w) GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.doc_id, d.source, c.cls,
       |         round(c.lp - d.len * c.lden + coalesce(m.m, 0.0), 6)
       |           AS score
       |  FROM doclen d CROSS JOIN classes c
       |  LEFT JOIN matched m ON m.doc_id = d.doc_id AND m.cls = c.cls),
       |pred AS (
       |  SELECT doc_id, source, cls FROM (
       |    SELECT doc_id, source, cls,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY score DESC, cls) AS rk
       |    FROM scored)
       |  WHERE rk = 1)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN cls = source THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_correct,
       |       round(CAST(sum(CASE WHEN cls = source THEN 1 ELSE 0 END)
       |         AS DOUBLE) / count(*), 6) AS accuracy
       |FROM pred GROUP BY source ORDER BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    "nb_source_classify" -> nbSourceClassifyOracle,
    "conformal_interval" -> conformalIntervalOracle,
    "model_eval_by_slice" -> modelEvalBySliceOracle,
    "model_auc" -> modelAucOracle,
    "model_calibration" -> modelCalibrationOracle,
    "linreg_2step" -> linreg2StepOracle,
    "logreg_2step" -> logreg2StepOracle,
    "quality_model_score" -> qualityModelScoreOracle,
    "gram_matrix" -> gramMatrixOracle,
    "pca_power" -> pcaPowerOracle,
    "model_eval" -> modelEvalOracle)
}
