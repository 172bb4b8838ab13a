package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scaling-evidence probe (VERDICT r15 #4): the driver generates
  * testdata only up to sf0.1, so the 100 TB posture arguments in
  * SCALE.md had never been MEASURED above that. This dev-only main
  * derives a 10× corpus from sf0.1 and times the heaviest floor
  * queries at sf0.01 → sf0.1 → sf1, printing per-query scale ratios —
  * a super-linear ratio is either a plan defect or a documented
  * data-semantics effect; either way it must be explained in
  * BASELINE.md.
  *
  * Derivation (deterministic, no RNG):
  *  - `documents`: [[Factor]] replicas; replica k > 0 suffixes every
  *    token with `_k`, so each replica's WITHIN-replica duplicate/
  *    near-dup structure repeats exactly while no cross-replica
  *    near-dups appear — near-dup pair counts scale ×[[Factor]]
  *    (linear), the null hypothesis a scaling probe needs (naive
  *    replication would make every doc a 10-way near-dup cluster and
  *    measure quadratic DATA growth, not plan behavior).
  *  - `embeddings`: replica k rotates each vector left by k positions —
  *    norm-preserving, within-replica geometry identical, cross-replica
  *    cosines decorrelated, so kNN/banding candidate structure also
  *    scales linearly.
  *  - ids shift by k × (max id + 1); both tables' id spans are
  *    multiples of 10, so every `% 10` family convention (delta eras,
  *    eval slices) keeps its exact fraction.
  */
object ScaleProbe {
  val Factor = 10

  /** Heaviest committed floors that read only documents/embeddings
    * (the graph family and its graph_edges seam need lineitem, which the
    * derived dir lacks, so that seam is left unseeded).
    */
  val DefaultNames = Seq(
    "knn_delete_repair", "incremental_knn", "knn_damage_stats",
    "ann_beam_sweep", "dedup_ngram_jaccard", "dedup_span_remove",
    "dedup_minhash_shingle", "dedup_containment",
    "incremental_dedup_edges", "bpe_train")

  private def derive(spark: SparkSession, src: String, out: String): Unit = {
    if (new java.io.File(s"$out/_DERIVED_OK").exists()) {
      println(s"[scale] derived corpus at $out (cached)"); return
    }
    val reps = spark.range(Factor).select(col("id").as("rep"))
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    // the '% 10' family conventions keep their exact fractions only if
    // each replica's id span is a multiple of 10 (ADVICE r16 — dev-only
    // tool, cheap assertion; a skewed span would silently compare
    // slightly different query semantics across scale points)
    require(nDoc % 10 == 0,
      s"doc id span $nDoc not a multiple of 10 — derived families skew")
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("rep") * nDoc).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("rep")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    require(nVec % 10 == 0,
      s"vec id span $nVec not a multiple of 10 — derived families skew")
    val e = col("embedding")
    emb.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("rep") * nVec).as("vec_id"),
        concat(
          slice(e, (col("rep") + 1).cast("int"),
            (size(e) - col("rep")).cast("int")),
          slice(e, lit(1), col("rep").cast("int"))).as("embedding"),
        col("label"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    new java.io.File(s"$out/_DERIVED_OK").createNewFile()
    println(s"[scale] derived ${Factor}x corpus at $out " +
      s"(${nDoc * Factor} docs, ${nVec * Factor} vecs)")
  }

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else DefaultNames
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/sfprobe/sf1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    val spark = graft.GraftSession.local()
    derive(spark, "/root/testdata/sf0.1", sf1Dir)

    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val dirs = Seq("sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1", "sf1" -> sf1Dir)
    val results = scala.collection.mutable.Map
      .empty[(String, String), Double]
    dirs.foreach { case (label, dir) =>
      // seams cost ~190 s at sf1 — skippable when the probed queries
      // touch none of them (e.g. the text/packing family); graph_edges is
      // never seeded, it reads lineitem and part, which the derived dir lacks
      if (!sys.env.contains("SPARK_GRAFT_SCALE_NOSEED")) {
        println(s"[scale] seeding seams at $label")
        val tSeed = time(graft.GraftSession.seedSeams(spark, dir,
          except = Set("graph_edges")))
        println(f"[scale] $label seeds $tSeed%8.2f s")
      }
      names.foreach { n =>
        val q = graft.SparkEntry.queries(n)
        val cold = time(sink(q(spark, dir)))
        // true median — warm(size/2) at even reps is the MAX of the
        // middle pair, which would publish worst-of-two as the scaling
        // evidence (r16 review)
        val med = graft.Bench.median((1 to reps).map(_ => time(sink(q(spark, dir)))))
        results((label, n)) = med
        println(f"[scale] $label%-7s $n%-26s cold $cold%7.2f  warm-med $med%7.2f s")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    println("[scale] ---- ratios (warm medians; linear = ~10x per step) ----")
    names.foreach { n =>
      val a = results(("sf0.01", n)); val b = results(("sf0.1", n))
      val c = results(("sf1", n))
      println(f"[scale] $n%-26s ${a}%7.2f -> ${b}%7.2f -> ${c}%7.2f   " +
        f"x${b / a}%5.1f / x${c / b}%5.1f")
    }
    spark.stop()
  }
}
