package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scaling-evidence probe (VERDICT r15 #4): the driver generates
  * testdata only up to sf0.1, so the 100 TB posture arguments in
  * SCALE.md had never been MEASURED above that. This dev-only main
  * derives a 10× corpus from sf0.1 ([[writeDerived]]) and runs one of
  * three modes over sf0.01 → sf0.1 → sf1, named by its first argument:
  *
  *  - `queries [name ...]` (the default): times the heaviest floor
  *    queries ([[DefaultNames]]) after seeding the session seams, and
  *    prints per-query scale ratios — a super-linear ratio is either a
  *    plan defect or a documented data-semantics effect; either way it
  *    must be explained in BASELINE.md;
  *  - `band`: the kNN build at fixed and occupancy-scaled banding on the
  *    sf1 corpus, with recall against sampled exact neighbors, then the
  *    HNSW bits/bands ladder ([[band]]);
  *  - `drain`: the five streaming maintainers' drain paths ([[drain]]).
  *
  *   sbt 'runMain graft.tools.ScaleProbe band'
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

  /** Arrival batches each `drain` run chops its table into. */
  val Batches = 4

  /** Writes `tables` of the fixture dir `src` under `out` as parquet of
    * `files` files each, so a scan of the copy plans to several
    * partitions where the fixture's one-file tables plan to one.
    * `documents` and `embeddings` are derived `factor`× (deterministic,
    * no RNG); every other table is copied as it is. At `factor` 1 every
    * table holds exactly the fixture's rows.
    *
    *  - `documents`: `factor` replicas; replica k > 0 suffixes every
    *    token with `_k`, so each replica's WITHIN-replica duplicate/
    *    near-dup structure repeats exactly while no cross-replica
    *    near-dups appear — near-dup pair counts scale ×`factor`
    *    (linear), the null hypothesis a scaling probe needs (naive
    *    replication would make every doc a `factor`-way near-dup cluster
    *    and measure quadratic DATA growth, not plan behavior).
    *  - `embeddings`: replica k rotates each vector left by k positions —
    *    norm-preserving, within-replica geometry identical, cross-replica
    *    cosines decorrelated, so kNN/banding candidate structure also
    *    scales linearly.
    *  - ids shift by k × (max id + 1); both tables' id spans are
    *    multiples of 10, so every `% 10` family convention (delta eras,
    *    eval slices) keeps its exact fraction.
    */
  private[graft] def writeDerived(spark: SparkSession, src: String,
      out: String, tables: Seq[String], factor: Int, files: Int): Unit = {
    val reps = spark.range(factor).select(col("id").as("rep"))
    def write(name: String, df: DataFrame): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
    // the '% 10' family conventions keep their exact fractions only if
    // each replica's id span is a multiple of 10 (ADVICE r16 — a skewed
    // span would silently compare slightly different query semantics
    // across scale points)
    def idSpan(df: DataFrame, id: String): Long = {
      val n = df.agg(max(col(id))).head().getLong(0) + 1
      require(n % 10 == 0,
        s"$id span $n not a multiple of 10 — derived families skew")
      n
    }
    tables.foreach {
      case "documents" =>
        val docs = graft.ops.Tables(spark, src, "documents")
        val nDoc = idSpan(docs, "doc_id")
        write("documents", docs.crossJoin(broadcast(reps))
          .select(
            (col("doc_id") + col("rep") * nDoc).as("doc_id"),
            when(col("rep") === 0, col("text"))
              .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
                concat(lit("$1_"), col("rep")))).as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long")))
      case "embeddings" =>
        val emb = graft.ops.Tables(spark, src, "embeddings")
        val nVec = idSpan(emb, "vec_id")
        val e = col("embedding")
        write("embeddings", emb.crossJoin(broadcast(reps))
          .select(
            (col("vec_id") + col("rep") * nVec).as("vec_id"),
            concat(
              slice(e, (col("rep") + 1).cast("int"),
                (size(e) - col("rep")).cast("int")),
              slice(e, lit(1), col("rep").cast("int"))).as("embedding"),
            col("label")))
      case name => write(name, graft.ops.Tables(spark, src, name))
    }
  }

  private def derive(spark: SparkSession, src: String, out: String): Unit = {
    if (new java.io.File(s"$out/_DERIVED_OK").exists()) {
      println(s"[scale] derived corpus at $out (cached)"); return
    }
    writeDerived(spark, src, out, Seq("documents", "embeddings"), Factor,
      files = 8)
    new java.io.File(s"$out/_DERIVED_OK").createNewFile()
    println(s"[scale] derived ${Factor}x corpus at $out")
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("queries")
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/sfprobe/sf1")
    val spark = graft.GraftSession.local()
    derive(spark, "/root/testdata/sf0.1", sf1Dir)
    val dirs = Seq("sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1", "sf1" -> sf1Dir)
    mode match {
      case "queries" =>
        queries(spark, dirs, if (args.length > 1) args.toSeq.tail else DefaultNames)
      case "band" => band(spark, sf1Dir)
      case "drain" => drain(spark, dirs)
      case other => sys.error(
        s"unknown mode '$other': ScaleProbe [queries [name ...] | band | drain]")
    }
    spark.stop()
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def ratios(tag: String, names: Seq[String],
      at: (String, String) => Double): Unit = {
    println(s"[$tag] ---- ratios (linear = ~10x per step) ----")
    names.foreach { n =>
      val (a, b, c) = (at("sf0.01", n), at("sf0.1", n), at("sf1", n))
      println(f"[$tag] $n%-26s ${a}%7.2f -> ${b}%7.2f -> ${c}%7.2f   " +
        f"x${b / a}%5.1f / x${c / b}%5.1f")
    }
  }

  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** `queries` mode: seeds the seams at each scale point (graph_edges is
    * never seeded: it reads lineitem and part, which the derived dir
    * lacks), then times each query cold and its warm median.
    */
  private def queries(spark: SparkSession, dirs: Seq[(String, String)],
      names: Seq[String]): Unit = {
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val results = scala.collection.mutable.Map
      .empty[(String, String), Double]
    dirs.foreach { case (label, dir) =>
      println(s"[scale] seeding seams at $label")
      val tSeed = time(graft.GraftSession.seedSeams(spark, dir,
        except = Set("graph_edges")))
      println(f"[scale] $label seeds $tSeed%8.2f s")
      names.foreach { n =>
        val q = graft.SparkEntry.queries(n)
        val cold = time(sink(q(spark, dir)))
        // true median — warm(size/2) at even reps is the MAX of the
        // middle pair, which would publish worst-of-two as the scaling
        // evidence (r16 review)
        val med = graft.Bench.median((1 to reps).map(_ => time(sink(q(spark, dir)))))
        results((label, n)) = med
        println(f"[scale] $label%-7s $n%-26s cold $cold%7.2f  warm-med $med%7.2f s")
        sweep(spark)
      }
    }
    ratios("scale", names, (l, n) => results((l, n)))
  }

  /** `band` mode (r16): the sf1 run measured the kNN BUILD family
    * super-linear (×20–37 per ×10 data) while every other probed family
    * stayed ≤ linear. The cause is the FIXED sign-LSH banding config:
    * 4 bits/band = 16 buckets regardless of corpus size, so per-bucket
    * occupancy grows ∝ n and the candidate count ∝ Σ occ² grows ∝ n².
    * This measures the remedy ON the derived sf1 corpus: the same
    * [[graft.ops.SimilarityOps.knnJoin]] build at occupancy-scaled bits
    * (buckets ∝ n keeps per-band candidate mass ∝ n — linear), and each
    * config's recall against sampled exact neighbors, so the speed/recall
    * trade is visible in the same table. The shipped derived default must
    * hold recall ≥ 0.8 or the probe fails. Then the HNSW leg.
    */
  private def band(spark: SparkSession, sf1Dir: String): Unit = {
    val S = graft.ops.SimilarityOps
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[band] $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // one knnJoin build, its (vec_id, neighbor_id) pairs checkpointed and
    // counted inside the timed block
    def build(name: String)(lists: => DataFrame): (DataFrame, Long) =
      timed(s"knnJoin sf1 $name (build+count)") {
        val p = lists.select(col("vec_id"), col("neighbor_id"))
          .localCheckpoint()
        (p, p.count())
      }
    // fixed gate config (4 bits = 16 buckets; occupancy ~1250 at 20k)
    val (p4, n4) = build("bits=4 bands=20")(S.knnJoin(spark, sf1Dir, 4, 20, S.K))
    // occupancy-scaled: 7 bits = 128 buckets (occupancy ~156 — the
    // sf0.1-equivalent load per bucket)
    val (p7, n7) = build("bits=7 bands=20")(S.knnJoin(spark, sf1Dir, 7, 20, S.K))
    // same scaled buckets, more bands — buys recall back at linear cost
    val (p7b, n7b) = build("bits=7 bands=40")(S.knnJoin(spark, sf1Dir, 7, 40, S.K))
    // the SHIPPED default path (r17 — bitsFor/bandsFor derived from the
    // corpus count): whatever it derives is what a user gets at this n
    val (pd, _) = build("DERIVED default")(S.knnJoin(spark, sf1Dir))
    val dBits = S.derivedBits(spark, sf1Dir)
    val dBands = S.bandsFor(dBits)
    println(s"[band] derived config at sf1: bits=$dBits bands=$dBands")
    def overlap(a: DataFrame, b: DataFrame): Long =
      a.join(b, Seq("vec_id", "neighbor_id")).count()
    val o7 = overlap(p4, p7); val o7b = overlap(p4, p7b)
    println(f"[band] pairs: bits4 $n4%d, bits7 $n7%d (agree $o7%d = " +
      f"${o7.toDouble / n4}%.3f of bits4), bits7x40 $n7b%d (agree $o7b%d = " +
      f"${o7b.toDouble / n4}%.3f of bits4)")

    // recall vs EXACT (VERDICT r16 #2): the SHARED sampled-exact
    // estimator (SimilarityOps.sampledExactTopK — the same code
    // knn_recall_audit serves, so the probe can never validate a
    // different estimator than the shipped query), each config's lists
    // scored against it
    val emb = spark.read.parquet(s"$sf1Dir/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.normalize(
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")))
          .as("v"))
      .localCheckpoint()
    val exact = S.sampledExactTopK(emb, S.K).localCheckpoint()
    val nTruth = exact.count()
    def recall(name: String, lists: DataFrame): Double = {
      val hit = exact.join(
        lists.select(col("vec_id").as("node"),
          col("neighbor_id").as("nbr")),
        Seq("node", "nbr"), "left_semi").count()
      val r = hit.toDouble / nTruth
      println(f"[band] recall@${S.K} vs exact ($name%-16s): $r%.3f " +
        f"($hit%d/$nTruth%d)")
      r
    }
    recall("bits4x20 gate", p4)
    recall("bits7x20", p7)
    recall("bits7x40", p7b)
    val rd = recall(s"derived ${dBits}x$dBands", pd)
    require(rd >= 0.8,
      f"shipped derived config recall $rd%.3f < 0.8 — retune bandsFor")

    // the HNSW sizing leg (r17 review): StreamingHnsw.forExpectedCorpus
    // derives 12 bits at 20k — raising bits at FIXED bands must show the
    // recall collapse the knn family measured, and the band ladder
    // measures how many bands buy the SERVING (beam) recall back. Direct
    // out-adjacency capture (a relative metric) plus end-to-end BEAM
    // recall per config — the beam number is what a deployment holds
    val H = graft.ops.HnswIndex
    val exactD = S.sampledExactTopK(emb, H.Degree).localCheckpoint()
    val nTruthD = exactD.count()
    def hnswRecall(bits: Int, bands: Int): Unit = {
      val out = timed(f"hnswOut sf1 ${bits}x$bands (build)") {
        val o = S.hnswOutInline(spark, sf1Dir, bits, bands, H.Degree)
          .select(col("node"), col("nbr")).localCheckpoint()
        o.count(); o
      }
      val hit = exactD.join(out, Seq("node", "nbr"), "left_semi").count()
      println(f"[band] hnsw out-recall@${H.Degree} (${bits}x$bands): " +
        f"${hit.toDouble / nTruthD}%.3f ($hit%d/$nTruthD%d)")
    }
    val exactQ = S.annCosineTopk(spark, sf1Dir)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val nQ = exactQ.count()
    def beamRecall(name: String, bits: Int, bands: Int): Unit = {
      val got = timed(f"annHnswTopk sf1 ${bits}x$bands") {
        val g = S.annHnswTopk(spark, sf1Dir, bits, bands, H.Degree,
            H.LevelMod, H.Entries)
          .select(col("query_id"), col("neighbor_id")).localCheckpoint()
        g.count(); g
      }
      val hit = exactQ.join(got, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      println(f"[band] hnsw BEAM recall@${S.K} ($name%-12s): " +
        f"${hit.toDouble / nQ}%.3f ($hit%d/$nQ%d)")
    }
    val hBits = S.bitsFor(20000L, H.OccTarget, H.BitsPerBand)
    hnswRecall(H.BitsPerBand, H.Bands)      // tuned 8x10
    hnswRecall(hBits, H.Bands)              // bits-only: the collapse
    // the band LADDER at the sized bits: how many bands buy the beam
    // recall back to the tuned config's level
    beamRecall("tuned 8x10", H.BitsPerBand, H.Bands)
    for (bands <- Seq(S.scaledBands(H.Bands, hBits - H.BitsPerBand),
        80, 160)) {
      hnswRecall(hBits, bands)
      beamRecall(s"sized ${hBits}x$bands", hBits, bands)
    }
  }

  /** `drain` mode (VERDICT r16 #6 — the one heavy family the r16 probe
    * never curved): each streaming maintainer ingests the same table it
    * indexes, chopped into a FIXED number of arrival batches
    * ([[Batches]]; batch size scales with the corpus, so the per-row drain
    * cost is the measured quantity), via the production `runAvailableNow`
    * surface into a fresh store + checkpoint per run. A super-linear step
    * is a plan defect in the per-batch incremental work.
    *
    * StreamingKnn runs twice: the [[graft.streaming.StreamingKnn
    * .forExpectedCorpus]]-sized maintainer (the production path) at every
    * scale, and the pinned-config singleton (gate parity config) at sf0.01
    * and sf0.1 only: at sf1 its drain died in spill, which SCALE.md
    * records.
    */
  private def drain(spark: SparkSession, dirs: Seq[(String, String)]): Unit = {
    // a drain that dies records NaN instead of killing the probe: the
    // pinned-config StreamingKnn drain at sf1 exhausted ~79 GB of spill
    // scratch mid-sort (the quadratic candidate mass, in disk form),
    // which is a MEASUREMENT, not a harness bug
    def run(label: String, src: DataFrame, idCol: String)(
        body: (org.apache.spark.sql.types.StructType, String, String,
          String) => Unit): Double = {
      val root = Files.createTempDirectory("graft-drainprobe")
      val in = root.resolve("in"); Files.createDirectories(in)
      (0 until Batches).foreach { b =>
        src.filter(pmod(col(idCol), lit(Batches)) === b)
          .write.mode("append").parquet(in.toString)
      }
      val dt =
        try time(body(src.schema, in.toString,
          root.resolve("store").toString, root.resolve("ckpt").toString))
        catch { case e: Throwable =>
          println(s"[drain] $label FAILED: ${e.getClass.getSimpleName} " +
            s"${Option(e.getMessage).getOrElse("").take(120)}")
          Double.NaN
        }
      if (!dt.isNaN) println(f"[drain] $label%-34s $dt%8.2f s")
      // reclaim the store/input — sf1 postings are sizable
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
      dt
    }

    val results = scala.collection.mutable.Map
      .empty[(String, String), Double]
    dirs.foreach { case (label, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .localCheckpoint()
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .localCheckpoint()
      val nVec = emb.count()
      def rec(name: String, dt: Double): Unit = results((label, name)) = dt
      rec("sparse", run(s"$label StreamingSparse", docs, "doc_id")(
        graft.streaming.StreamingSparse.runAvailableNow(spark, _, _, _, _)))
      rec("dsir", run(s"$label StreamingDsir", docs, "doc_id")(
        graft.streaming.StreamingDsir.runAvailableNow(spark, _, _, _, _)))
      rec("ppl", run(s"$label StreamingPpl", docs, "doc_id")(
        graft.streaming.StreamingPpl.runAvailableNow(spark, _, _, _, _)))
      rec("hnsw", run(s"$label StreamingHnsw", emb, "vec_id")(
        graft.streaming.StreamingHnsw.runAvailableNow(spark, _, _, _, _)))
      val sized = graft.streaming.StreamingKnn.forExpectedCorpus(
        nVec, s"probe-$label")
      rec("knn-sized", run(s"$label StreamingKnn (sized n=$nVec)", emb,
        "vec_id")(sized.runAvailableNow(spark, _, _, _, _)))
      if (label != "sf1")
        rec("knn-pinned", run(s"$label StreamingKnn (pinned 4x20)", emb,
          "vec_id")(
          graft.streaming.StreamingKnn.runAvailableNow(spark, _, _, _, _)))
      sweep(spark)
    }
    ratios("drain", Seq("sparse", "dsir", "ppl", "hnsw", "knn-sized",
      "knn-pinned"), (l, n) => results.getOrElse((l, n), Double.NaN))
  }
}
