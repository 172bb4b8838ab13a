package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Companion to [[ScaleProbe]] (r16): the sf1 run measured the kNN
  * BUILD family super-linear (×20–37 per ×10 data) while every other
  * probed family stayed ≤ linear. The cause is the FIXED sign-LSH
  * banding config: 4 bits/band = 16 buckets regardless of corpus size,
  * so per-bucket occupancy grows ∝ n and the cohabitation cogroup's
  * candidate count ∝ Σ occ² grows ∝ n² — the documented
  * `ann_lsh_occupancy` knob left unturned. This probe measures the
  * remedy ON the derived sf1 corpus: the same [[graft.ops.SimilarityOps
  * .knnJoin]] build at occupancy-scaled bits (buckets ∝ n keeps
  * occupancy, and therefore per-band candidate mass, ∝ n — linear),
  * plus the neighbor-set agreement between the two configs so the
  * speed/recall trade is visible in the same table.
  */
object BandScaleProbe {
  def main(args: Array[String]): Unit = {
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/sfprobe/sf1")
    val spark = graft.GraftSession.local()
    require(new java.io.File(s"$sf1Dir/_DERIVED_OK").exists(),
      s"run graft.tools.ScaleProbe first to derive $sf1Dir")

    def time[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[band] $name%-40s $dt%8.2f s"); (r, dt)
    }
    def pairs(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("neighbor_id"))

    // SPARK_GRAFT_BAND_HNSWONLY=1 skips the (slow, already-recorded)
    // knn section — the hnsw band ladder iterates alone
    if (sys.env.contains("SPARK_GRAFT_BAND_HNSWONLY")) {
      hnswSection(spark, sf1Dir); spark.stop(); return
    }

    // fixed gate config (4 bits = 16 buckets; occupancy ~1250 at 20k)
    val (p4, _) = time("knnJoin sf1 bits=4 bands=20 (build+count)") {
      val p = pairs(graft.ops.SimilarityOps.knnJoin(spark, sf1Dir, 4, 20,
        graft.ops.SimilarityOps.K)).localCheckpoint()
      (p, p.count())
    }
    // occupancy-scaled: 7 bits = 128 buckets (occupancy ~156 — the
    // sf0.1-equivalent load per bucket)
    val (p7, _) = time("knnJoin sf1 bits=7 bands=20 (build+count)") {
      val p = pairs(graft.ops.SimilarityOps.knnJoin(spark, sf1Dir, 7, 20,
        graft.ops.SimilarityOps.K)).localCheckpoint()
      (p, p.count())
    }
    // same scaled buckets, more bands — buys recall back at linear cost
    val (p7b, _) = time("knnJoin sf1 bits=7 bands=40 (build+count)") {
      val p = pairs(graft.ops.SimilarityOps.knnJoin(spark, sf1Dir, 7, 40,
        graft.ops.SimilarityOps.K)).localCheckpoint()
      (p, p.count())
    }
    // the SHIPPED default path (r17 — bitsFor/bandsFor derived from the
    // corpus count): whatever it derives is what a user gets at this n
    val (pd, _) = time("knnJoin sf1 DERIVED default (build+count)") {
      val p = pairs(graft.ops.SimilarityOps.knnJoin(spark, sf1Dir))
        .localCheckpoint()
      (p, p.count())
    }
    val dBits = graft.ops.SimilarityOps.derivedBits(spark, sf1Dir)
    val dBands = graft.ops.SimilarityOps.bandsFor(dBits)
    println(s"[band] derived config at sf1: bits=$dBits bands=$dBands")
    // counts were computed inside the timed blocks — reuse, don't rescan
    val n4 = p4._2; val n7 = p7._2; val n7b = p7b._2
    def overlap(a: DataFrame, b: DataFrame): Long =
      a.join(b, Seq("vec_id", "neighbor_id")).count()
    val o7 = overlap(p4._1, p7._1); val o7b = overlap(p4._1, p7b._1)
    println(f"[band] pairs: bits4 $n4%d, bits7 $n7%d (agree $o7%d = " +
      f"${o7.toDouble / n4}%.3f of bits4), bits7x40 $n7b%d (agree $o7b%d = " +
      f"${o7b.toDouble / n4}%.3f of bits4)")

    // recall vs EXACT (VERDICT r16 #2 — the r16 numbers were agreement
    // vs the bits=4 OUTPUT, itself only ~0.94-0.96 recall): the SHARED
    // sampled-exact estimator (SimilarityOps.sampledExactTopK — the
    // same code knn_recall_audit serves, so the probe can never
    // validate a different estimator than the shipped query), each
    // config's lists scored against it. This is the number the shipped
    // default must hold ≥ 0.8 at.
    val S = graft.ops.SimilarityOps
    val k = S.K
    val emb = spark.read.parquet(s"$sf1Dir/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.normalize(
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")))
          .as("v"))
      .localCheckpoint()
    val exact = S.sampledExactTopK(emb, k).localCheckpoint()
    val nTruth = exact.count()
    def recall(name: String, lists: DataFrame): Double = {
      val hit = exact.join(
        lists.select(col("vec_id").as("node"),
          col("neighbor_id").as("nbr")),
        Seq("node", "nbr"), "left_semi").count()
      val r = hit.toDouble / nTruth
      println(f"[band] recall@$k vs exact ($name%-16s): $r%.3f " +
        f"($hit%d/$nTruth%d)")
      r
    }
    recall("bits4x20 gate", p4._1)
    recall("bits7x20", p7._1)
    recall("bits7x40", p7b._1)
    val rd = recall(s"derived ${dBits}x$dBands", pd._1)
    require(rd >= 0.8,
      f"shipped derived config recall $rd%.3f < 0.8 — retune bandsFor")

    hnswSection(spark, sf1Dir)
    spark.stop()
  }

  /** The HNSW sizing leg (r17 review): StreamingHnsw.forExpectedCorpus
    * derives 12 bits at 20k — raising bits at FIXED bands must show
    * the recall collapse the knn family measured, and the band ladder
    * measures how many bands buy the SERVING (beam) recall back.
    * Direct out-adjacency capture (a relative metric) plus end-to-end
    * BEAM recall per config — the beam number is what a deployment
    * holds.
    */
  private def hnswSection(spark: SparkSession, sf1Dir: String): Unit = {
    val S = graft.ops.SimilarityOps
    val H = graft.ops.HnswIndex
    val k = S.K
    def time[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[band] $name%-40s $dt%8.2f s"); (r, dt)
    }
    val emb = spark.read.parquet(s"$sf1Dir/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.normalize(
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")))
          .as("v"))
      .localCheckpoint()
    val exactD = S.sampledExactTopK(emb, H.Degree).localCheckpoint()
    val nTruthD = exactD.count()
    def hnswRecall(bits: Int, bands: Int): Unit = {
      val (out, _) = time(f"hnswOut sf1 ${bits}x$bands (build)") {
        val o = S.hnswOutInline(spark, sf1Dir, bits, bands, H.Degree)
          .select(col("node"), col("nbr")).localCheckpoint()
        (o, o.count())
      }
      val hit = exactD.join(out._1, Seq("node", "nbr"), "left_semi").count()
      println(f"[band] hnsw out-recall@${H.Degree} (${bits}x$bands): " +
        f"${hit.toDouble / nTruthD}%.3f ($hit%d/$nTruthD%d)")
    }
    val exactQ = S.annCosineTopk(spark, sf1Dir)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val nQ = exactQ.count()
    def beamRecall(name: String, bits: Int, bands: Int): Unit = {
      val (got, _) = time(f"annHnswTopk sf1 ${bits}x$bands") {
        val g = S.annHnswTopk(spark, sf1Dir, bits, bands, H.Degree,
            H.LevelMod, H.Entries)
          .select(col("query_id"), col("neighbor_id")).localCheckpoint()
        (g, g.count())
      }
      val hit = exactQ.join(got._1, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      println(f"[band] hnsw BEAM recall@$k ($name%-12s): " +
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
}
