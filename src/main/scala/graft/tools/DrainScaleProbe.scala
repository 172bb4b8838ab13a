package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 scaling evidence for the five streaming maintainers' DRAIN paths
  * (VERDICT r16 #6 — the one heavy family the r16 probe never curved):
  * each maintainer ingests the same table it indexes, chopped into a
  * FIXED number of arrival batches (batch count constant, batch size
  * scaling with the corpus — the per-row drain cost is the measured
  * quantity), via the production `runAvailableNow` surface into a fresh
  * store + checkpoint per run. Times the full drain at
  * sf0.01 → sf0.1 → sf1 (the [[ScaleProbe]]-derived 10× corpus); a
  * super-linear step is a plan defect in the per-batch incremental work
  * (e.g. the fixed-banding candidate blowup the batch builds had until
  * r17's derived default).
  *
  * StreamingKnn is probed TWICE at sf1: the pinned-config singleton
  * (gate parity config — expected super-linear at 10×, the same cause
  * the batch build had) and the [[graft.streaming.StreamingKnn
  * .forExpectedCorpus]]-sized maintainer (the production path — the
  * remedy's streaming leg).
  */
object DrainScaleProbe {
  val Batches = 4

  def main(args: Array[String]): Unit = {
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/sfprobe/sf1")
    val spark = graft.GraftSession.local()
    require(new java.io.File(s"$sf1Dir/_DERIVED_OK").exists(),
      s"run graft.tools.ScaleProbe first to derive $sf1Dir")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    /** Chop `src` into [[Batches]] id-keyed parquet appends under a fresh
      * input dir, then time drain(schema, in, store, ckpt). A drain that
      * dies records NaN instead of killing the probe — the first live
      * run proved why: the PINNED-config StreamingKnn drain at sf1
      * exhausted ~79 GB of spill scratch mid-sort (the quadratic
      * candidate mass, in disk form), which is a MEASUREMENT, not a
      * harness bug.
      */
    def drain(label: String, src: DataFrame, idCol: String)(
        run: (org.apache.spark.sql.types.StructType, String, String,
          String) => Unit): Double = {
      val root = Files.createTempDirectory("graft-drainprobe")
      val in = root.resolve("in"); Files.createDirectories(in)
      (0 until Batches).foreach { b =>
        src.filter(pmod(col(idCol), lit(Batches)) === b)
          .write.mode("append").parquet(in.toString)
      }
      val dt =
        try time(run(src.schema, in.toString,
          root.resolve("store").toString, root.resolve("ckpt").toString))
        catch { case e: Throwable =>
          println(s"[drain] $label FAILED: ${e.getClass.getSimpleName} " +
            s"${Option(e.getMessage).getOrElse("").take(120)}")
          Double.NaN
        }
      if (!dt.isNaN) println(f"[drain] $label%-34s $dt%8.2f s")
      // reclaim the store/input — sf1 postings are sizable
      def rm(p: java.nio.file.Path): Unit = {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally s.close()
      }
      rm(root)
      dt
    }

    val dirs = Seq("sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1", "sf1" -> sf1Dir)
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Double)]
    dirs.foreach { case (label, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .localCheckpoint()
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .localCheckpoint()
      val nVec = emb.count()
      def rec(name: String, dt: Double): Unit =
        results += ((label, name, dt))
      rec("sparse", drain(s"$label StreamingSparse", docs, "doc_id")(
        graft.streaming.StreamingSparse.runAvailableNow(spark, _, _, _, _)))
      rec("dsir", drain(s"$label StreamingDsir", docs, "doc_id")(
        graft.streaming.StreamingDsir.runAvailableNow(spark, _, _, _, _)))
      rec("ppl", drain(s"$label StreamingPpl", docs, "doc_id")(
        graft.streaming.StreamingPpl.runAvailableNow(spark, _, _, _, _)))
      rec("hnsw", drain(s"$label StreamingHnsw", emb, "vec_id")(
        graft.streaming.StreamingHnsw.runAvailableNow(spark, _, _, _, _)))
      val sized = graft.streaming.StreamingKnn.forExpectedCorpus(
        nVec, s"probe-$label")
      rec("knn-sized", drain(s"$label StreamingKnn (sized n=$nVec)", emb,
        "vec_id")(sized.runAvailableNow(spark, _, _, _, _)))
      // pinned config LAST — measured at sf1 on 2026-08-16: the drain
      // DIED in spill ([SPILL_OUT_OF_MEMORY] "No space left on device"
      // after exhausting ~79 GB of scratch mid-sort) — the quadratic
      // candidate mass in disk form. That failure IS the data point, so
      // sf1 re-runs of the pinned config are opt-in
      // (SPARK_GRAFT_DRAIN_PINNED_SF1=1) to avoid re-filling a shared
      // box's disk for a known answer; sized is already on record above.
      if (label != "sf1" || sys.env.contains("SPARK_GRAFT_DRAIN_PINNED_SF1"))
        rec("knn-pinned", drain(s"$label StreamingKnn (pinned 4x20)", emb,
          "vec_id")(
          graft.streaming.StreamingKnn.runAvailableNow(spark, _, _, _, _)))
      else println(s"[drain] $label StreamingKnn (pinned 4x20) SKIPPED — " +
        "measured spill-OOM at sf1 (see scaladoc); " +
        "set SPARK_GRAFT_DRAIN_PINNED_SF1=1 to re-run")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    println("[drain] ---- ratios (linear = ~10x per step) ----")
    results.map(_._2).distinct.foreach { n =>
      def at(l: String) = results.find(r => r._1 == l && r._2 == n)
        .map(_._3).getOrElse(Double.NaN)
      val (a, b, c) = (at("sf0.01"), at("sf0.1"), at("sf1"))
      println(f"[drain] $n%-12s $a%7.2f -> $b%7.2f -> $c%7.2f   " +
        f"x${b / a}%5.1f / x${c / b}%5.1f")
    }
    spark.stop()
  }
}
