package graft.tools

/** Dev-only recall probe for the HNSW beam search: exact-top-k recall of
  * annHnswTopk at several (beamWidth, rounds) operating points.
  *
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.tools.HnswProbe /root/testdata/sf0.1'
  */
object HnswProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val exact = graft.ops.SimilarityOps.annCosineTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    for ((e, b, r, d) <- Seq((6, 48, 3, 20))) {
      val t0 = System.nanoTime()
      val got = graft.ops.SimilarityOps.annHnswTopk(spark, dir,
          bitsPerBand = 8, bands = 10, degree = d, levelMod = 16,
          entries = e, beamWidth = b, rounds = r)
        .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
      val recall = got.intersect(exact).size.toDouble / exact.size
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[hnsw] e=$e%-3d beam=$b%-3d rounds=$r%d deg=$d%-3d recall=$recall%.3f (${got.intersect(exact).size}/${exact.size}) $dt%6.2f s")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
