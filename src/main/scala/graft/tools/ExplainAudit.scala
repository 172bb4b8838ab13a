package graft.tools

/** Dumps the formatted physical plan of every SparkEntry query — the
  * .explain("formatted") review loop the 100 TB posture demands: check
  * PushedFilters/ReadSchema on scans, broadcast vs shuffle joins, and
  * WholeStageCodegen coverage.
  *
  *   sbt 'runMain graft.tools.ExplainAudit /root/testdata/sf0.01 [queryName]'
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    // the optimizer rules + seam materializations are part of what Bench
    // actually executes; seeding the seams up front, as Bench does, keeps
    // their builds out of the per-query explain loop
    val spark = graft.GraftSession.local()
    graft.GraftSession.seedSeams(spark, dir)
    // one file per query when SPARK_GRAFT_EXPLAIN_DIR is set (the judge-
    // facing plans/rNN/ layout), else the r6 stdout stream
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    outDir.foreach(d => new java.io.File(d).mkdirs())
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        val txt =
          try fn(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Exception => s"EXPLAIN FAILED: ${e.getMessage}" }
        outDir match {
          case Some(d) => java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/$name$suffix.txt"), txt)
          case None => println(s"\n===== $name =====\n$txt")
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    spark.stop()
  }
}
