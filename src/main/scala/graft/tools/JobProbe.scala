package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Dev-only empirical profiler (guide §1.1 — the "open the Spark UI,
  * find the slowest stage" loop, headless) over the session and seeded
  * seams `Bench` runs on, so it measures the plan the bench times. For
  * each named query it prints:
  *   - the cold time, then `SPARK_GRAFT_PROBE_REPS` (default 3) warm reps
  *     and their median — the A/B protocol BASELINE.md records verdict
  *     numbers from (a cold dedup_minhash_lsh once measured 125 s vs 19 s
  *     warm purely from interpreted-expression JIT warm-up);
  *   - every job and the slowest stages of the last warm rep, with wall
  *     time, task time, shuffle read/write bytes and rows, so the
  *     expensive stage is named instead of guessed: each stage is labelled
  *     by the SQL operators its RDDs run ([[stageLabel]]), not by its call
  *     site, which under AQE is the same CompletableFuture frame for
  *     almost every stage. The eager
  *     localCheckpoints many operators mint at plan construction show up
  *     as their own jobs here — exactly the cost the final action's plan
  *     hides;
  *   - `COUNT <query> <n>`: the shuffle exchanges ([[exchangeCount]]) of
  *     the query's physical plan (AQE initial plan), read once in the
  *     last rep — the served plan PlanLintSpec budgets, at this dir's
  *     scale rather than the spec's sf0.001.
  *
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.tools.JobProbe /root/testdata/sf0.1 knn_delete_repair'
  */
object JobProbe {

  /** Shuffle exchanges in a physical plan's string form — anchored so the
    * match can't land inside "BroadcastExchange"/"ReusedExchange" node
    * names (broadcasts are cheap by design, reused exchanges don't
    * re-execute). RoundRobinPartitioning IS counted: a stray
    * repartition(n) is a full shuffle. Range exchanges count too.
    */
  def exchangeCount(plan: String): Int =
    ("(?<![A-Za-z])Exchange " +
      "(hashpartitioning|SinglePartition|RoundRobinPartitioning|" +
      "rangepartitioning)").r.findAllIn(plan).size

  /** The SQL operators a stage runs, in RDD order (e.g. `Scan parquet >
    * WholeStageCodegen (2) > Exchange`): the operation scopes Spark tags
    * each operator's RDDs with. A stage with no scoped RDD keeps its name.
    */
  def stageLabel(si: StageInfo): String = {
    val ops = si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim))
      .distinct
    if (ops.isEmpty) si.name else ops.mkString(" > ")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: JobProbe <sfDir> <query> [query ...]")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    require(reps >= 1, "SPARK_GRAFT_PROBE_REPS must be at least 1")
    val spark = graft.GraftSession.local()
    graft.GraftSession.seedSeams(spark, dir)

    case class JobRec(id: Int, var desc: String = "", var start: Long = 0,
      var end: Long = 0)
    case class StageRec(jobId: Int, stageId: Int, name: String, wall: Double,
      taskSec: Double, nTasks: Int, inRows: Long, shRead: Long, shWrite: Long,
      outRows: Long, spill: Long)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = mutable.ArrayBuffer[StageRec]()
    val stageToJob = mutable.Map[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val r = JobRec(js.jobId,
          Option(js.properties.getProperty("spark.job.description"))
            .getOrElse(""), js.time)
        jobs.synchronized { jobs(js.jobId) = r }
        js.stageIds.foreach(sid => stageToJob.synchronized {
          stageToJob(sid) = js.jobId })
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val jid = stageToJob.synchronized {
          stageToJob.getOrElse(si.stageId, -1) }
        stages.synchronized {
          stages += StageRec(jid, si.stageId, stageLabel(si),
            (si.completionTime.getOrElse(0L) -
              si.submissionTime.getOrElse(0L)) / 1e3,
            m.executorRunTime / 1e3,
            si.numTasks,
            m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.outputMetrics.recordsWritten,
            m.memoryBytesSpilled)
        }
      }
    }

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // one timed execution, construction included (its eager checkpoints
      // are part of the cost); returns the wall seconds. `planned` sees the
      // query's DataFrame before the cache sweep below
      def once(label: String)(planned: DataFrame => Unit = _ => ()): Double = {
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(n)
        val df: DataFrame = fn(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        planned(df)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        println(f"[probe] $n%-34s $label%-8s $dt%8.2f s")
        dt
      }
      once("cold")()
      val warm = (1 until reps).map(i => once(s"warm $i")())
      // the last warm rep is profiled
      jobs.clear(); stages.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      var exchanges = 0
      val last = once(s"warm $reps") { df =>
        exchanges = exchangeCount(df.queryExecution.executedPlan.toString) }
      // drain listener events before reading (the bus is async)
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      val med = graft.Bench.median(warm :+ last)
      println(f"[probe] $n%-34s median-of-$reps%d warm: $med%8.2f s")
      println(f"\n===== $n: last warm rep $last%.2f s, ${jobs.size}%d jobs =====")
      jobs.values.toSeq.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
        println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.2f s  ${j.desc.take(80)}")
      }
      println("  -- slowest stages --")
      stages.toSeq.sortBy(-_.wall).take(14).foreach { st =>
        println(f"  stage ${st.stageId}%4d job ${st.jobId}%3d wall ${st.wall}%6.2f task ${st.taskSec}%7.2f n ${st.nTasks}%3d " +
          f"inRows ${st.inRows}%9d shR ${st.shRead / 1024}%8d KiB shW ${st.shWrite / 1024}%8d KiB  ${st.name.take(100)}")
      }
      println(s"COUNT $n $exchanges")
    }
    spark.stop()
  }
}
