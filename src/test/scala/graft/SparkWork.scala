package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** The Spark jobs and stages a block of code runs. */
object SparkWork {
  final case class Counts(jobs: Int, stages: Int)

  /** Jobs and stages `body` runs, counted by a listener on a job-local
    * property (the tagging perfbench's tracer uses), so the work of other
    * threads does not count. Skipped stages (their shuffle output reused)
    * are never submitted, so they do not count either. A marker job run
    * after `body` is seen by the listener only once every earlier event
    * was: the bus delivers in order.
    */
  def of(spark: SparkSession)(body: => Unit): Counts = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val stages = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def tagOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(key)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tagOf(e.properties).foreach(jobs.merge(_, 1, (a, b) => a + b))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        tagOf(e.properties).foreach(stages.merge(_, 1, (a, b) => a + b))
    }
    val prev = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      sc.setLocalProperty(key, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.containsKey("marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.containsKey("marker"), "listener bus never delivered")
      Counts(jobs.getOrDefault("body", 0), stages.getOrDefault("body", 0))
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
