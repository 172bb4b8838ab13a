package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a call into one layer of the program. `parent` is
  * the span that was open when this one started (-1 at the top), `pass`
  * the benchmark pass it belongs to (-1 for set-up).
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    pass: Int, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: the span id travels to the
  * scheduler as a thread-local job property, so every job, stage and task
  * a call launches is counted against it, whichever thread ran the job.
  * Written only by the listener-bus thread; read after the bus stopped.
  */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** The listener the benchmark registers in traced runs. */
final class SparkCounters extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
  private def work(span: Int): Work = bySpan.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    work(spanOf(e.properties)).jobs += 1

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    work(s).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = work(stageSpan.getOrDefault(e.stageId, -1))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Work of exactly this span (children not included). */
  def own(span: Int): Work = Option(bySpan.get(span)).getOrElse(new Work)
}

object Tracer { val Key = "perfbench.span" }

/** Span recorder. Disabled, it only runs the body: end-to-end runs carry
  * no listener and no span bookkeeping. Spans stay in memory until the
  * run ends.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  val counters: Option[SparkCounters] =
    if (enabled) { val c = new SparkCounters; sc.addSparkListener(c); Some(c) }
    else None
  private var open: List[Int] = Nil

  def span[T](name: String, layer: String, pass: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val s = Span(id, open.headOption.getOrElse(-1), name, layer, pass,
        System.nanoTime(), 0L)
      spans += s
      open = id :: open
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  private lazy val children: Map[Int, Seq[Int]] =
    spans.toSeq.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }

  /** Work of a span and every span under it. Call after the listener bus
    * has drained (after `SparkContext.stop`).
    */
  def total(span: Int): Work = {
    val w = new Work
    def go(id: Int): Unit = {
      counters.foreach(c => w.add(c.own(id)))
      children.getOrElse(id, Nil).foreach(go)
    }
    go(span)
    w
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val w = total(s.id)
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "pass" -> s.pass, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "jobs" -> w.jobs, "stages" -> w.stages,
      "tasks" -> w.tasks, "task_ms" -> w.taskMs)
  }
}
