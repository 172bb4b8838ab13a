package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One operation of a workload's fixed list. `body` receives the pass
  * number (0 is the cold pass).
  */
final case class Op(name: String, body: Int => Unit)

/** What every workload run shares: the session, the tracer and its
  * directories (the seeded inputs are generated before the JVM starts).
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, data: String,
    work: Path, out: Path) {
  def span[T](name: String, layer: String, pass: Int)(body: => T): T =
    tracer.span(name, layer, pass)(body)
}

trait Workload {
  /** Set up the workload, once per run (spans in pass -1). */
  def setup(): Unit
  /** The fixed list of operations, in order. */
  def ops: Seq[Op]
  /** Untimed reset before a pass, so every pass does the same work. */
  def beforePass(pass: Int): Unit = ()
  /** Untimed bookkeeping after a pass (counts the checks read). */
  def afterPass(pass: Int): Unit = ()
  /** Untimed end-of-run work, before the live heap is measured: dumps for
    * the checks, extra result fields.
    */
  def finish(): Map[String, Any] = Map.empty
  /** Workload-specific per-layer metrics over the warm passes. */
  def layerMetrics(warm: Seq[Int]): Map[String, Double] = Map.empty
  /** The oracle SQL of every checked query the workload ran. */
  def oracleSql: Map[String, String] = Map.empty
  /** The fewest warm passes a run makes. */
  def warmPasses: Int = 1
}

/** Runs one workload in this JVM: set-up, one cold pass, then warm
  * passes until they add up to `--seconds` (at least the workload's
  * `warmPasses`). Writes `<out>/result.json` (and `<out>/trace.json` when
  * traced); the Python front end turns it into the benchmark's result
  * line.
  */
object Main {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(args("out"))
    Files.createDirectories(out)
    if (args.get("mode").contains("oracle-sql")) {
      // the oracle SQL of the named queries, for rebuilding the cache
      val names = args("queries").split(",").toSeq
      write(out.resolve("oracle_sql.json"),
        toJson(names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
      return
    }
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(args("work"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // status-store caps, as the program's own build sets for its runs
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(args("trace") == "1", spark.sparkContext)
    val ctx = Ctx(spark, tracer, args("data"), work, out)
    val workload: Workload = args("workload") match {
      case "etl_files" => new EtlFiles(ctx)
      case "corpus_churn" => new CorpusChurn(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    graft.GraftOptimizations.install(spark)
    workload.setup()
    // set-up ends here; it began when the front end launched this JVM
    val setupDoneMs = System.currentTimeMillis()

    val ops = workload.ops
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer[String]()
    val opSeconds = ArrayBuffer[Map[String, Double]]()
    def runPass(pass: Int): Double = {
      workload.beforePass(pass)
      val times = ops.map { op =>
        val t0 = System.nanoTime()
        attempted += 1
        try tracer.span(op.name, "op", pass)(op.body(pass))
        catch { case e: Throwable =>
          failed += 1
          failures += s"pass $pass ${op.name}: $e"
          System.err.println(s"[perfbench] ${op.name} failed in pass $pass")
          e.printStackTrace()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // the same between-operation hygiene as the program's Bench
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        op.name -> dt
      }
      workload.afterPass(pass)
      opSeconds += times.toMap
      times.map(_._2).sum
    }

    val seconds = args("seconds").toDouble
    val tRun0 = System.nanoTime()
    val cold = runPass(0)
    val warm = ArrayBuffer[Double]()
    while (warm.size < workload.warmPasses || warm.sum < seconds) {
      quiesce()
      warm += runPass(warm.size + 1)
    }
    val measuredS = (System.nanoTime() - tRun0) / 1e9

    val tFinish = System.nanoTime()
    val extra = workload.finish()
    System.err.println(f"[perfbench] measured $measuredS%.1f s, " +
      f"finish ${(System.nanoTime() - tFinish) / 1e9}%.1f s")
    val heapLiveMb = liveHeapMb()
    val oracle = workload.oracleSql
    spark.stop() // drains the listener bus before the span work is read

    val warmPasses = (1 to warm.size).toSeq
    val layers =
      if (tracer.enabled)
        workload.layerMetrics(warmPasses) ++
          genericLayers(tracer, warmPasses, ops.map(_.name), cores) ++ jvmLayers()
      else Map.empty[String, Double]
    val result = Map(
      "workload" -> args("workload"),
      "setup_done_ms" -> setupDoneMs,
      "cold_pass_s" -> cold,
      "warm_pass_s" -> warm.toSeq,
      "op_s" -> opSeconds.toSeq,
      "measured_s" -> measuredS,
      "heap_live_mb" -> heapLiveMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "ops" -> ops.map(_.name),
      "oracle_sql" -> oracle,
      "per_layer" -> layers,
      "cores" -> cores) ++ extra
    if (tracer.enabled) write(out.resolve("trace.json"), toJson(tracer.toJson))
    write(out.resolve("result.json"), toJson(result))
  }

  /** Per-layer metrics every workload reports from its spans: Spark work
    * under the operations, query build/exec split, per-operation time and
    * jobs. Each is the median over the warm passes of its per-pass value.
    */
  private def genericLayers(t: Tracer, warm: Seq[Int], opNames: Seq[String],
      cores: Int): Map[String, Double] = {
    val opSpans = t.spans.filter(_.layer == "op")
    def perPass(f: Int => Double): Double = median(warm.map(f))
    def opsIn(p: Int) = opSpans.filter(_.pass == p)
    def work(p: Int) = {
      val w = new Work
      opsIn(p).foreach(s => w.add(t.total(s.id)))
      w
    }
    def named(p: Int, name: String) =
      t.spans.filter(s => s.pass == p && s.layer == "query" && s.name == name)
    val spark = Map(
      "spark.jobs" -> perPass(p => work(p).jobs.toDouble),
      "spark.stages" -> perPass(p => work(p).stages.toDouble),
      "spark.tasks" -> perPass(p => work(p).tasks.toDouble),
      "spark.task_s" -> perPass(p => work(p).taskMs / 1000.0),
      "spark.core_util" -> perPass { p =>
        val wall = opsIn(p).map(_.seconds).sum
        if (wall <= 0) 0.0 else work(p).taskMs / 1000.0 / (wall * cores)
      },
      "spark.shuffle_write_mb" ->
        perPass(p => work(p).shuffleWriteBytes / 1048576.0),
      "spark.spill_mb" -> perPass(p => work(p).spillBytes / 1048576.0),
      "spark.task_gc_s" -> perPass(p => work(p).gcMs / 1000.0),
      "query.build_s" -> perPass(p => named(p, "build").map(_.seconds).sum),
      "query.build_jobs" ->
        perPass(p => named(p, "build").map(s => t.total(s.id).jobs).sum.toDouble),
      "query.exec_s" -> perPass(p => named(p, "exec").map(_.seconds).sum))
    val perOp = opNames.flatMap { n =>
      def sp(p: Int) = opsIn(p).filter(_.name == n)
      Seq(s"op.$n.s" -> perPass(p => sp(p).map(_.seconds).sum),
        s"op.$n.jobs" -> perPass(p => sp(p).map(s => t.total(s.id).jobs).sum.toDouble))
    }
    spark ++ perOp
  }

  /** Untimed: wait (at most 3 s) until the JIT compiler has been idle for
    * 300 ms, so a warm pass does not share the cores with the compilations
    * the previous pass queued.
    */
  private def quiesce(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    val deadline = t0 + 3000000000L
    var last = -1L
    while (System.nanoTime() < deadline && jit.getTotalCompilationTime != last) {
      last = jit.getTotalCompilationTime
      Thread.sleep(300)
    }
    System.err.println(f"[perfbench] quiesce ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Live heap: the least heap in use after each of five full
    * collections, a short pause apart. One collection is not enough: the
    * references it clears let Spark's cleaner and finalizers release more
    * for the next one.
    */
  private def liveHeapMb(): Double = (1 to 5).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def jvmLayers(): Map[String, Double] = {
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val peak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("jvm.jit_s" -> jit / 1000.0, "jvm.gc_s" -> gc / 1000.0,
      "jvm.heap_peak_mb" -> peak / 1048576.0)
  }

  def toJson(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  /** Total size of the regular files under `p`, in MB. */
  def diskMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum / 1048576.0
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }

  def copyRecursively(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from)) { s =>
      s.iterator.asScala.foreach { f =>
        val dst = to.resolve(from.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(dst)
        else Files.copy(f, dst)
      }
    }
}
