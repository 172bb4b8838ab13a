package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.SparkEntry
import graft.config.{ImportConfig, SearchConfig}
import graft.io.{JdbcTableSink, ResilientJdbcTableSink, TableSink}
import graft.ops.{ExportPipeline, ImportPipeline, KnnLists,
  SearchPipeline, Tables}
import graft.sources.xlsx.XlsxSheetSource
import graft.streaming.StreamingKnn

/** A registry query: the constructor call (`build`, where eager
  * checkpoint jobs run) then the report write (`exec`). Each pass writes
  * to its own directory so the checks read every pass's output.
  */
object QueryOp {
  def apply(ctx: Ctx, name: String): Op = Op(name, { pass =>
    val df = ctx.span("build", "query", pass)(
      SparkEntry.queries(name)(ctx.spark, ctx.data))
    ctx.span("exec", "query", pass)(
      df.coalesce(1).write.mode("overwrite")
        .parquet(ctx.out.resolve(s"p$pass/$name").toString))
  })
}

/** Medians over the warm passes of per-pass sums over spans: of their
  * durations by span name, of their Spark jobs by layer.
  */
private object Spans {
  def seconds(t: Tracer, warm: Seq[Int], name: String): Double =
    Main.median(warm.map(p =>
      t.spans.filter(s => s.pass == p && s.name == name).map(_.seconds).sum))
  def jobs(t: Tracer, warm: Seq[Int], layer: String): Double =
    Main.median(warm.map(p =>
      t.spans.filter(s => s.pass == p && s.layer == layer)
        .map(s => t.total(s.id).jobs).sum.toDouble))
}

/** The curation session: semantic dedup served from the seeded kNN-lists
  * seam, one analytic report (the native as-of join, standing for the
  * engine's own planner strategy), and a write block on the streaming
  * maintainer of the same lists (insert an arrival batch, tombstone a
  * delete set, compact, read the lists), each pass starting from the same
  * drained store.
  */
final class CorpusChurn(ctx: Ctx) extends Workload {
  import ctx.spark
  private val root = ctx.work.resolve("corpus")
  private val baseIn = root.resolve("base_in").toString
  private val arrivalsIn = root.resolve("arrivals_in").toString
  private val baseStore = root.resolve("base_store")
  private val store = root.resolve("store")
  private val emb = Tables(spark, ctx.data, "embeddings")
  // the seeded arrival and delete sets, cut by the generator
  private val deletes: Seq[Long] =
    Files.readAllLines(root.resolve("deletes.txt")).asScala.toSeq
      .filter(_.nonEmpty).map(_.toLong)

  private type Lists = Array[(Long, Long, Double)]
  private def collectLists(df: DataFrame): Lists =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted

  private var seamDiskMb = 0.0
  def setup(): Unit = {
    ctx.span("seam.knn_lists", "seam", -1)(KnnLists.seed(spark, ctx.data))
    ctx.span("streaming.drain", "streaming", -1)(
      StreamingKnn.runAvailableNow(spark, emb.schema, baseIn,
        baseStore.toString, root.resolve("base_ckpt").toString))
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    seamDiskMb = scala.util.Using.resource(Files.list(tmp)) { s =>
      s.iterator.asScala.filter { f =>
        val n = f.getFileName.toString
        n.startsWith("graft_knn_")
      }.map(Main.diskMb).sum
    }
  }

  private val passLists = mutable.Map[Int, Lists]()
  private val compactFired = mutable.Map[Int, Boolean]()
  private val storeMb = mutable.Map[Int, Double]()
  private def ckpt(pass: Int) = root.resolve(s"ckpt_$pass").toString

  private val writeOps = Seq(
    Op("knn_insert", p => ctx.span("streaming.insert", "streaming", p)(
      StreamingKnn.runAvailableNow(spark, emb.schema, arrivalsIn,
        store.toString, ckpt(p)))),
    Op("knn_delete", p => ctx.span("streaming.delete", "streaming", p) {
      import spark.implicits._
      StreamingKnn.applyDeletes(spark, store.toString,
        deletes.toDF("vec_id"))
    }),
    Op("knn_compact", p => compactFired(p) =
      ctx.span("streaming.compact", "streaming", p)(
        StreamingKnn.maybeCompact(spark, store.toString))),
    Op("knn_read", p => passLists(p) =
      ctx.span("streaming.read", "streaming", p)(
        collectLists(StreamingKnn.lists(spark, store.toString)))))

  private val reads = Seq("semdedup_knn", "asof_join_native")
  val ops: Seq[Op] = reads.map(QueryOp(ctx, _)) ++ writeOps

  override def beforePass(pass: Int): Unit = {
    Main.deleteRecursively(store)
    Main.copyRecursively(baseStore, store)
    Main.deleteRecursively(java.nio.file.Paths.get(ckpt(pass)))
  }

  override def afterPass(pass: Int): Unit = storeMb(pass) = Main.diskMb(store)

  /** One fresh drain of the surviving ids into an empty store: the lists
    * every pass must have ended with (the maintainer's
    * chop-independence property).
    */
  override def finish(): Map[String, Any] = {
    val freshIn = root.resolve("fresh_in").toString
    val freshStore = root.resolve("fresh_store").toString
    StreamingKnn.runAvailableNow(spark, emb.schema, freshIn, freshStore,
      root.resolve("fresh_ckpt").toString)
    val fresh = collectLists(StreamingKnn.lists(spark, freshStore))
    val passes = passLists.keys.toSeq.sorted
    // the last pass's lists and the delete set, for the checks made apart
    val last = passLists(passes.last)
    Main.write(ctx.out.resolve("knn_lists.csv"), last.map { case (n, m, c) =>
      s"$n,$m,${java.lang.Double.toString(c)}" }.mkString("node,nbr,ncos\n", "\n", "\n"))
    Map(
      "knn_passes" -> passes,
      "knn_equals_fresh_drain" -> passes.map(p => passLists(p).sameElements(fresh)),
      "knn_rows" -> passes.map(p => passLists(p).length),
      "knn_fresh_rows" -> fresh.length,
      "knn_compact_fired" -> passes.map(p => compactFired.getOrElse(p, false)))
  }

  override def layerMetrics(warm: Seq[Int]): Map[String, Double] = {
    val t = ctx.tracer
    val seam = t.spans.filter(s => s.pass == -1 && s.layer == "seam")
    Map(
      "seam.knn_lists.s" -> seam.filter(_.name == "seam.knn_lists")
        .map(_.seconds).sum,
      "seam.jobs" -> seam.map(s => t.total(s.id).jobs).sum.toDouble,
      "seam.disk_mb" -> seamDiskMb,
      "streaming.insert_s" -> Spans.seconds(t, warm, "streaming.insert"),
      "streaming.delete_s" -> Spans.seconds(t, warm, "streaming.delete"),
      "streaming.compact_s" -> Spans.seconds(t, warm, "streaming.compact"),
      "streaming.read_s" -> Spans.seconds(t, warm, "streaming.read"),
      "streaming.jobs" -> Spans.jobs(t, warm, "streaming"),
      "streaming.store_mb" -> Main.median(warm.map(storeMb)))
  }

  override def oracleSql: Map[String, String] =
    reads.map(n => n -> SparkEntry.oracleSql(n)).toMap
}

/** One line of the generator's `derby_tables.tsv`:
  * `table \t sink \t pk \t col,col,...`.
  */
private final case class DerbyTable(name: String, sink: String, pk: String,
    cols: Seq[String])

/** The source tool's own job over generated inputs: Excel→CSV export,
  * CSV→Derby import (half the tables through the batched JDBC sink, half
  * through the PK-constrained split-and-retry sink), then the invoice
  * search copying documents from the generated store. Last, a probe: a
  * fixed three-row CSV, one of its strings null, imported through the
  * batched sink into a predefined VARCHAR table, as the source tool's
  * targets are.
  */
final class EtlFiles(ctx: Ctx) extends Workload {
  import ctx.spark
  private val root = ctx.work.resolve("etl")
  private val settings = root.resolve("settings")
  private val probe = root.resolve("probe")
  private val probeTable = DerbyTable("PROBE", "jdbc", "ID",
    Seq("ID", "NAME", "CITY"))
  private val url = "jdbc:derby:memory:perfbench;create=true"

  private val tables: Seq[DerbyTable] =
    Files.readAllLines(root.resolve("derby_tables.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(n, s, pk, cs) = l.split("\t")
        DerbyTable(n, s, pk, cs.split(",").toSeq)
      }
  private val expectedSheets: Map[String, Set[String]] =
    Files.readAllLines(root.resolve("workbooks.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(wb, sheets) = l.split("\t")
        wb -> sheets.split(",").toSet
      }.toMap
  private val searchCfg = SearchConfig(Map(
    "serverName" -> "localhost", "databaseName" -> "docs",
    "query" -> "SELECT * FROM docs WHERE invnum IN ('INVOICE_NUMBERS')",
    "invoiceCsvPath" -> root.resolve("invoices.csv").toString,
    "docStoreRoot" -> root.resolve("docstore").toString,
    "destinationFolder" -> root.resolve("dest").toString))

  private def jdbc[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def setup(): Unit = jdbc { c =>
    val st = c.createStatement()
    tables.foreach { t =>
      // A workaround: the batched sink's tables get the CLOB columns
      // Spark's JDBC writer would create, since it binds null strings as
      // CLOB and so fails on VARCHAR columns. The probe table below keeps
      // VARCHAR, so that failure still shows. The split-and-retry sink's
      // tables carry the key constraint, so VARCHAR.
      val resilient = t.sink == "resilient"
      val cols = t.cols.map(n =>
        if (!resilient) s"$n CLOB"
        else s"$n VARCHAR(200)" + (if (n == t.pk) " NOT NULL" else ""))
      val pk = if (resilient) Seq(s"PRIMARY KEY (${t.pk})") else Nil
      st.executeUpdate(
        s"CREATE TABLE ${t.name} (${(cols ++ pk).mkString(", ")})")
    }
    st.executeUpdate(s"CREATE TABLE ${probeTable.name} (" +
      probeTable.cols.map(_ + " VARCHAR(200)").mkString(", ") + ")")
  }

  /** Times every sink write and keeps the split-and-retry sink's
    * skipped-row count.
    */
  private final class TimedSink(inner: TableSink, pass: Int) extends TableSink {
    def write(df: DataFrame, table: String): Unit =
      ctx.span("io.sink", "io", pass) {
        inner match {
          case r: ResilientJdbcTableSink =>
            skipped(pass) = skipped.getOrElse(pass, 0L) +
              r.writeSkippingErrors(df, table)
          case other => other.write(df, table)
        }
      }
  }
  private val skipped = mutable.Map[Int, Long]()
  private def sinkFor(pass: Int)(cfg: ImportConfig): TableSink = {
    val t = tables.find(_.name == cfg.table)
      .getOrElse(sys.error(s"no Derby table for ${cfg.table}"))
    new TimedSink(
      if (t.sink == "resilient")
        new ResilientJdbcTableSink(cfg, Some(url), quoteName = false)
      else new JdbcTableSink(cfg, Some(url), quoteName = false), pass)
  }

  // the first warm pass still runs code the JIT has not compiled yet:
  // three, reported as their median, read steadier than one
  override def warmPasses: Int = 3

  private val reports = mutable.Map[Int, SearchPipeline.SearchReport]()
  val ops: Seq[Op] = Seq(
    Op("export", p => ctx.span("io.export", "io", p) {
      val res = ExportPipeline.runAll(spark, settings, new XlsxSheetSource)
      val got = res.map(r => r.workbook -> r.exportedSheets.toSet).toMap
      require(got == expectedSheets, s"export: got $got")
    }),
    Op("import", p => ctx.span("io.import", "io", p) {
      val res = ImportPipeline.runAll(spark, settings, sinkFor(p))
      require(res.nonEmpty && res.forall(_._2), s"import: $res")
    }),
    Op("search", p => reports(p) = ctx.span("io.search", "io", p)(
      SearchPipeline.run(spark, searchCfg,
        spark.read.parquet(root.resolve("manifest.parquet").toString)))),
    Op("import_varchar", p => ctx.span("io.import_varchar", "io", p) {
      val res = ImportPipeline.runAll(spark, probe.resolve("settings"),
        cfg => new JdbcTableSink(cfg, Some(url), quoteName = false))
      require(res.nonEmpty && res.forall(_._2), s"import_varchar: $res")
    }))

  override def beforePass(pass: Int): Unit = {
    Seq("lastmod", "lastimp", "processed", "dest", "error", "csv_out")
      .foreach(d => Main.deleteRecursively(root.resolve(d)))
    Files.copy(root.resolve("invoices.pristine.csv"),
      root.resolve("invoices.csv"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Seq("in", "lastimp", "processed", "error")
      .foreach(d => Main.deleteRecursively(probe.resolve(d)))
    Files.createDirectories(probe.resolve("in"))
    Files.copy(probe.resolve("Probe.pristine.csv"),
      probe.resolve("in/Probe.csv"))
  }

  private val counts = mutable.Map[Int, Map[String, Long]]()
  private def listFiles(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Nil
    else scala.util.Using.resource(Files.list(d))(_.iterator.asScala.toSeq)

  override def afterPass(pass: Int): Unit = {
    val exported = listFiles(root.resolve("processed")).map(f =>
      Files.readAllLines(f, StandardCharsets.UTF_8).size - 1L).sum
    val sinkRows = jdbc { c =>
      tables.map { t =>
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${t.name}")
        rs.next(); rs.getLong(1)
      }.sum
    }
    val rejects = spark.read
      .parquet(root.resolve("error/rejected_rows").toString).count()
    counts(pass) = Map(
      "export_rows" -> exported, "sink_rows" -> sinkRows,
      "sink_skipped" -> skipped.getOrElse(pass, 0L), "reject_rows" -> rejects,
      "files_copied" -> reports.get(pass).map(_.nFilesFound).getOrElse(-1L),
      "dest_files" -> listFiles(root.resolve("dest")).size.toLong)
  }

  /** Dumps the in-memory Derby tables and the reject channel of the last
    * pass, then drops the database: it stands in for an external server,
    * so its pages are not counted in the live heap. The rest of the state
    * (CSVs, copied files, invoices) stays on disk for the checks.
    */
  override def finish(): Map[String, Any] = {
    val dump = jdbc { c =>
      (tables :+ probeTable).map { t =>
        val rs = c.createStatement().executeQuery(
          s"SELECT ${t.cols.mkString(", ")} FROM ${t.name}")
        val rows = mutable.ArrayBuffer[Seq[String]]()
        while (rs.next()) rows += t.cols.indices.map(i => rs.getString(i + 1))
        t.name -> rows.toSeq
      }.toMap
    }
    Main.write(ctx.out.resolve("derby.json"), Main.toJson(dump))
    val rejects = spark.read
      .parquet(root.resolve("error/rejected_rows").toString)
      .select("source", "row_json").collect()
      .map(r => Seq(r.getString(0), r.getString(1))).toSeq
    Main.write(ctx.out.resolve("rejects.json"), Main.toJson(rejects))
    // Derby reports a dropped in-memory database with SQLState 08006
    try java.sql.DriverManager.getConnection(url.replace("create=true", "drop=true"))
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
    val twin = "__X__"
    import graft.functions.RefFunctions._
    Map(
      "etl_counts" -> counts.toSeq.sortBy(_._1).map(_._2),
      "twins" -> Map(
        "sanitize" -> sanitizeSqlOracle(twin),
        "excel_date" -> excelSerialToSqlOracle(twin)))
  }

  override def layerMetrics(warm: Seq[Int]): Map[String, Double] = {
    val t = ctx.tracer
    def count(k: String) = Main.median(warm.map(p => counts(p)(k).toDouble))
    Map(
      "io.export_s" -> Spans.seconds(t, warm, "io.export"),
      "io.import_s" -> Spans.seconds(t, warm, "io.import"),
      "io.sink_write_s" -> Spans.seconds(t, warm, "io.sink"),
      "io.search_s" -> Spans.seconds(t, warm, "io.search"),
      "io.export_rows" -> count("export_rows"),
      "io.sink_rows" -> count("sink_rows"),
      "io.sink_skipped" -> count("sink_skipped"),
      "io.reject_rows" -> count("reject_rows"),
      "io.files_copied" -> count("files_copied"))
  }
}
