package graft.tools

import java.nio.file.{Files, Path, Paths}
import graft.config.SearchConfig
import graft.io.{CsvFolderSink, CsvTable}
import graft.ops.{ExportPipeline, ImportPipeline, SearchPipeline}
import graft.sources.xlsx.{XlsxSheetSource, XlsxWriter}

/** Executable end-to-end example of the reference-shaped pipelines over
  * generated fixtures (FIXTURES.md §B): CSV→table import (sanitize,
  * Excel-date conversion, PK filter, projection, archive, watermark) and the
  * invoice search (semi-join, copy, found-flag write-back, reconciliation).
  *
  *   sbt 'runMain graft.tools.EtlDemo /tmp/etl_demo'
  */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.headOption.getOrElse("/tmp/etl_demo"))
    deleteRecursively(root)
    val spark = graft.GraftSession.local()

    // ---- Excel→CSV export with the real xlsx DSv2 (FIXTURES.md B1/B2/B8) ----
    val excelIn = root.resolve("excel_in"); Files.createDirectories(excelIn)
    XlsxWriter.write(excelIn.resolve("Blackboard.xlsx"), Seq(
      "Stock" -> Seq(
        Seq(Some("ItemId"), Some("ItemName"), Some("LastSold")),
        Seq(Some("10"), Some("Bolt"), Some("45200.25")),
        Seq(Some("11"), Some("Nut"), Some("45201"))),
      "Ignored" -> Seq(Seq(Some("X")), Seq(Some("1")))))
    Files.writeString(root.resolve("export_settings.txt"),
      s"""lastModLogFolderPath=$root/lastmod
         |csvExportFolderPath=$root/csv_out
         |errorFolderPath=$root/error
         |""".stripMargin)
    Files.writeString(root.resolve("Blackboard_export_settings.txt"),
      s"""exportFileExtention=.xlsx
         |exportSourceFolderPath=$excelIn
         |sheetsToExport=Stock
         |headerRow=1
         |""".stripMargin)
    val exported = ExportPipeline.runAll(spark, root, new XlsxSheetSource)
    println(s"[demo] export results: $exported")
    println(s"[demo] exported Stock.csv:")
    Files.readString(root.resolve("csv_out/Stock.csv")).linesIterator
      .foreach(l => println(s"[demo]   $l"))
    val exportedAgain = ExportPipeline.runAll(spark, root, new XlsxSheetSource)
    println(s"[demo] re-run (watermark gate): $exportedAgain")

    // ---- CSV→SQL-shaped import (FIXTURES.md B3/B4/B5) ----
    val in = root.resolve("csv_in"); Files.createDirectories(in)
    Files.writeString(in.resolve("stock.csv"),
      """ItemId,ItemName,LastSold,Extra
        |1,Widget; DROP tables,45123.5,x
        |2,O'Brien GRANTED part,45124,y
        |,orphan row,45125,z
        |""".stripMargin)
    Files.writeString(root.resolve("import_settings.txt"),
      s"""lastImpLogFolderPath=$root/lastimp
         |importFilesFolderPath=$in
         |importProcessedFolderPath=$root/completed
         |errorFolderPath=$root/error
         |""".stripMargin)
    Files.writeString(root.resolve("stock_import_settings.txt"),
      """importTable==Stock Table
        |importTablePK==ItemId
        |importFieldNames==ItemId,ItemName,LastSold
        |importServerName==localhost
        |importDatabaseName==StockDB
        |importDatetimeFields==LastSold
        |""".stripMargin)
    val sinkDir = root.resolve("sink"); Files.createDirectories(sinkDir)
    val imported = ImportPipeline.runAll(spark, root, _ => new CsvFolderSink(sinkDir))
    println(s"[demo] import results: $imported")
    println(s"[demo] sink table 'Stock Table':")
    Files.readString(sinkDir.resolve("Stock Table.csv")).linesIterator
      .foreach(l => println(s"[demo]   $l"))

    // ---- invoice search (FIXTURES.md B6/B7) ----
    val store = root.resolve("store/2024"); Files.createDirectories(store)
    Files.writeString(store.resolve("pod_2.pdf"), "pdf")
    val invCsv = root.resolve("invoices.csv")
    Files.writeString(invCsv,
      """InvoiceNumber,Found
        |INV001,Yes
        |INV002,
        |INV003,
        |""".stripMargin)
    import spark.implicits._
    val docs = Seq(
      ("INV001", "2024", "pod_1.pdf", "Acme"),
      ("INV002", "2024", "pod_2.pdf", """Acme\Ltd/UK"""))
      .toDF("invnum", "sub_folder", "file_name", "customer_ref")
    val cfg = SearchConfig(Map(
      "serverName" -> "s", "databaseName" -> "d",
      "query" -> "SELECT ... WHERE invnum IN ('INVOICE_NUMBERS')",
      "invoiceCsvPath" -> invCsv.toString,
      "docStoreRoot" -> root.resolve("store").toString,
      "destinationFolder" -> root.resolve("dest").toString))
    val report = SearchPipeline.run(spark, cfg, docs)
    println(s"[demo] search report: $report")
    println(s"[demo] invoices.csv after write-back:")
    CsvTable.read(spark, invCsv).collect().foreach(r => println(s"[demo]   $r"))
    scala.util.Using.resource(Files.list(root.resolve("dest"))) { s =>
      println(s"[demo] copied files: " + s.iterator().next().getFileName)
    }
    spark.stop()
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
}
