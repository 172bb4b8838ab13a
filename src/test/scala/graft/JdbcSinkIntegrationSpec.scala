package graft

import java.nio.file.Files
import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite
import graft.config.ImportConfig
import graft.io.JdbcTableSink

/** K3 integration against embedded Derby (ships with Spark): the REAL
  * `df.write.jdbc` path with truncate semantics — no SQL Server exists in
  * the sandbox, but the sink code under test is identical; only URL and
  * identifier quoting differ (SURVEY.md §7.6.7).
  */
class JdbcSinkIntegrationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def cfg(): ImportConfig = ImportConfig(
    Map("importFilesFolderPath" -> "/tmp/i", "importProcessedFolderPath" -> "/tmp/p",
      "errorFolderPath" -> "/tmp/e", "lastImpLogFolderPath" -> "/tmp/l"),
    Map("importTable" -> "STOCK", "importTablePK" -> "ItemId",
      "importFieldNames" -> "All", "importServerName" -> "unused",
      "importDatabaseName" -> "unused"), "stock")

  test("jdbc sink truncate-load round trip on embedded Derby") {
    import spark.implicits._
    val dbDir = Files.createTempDirectory("graft-derby").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val sink = new JdbcTableSink(cfg(), urlOverride = Some(url), quoteName = false)

    val first = Seq((1L, "Widget", "2023-07-18 12:00:00"),
      (2L, "Gadget", "2023-07-19 00:00:00"))
      .toDF("ITEMID", "ITEMNAME", "LASTSOLD")
    sink.write(first, "STOCK")

    val read1 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "STOCK").load()
    assert(read1.count() == 2)
    assert(read1.columns.map(_.toUpperCase).sorted.toSeq ==
      Seq("ITEMID", "ITEMNAME", "LASTSOLD"))

    // second load replaces contents but keeps the table (truncate, not drop)
    val second = Seq((9L, "OnlyRow", "2024-01-01 00:00:00"))
      .toDF("ITEMID", "ITEMNAME", "LASTSOLD")
    sink.write(second, "STOCK")
    val rows = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "STOCK").load()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((9L, "OnlyRow")))

    // table object survived the second write (truncate semantics): Derby
    // would have a new conglomerate id on drop+recreate; cheap proxy —
    // direct JDBC still sees the table without re-creation races
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT count(*) FROM STOCK")
      rs.next()
      assert(rs.getInt(1) == 1)
    } finally conn.close()
  }

  test("jdbc sink truncate-loads null strings into VARCHAR and CLOB tables") {
    import spark.implicits._
    val dbDir = Files.createTempDirectory("graft-derby-v").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        "CREATE TABLE STOCKV (ITEMID BIGINT, ITEMNAME VARCHAR(100), LASTSOLD VARCHAR(30))")
      conn.createStatement().executeUpdate(
        "CREATE TABLE STOCKC (ITEMID BIGINT, ITEMNAME CLOB, LASTSOLD CLOB)")
    } finally conn.close()
    val sink = new JdbcTableSink(cfg(), urlOverride = Some(url), quoteName = false)
    val rows = Seq[(Long, String, String)]((1L, "Widget", null), (2L, null, "2024-01-02"))
      .toDF("ITEMID", "ITEMNAME", "LASTSOLD")
    for (t <- Seq("STOCKV", "STOCKC")) {
      sink.write(rows, t)
      val landed = spark.read.format("jdbc")
        .option("url", url).option("dbtable", t).load()
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          Option(r.getString(2)))).sortBy(_._1)
      assert(landed.toSeq == Seq((1L, Some("Widget"), None),
        (2L, None, Some("2024-01-02"))), t)
    }
  }

  test("resilient sink: poisoned rows are skipped mid-batch, not fatal (K3 fidelity)") {
    import spark.implicits._
    import graft.io.ResilientJdbcTableSink
    val dbDir = Files.createTempDirectory("graft-derby-r").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    // pre-created table with constraints Spark can't pre-validate away:
    // a PRIMARY KEY and a NOT NULL column — the reference's real-world
    // mid-load failure modes (CSVtoSQLimport.ps1:242-251)
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        """CREATE TABLE STOCK (
          |  ITEMID BIGINT PRIMARY KEY,
          |  ITEMNAME VARCHAR(100) NOT NULL,
          |  LASTSOLD VARCHAR(30))""".stripMargin)
    } finally conn.close()

    val sink = new ResilientJdbcTableSink(cfg(), urlOverride = Some(url),
      quoteName = false, batchSize = 4)
    // 8 rows, two poisoned: a duplicate PK (id 3) and a null NOT NULL name
    val rows = Seq[(Long, String, String)](
      (1L, "A", "2024-01-01"), (2L, "B", "2024-01-02"),
      (3L, "C", "2024-01-03"), (3L, "C-dup", "2024-01-03"),
      (4L, "D", "2024-01-04"), (5L, null, "2024-01-05"),
      (6L, "F", "2024-01-06"), (7L, "G", "2024-01-07"))
    val skipped = sink.writeSkippingErrors(
      rows.toDF("ITEMID", "ITEMNAME", "LASTSOLD").coalesce(1), "STOCK")
    assert(skipped == 2, s"expected 2 skipped rows, got $skipped")
    val landed = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "STOCK").load()
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(landed.toSeq ==
      Seq((1L, "A"), (2L, "B"), (3L, "C"), (4L, "D"), (6L, "F"), (7L, "G")),
      "healthy rows must land exactly once around the poisoned ones")

    // truncate-on-rewrite still holds for the resilient path
    val skipped2 = sink.writeSkippingErrors(
      Seq((9L, "OnlyRow", "2024-02-01")).toDF("ITEMID", "ITEMNAME", "LASTSOLD"),
      "STOCK")
    assert(skipped2 == 0)
    val after = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "STOCK").load().collect()
    assert(after.map(_.getLong(0)).toSeq == Seq(9L))
  }
}
