package graft.io

import java.nio.file.Path
import java.util.Properties
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}
import graft.config.ImportConfig
import graft.functions.RefFunctions.bracketQuoteName

/** K3 sink seam (SURVEY.md §2.2): the reference truncate-loads SQL Server
  * (/root/reference/CSVtoSQLimport.ps1:196-207,242-251) one INSERT per row;
  * Spark's JDBC writer batches (`batchsize`) and `truncate=true` preserves
  * the full-refresh semantics without dropping the table. No SQL Server
  * exists in the sandbox (SURVEY.md §7.6.7), so the sink sits behind this
  * trait with a filesystem fake for tests; [[JdbcTableSink]] holds the real
  * option mapping, unit-tested directly.
  */
trait TableSink {
  def write(df: DataFrame, table: String): Unit
}

object JdbcTableSink {
  /** The exact writer options a production deployment uses. Batched inserts
    * replace the reference's per-row round trips (its dominant cost,
    * SURVEY.md §4.2); `truncate` keeps K3's TRUNCATE-then-load contract.
    */
  def writerOptions(cfg: ImportConfig, batchSize: Int = 10000): Map[String, String] = Map(
    "url" -> s"jdbc:sqlserver://${cfg.serverName};databaseName=${cfg.databaseName};integratedSecurity=true",
    "dbtable" -> bracketQuoteName(cfg.table),
    "truncate" -> "true",
    "batchsize" -> batchSize.toString,
    "isolationLevel" -> "READ_COMMITTED")

  /** Registered once, before the first write. */
  private[io] lazy val dialectsRegistered: Unit =
    JdbcDialects.registerDialect(DerbyNullStringDialect)
}

/** Derby string binding for the JDBC writer. Spark's Derby dialect maps a
  * string column to `CLOB` for both the DDL and the null bind, so a
  * truncate-load into an existing VARCHAR table (the predefined tables a
  * real target has) fails on the first null string: Derby will not read
  * a CLOB null as VARCHAR. This dialect keeps `CLOB` as the DDL type and
  * binds null strings as `VARCHAR`, which Derby accepts for both column
  * types. Spark combines it with its own Derby dialect (this one answers
  * first for strings and defers every other type to it); it states
  * Derby's non-cascading truncate so the combination keeps `truncate`.
  */
private[io] object DerbyNullStringDialect extends JdbcDialect {
  override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")

  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType => Some(JdbcType("CLOB", java.sql.Types.VARCHAR))
    case _ => None
  }

  override def isCascadingTruncateTable(): Option[Boolean] = Some(false)
}

/** `urlOverride` + `quoteName=false` let tests run the SAME write path
  * against embedded Derby (JdbcSinkIntegrationSpec); production uses the
  * SQL Server URL + bracket-quoting from [[JdbcTableSink.writerOptions]].
  */
final class JdbcTableSink(cfg: ImportConfig, urlOverride: Option[String] = None,
    quoteName: Boolean = true) extends TableSink {
  override def write(df: DataFrame, table: String): Unit = {
    JdbcTableSink.dialectsRegistered
    val props = new Properties()
    val opts = JdbcTableSink.writerOptions(cfg)
    df.write.mode("overwrite")
      .option("truncate", opts("truncate"))
      .option("batchsize", opts("batchsize"))
      .option("isolationLevel", opts("isolationLevel"))
      .jdbc(urlOverride.getOrElse(opts("url")),
        if (quoteName) bracketQuoteName(table) else table, props)
  }
}

/** Filesystem fake standing in for SQL Server in tests: truncate-load == a
  * single-file overwrite of `<dir>/<table>.csv`.
  */
final class CsvFolderSink(dir: Path) extends TableSink {
  override def write(df: DataFrame, table: String): Unit =
    CsvTable.writeSingleFile(df, dir.resolve(s"$table.csv"))
}

/** K3 per-row skip fidelity: the reference skips individual failed INSERTs
  * mid-load and keeps going (`CSVtoSQLimport.ps1:242-251` — catch per row,
  * log, continue). Spark's built-in JDBC writer aborts the whole batched
  * write on the first sink-side failure (e.g. a constraint violation no
  * pre-validation can catch), which was the one documented K3 divergence
  * (SURVEY §2.2). This sink closes it with TRANSACTIONAL SPLIT-BATCH
  * RETRY: each chunk executes inside its own transaction; on failure the
  * chunk ROLLS BACK (so partially-executed statements can't duplicate on
  * retry) and splits in half, recursing down to single rows — a lone
  * poisoned row costs O(log batch) retries, is skipped, counted, and
  * logged, and every healthy row lands exactly once.
  *
  * Scale shape: one connection + one transaction stream per PARTITION
  * (executor-side, no driver involvement beyond the initial truncate);
  * with no poisoned rows the cost is identical to the batched writer. The
  * skipped-row count arrives via a LongAccumulator — task RETRIES can
  * overcount it (accumulator semantics); it is diagnostics, not ledger.
  */
final class ResilientJdbcTableSink(cfg: ImportConfig,
    urlOverride: Option[String] = None, quoteName: Boolean = true,
    batchSize: Int = 1000) extends TableSink {

  override def write(df: DataFrame, table: String): Unit = {
    writeSkippingErrors(df, table); ()
  }

  /** Truncate + insert with per-row skip; returns the skipped-row count. */
  def writeSkippingErrors(df: DataFrame, table: String): Long = {
    val url = urlOverride.getOrElse(JdbcTableSink.writerOptions(cfg)("url"))
    val tbl = if (quoteName) bracketQuoteName(table) else table
    val schema = df.schema
    val insertSql = schema.fieldNames
      .map(n => if (quoteName) bracketQuoteName(n) else n)
      .mkString(s"INSERT INTO $tbl (", ", ",
        ") VALUES (" + schema.fieldNames.map(_ => "?").mkString(", ") + ")")
    val skipped = df.sparkSession.sparkContext
      .longAccumulator(s"jdbc_skipped_rows:$table")
    val bs = batchSize
    // K3 full-refresh: truncate driver-side, ONCE, before the parallel load
    val conn0 = java.sql.DriverManager.getConnection(url)
    try { conn0.createStatement().executeUpdate(s"TRUNCATE TABLE $tbl"); () }
    finally conn0.close()
    df.rdd.foreachPartition { rows =>
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        rows.grouped(bs).foreach { chunk =>
          ResilientJdbcTableSink.insertChunk(
            conn, insertSql, chunk.toIndexedSeq, skipped)
        }
      } finally conn.close()
    }
    skipped.value
  }
}

object ResilientJdbcTableSink {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One transaction per chunk; rollback-then-split on failure. Static so
    * the executor closure serializes no sink instance.
    */
  private[io] def insertChunk(conn: java.sql.Connection, insertSql: String,
      rows: IndexedSeq[org.apache.spark.sql.Row],
      skipped: org.apache.spark.util.LongAccumulator): Unit = {
    if (rows.isEmpty) return
    try {
      val ps = conn.prepareStatement(insertSql)
      try {
        rows.foreach { r =>
          var i = 0
          while (i < r.length) {
            if (r.isNullAt(i)) ps.setObject(i + 1, null)
            else ps.setObject(i + 1, r.get(i))
            i += 1
          }
          ps.addBatch()
        }
        ps.executeBatch()
      } finally ps.close()
      conn.commit()
    } catch {
      case e: java.sql.SQLException =>
        conn.rollback() // partial batch effects gone → re-insert is safe
        if (rows.size > 1) {
          val (l, r) = rows.splitAt(rows.size / 2)
          insertChunk(conn, insertSql, l, skipped)
          insertChunk(conn, insertSql, r, skipped)
        } else {
          // the reference's per-row catch: skip, log, continue (NotFatal)
          skipped.add(1)
          log.warn(s"skipping unloadable row (${e.getSQLState}): ${e.getMessage}")
        }
    }
  }
}
