package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Dev-only probe: per-micro-batch watermark progression for the
  * StreamingLateDrop fixture (prints each batch's eventTime stats).
  */
object LateDropProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val dir = java.nio.file.Files.createTempDirectory("ldp")
    val base = 1700000000L - (1700000000L % 600L)
    def t(min: Long, sec: Long = 0): Long = base + min * 60 + sec
    def w(name: String, m: Long, ts: Seq[Long]): Unit = {
      val lines = ts.zipWithIndex.map { case (x, i) =>
        s"""{"id":$i,"ts":"${java.time.Instant.ofEpochSecond(x)}","value":1.0}""" }
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, lines.mkString("\n") + "\n")
      f.toFile.setLastModified(m)
    }
    w("b1.json", 1000000L, Seq(t(2), t(5), t(12), t(20)))
    w("b2.json", 2000000L, Seq(t(5, 30), t(14), t(31)))
    w("b3.json", 3000000L, Seq(t(13), t(44)))
    val src = spark.readStream
      .schema(graft.streaming.StreamingLateDrop.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .json(dir.toString)
    val agg = src.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("n_events"))
    val q = agg.writeStream.queryName("ldp_t").outputMode("append")
      .format("memory").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.recentProgress.foreach { p =>
      println(s"batch=${p.batchId} rows=${p.numInputRows} " +
        s"wm=${p.eventTime.get("watermark")} max=${p.eventTime.get("max")}")
    }
    spark.table("ldp_t").collect()
      .foreach(r => println(s"WIN ${(r.getLong(0) - base) / 60}min -> ${r.getLong(1)}"))
    spark.stop()
  }
}
