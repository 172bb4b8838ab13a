package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args 3+ (dev-only): restrict the dump to the named queries — the
    // driver always passes exactly (sfDir, outDir) and gets the full run
    val Array(sfDir, outDir, rest @ _*) = args
    val only = rest.toSet
    // a typo'd name would otherwise dump nothing and exit 0 — looking
    // exactly like a successful verification of the misspelled query
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    // the engine's own optimizer rules are part of the verified surface
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Guard (r18 — ADVICE r17): every knn/hnsw-family oracle embeds the
    // gate-pinned banding config, while the engine derives per-corpus;
    // the two coincide only because the gate corpora sit below the
    // capacity boundaries (e.g. sf0.1's 2000 vectors < 2048 = 8·2^8).
    // If a test-data regen crosses a boundary, fail HERE with one clear
    // message instead of as hundreds of downstream hash mismatches.
    locally {
      import graft.ops.{HnswIndex, SimilarityOps}
      val kb = SimilarityOps.derivedBits(spark, sfDir)
      require(kb == SimilarityOps.KnnBitsPerBand &&
          SimilarityOps.bandsFor(kb) == SimilarityOps.KnnBands,
        s"derived knn config ${kb}x${SimilarityOps.bandsFor(kb)} != gate-" +
          s"pinned ${SimilarityOps.KnnBitsPerBand}x${SimilarityOps.KnnBands}" +
          " — the corpus crossed a capacity boundary; re-pin the oracles")
      val (hb, hn) = HnswIndex.derivedConfig(spark, sfDir)
      require(hb == HnswIndex.BitsPerBand && hn == HnswIndex.Bands,
        s"derived hnsw config ${hb}x$hn != gate-pinned " +
          s"${HnswIndex.BitsPerBand}x${HnswIndex.Bands}" +
          " — the corpus crossed a capacity boundary; re-pin the oracles")
    }
    // the incremental-dedup query reads a store seeded OUTSIDE the query
    // builder (construction is pure — VERDICT r2 #5)
    graft.ops.IncrementalDedup.seedQueryStore(spark, sfDir)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the iterative drivers (kmeans/pagerank/power 2step, ClusterOps,
      // CurationOps) mint localCheckpoint blocks at plan construction;
      // nothing re-reads them after the write, so drop them here or
      // storage memory accumulates across the 100+ queries (same
      // discipline as Bench between reps)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
