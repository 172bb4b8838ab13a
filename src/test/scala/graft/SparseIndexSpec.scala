package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shingle-tf postings' save/load/insert maintenance surface. The
  * SparseIndex seam's lifecycle is SessionSeamSpec's.
  */
class SparseIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("save/load round-trips the postings; insert over a persisted base equals the full rebuild, stats included") {
    import graft.ops.SparseIndex
    import org.apache.spark.sql.functions._
    def bag(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.sorted
    val full = SparseIndex.build(spark, dir)
    val out = java.nio.file.Files.createTempDirectory("graft_sparse_spec_")
    try {
      SparseIndex.save(full, s"$out/idx")
      assert(bag(SparseIndex.load(spark, s"$out/idx")) == bag(full),
        "load(save(x)) diverges from x")

      // insert ≡ rebuild: eras are doc-disjoint filters of the postings,
      // so the union IS the maintained index — and the per-term serving
      // stats (df, tf mass) merge additively
      val isDelta = pmod(col("doc_id"), lit(10)) === 9
      SparseIndex.save(full.filter(!isDelta), s"$out/base")
      val maintained = SparseIndex.insert(
        SparseIndex.load(spark, s"$out/base"), full.filter(isDelta))
      val m = bag(maintained)
      assert(m.nonEmpty, "maintained postings empty — test vacuous")
      assert(m == bag(full),
        "insert over persisted base diverges from the full rebuild")
      def stats(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
        SparseIndex.termStats(df).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(stats(maintained) == stats(full),
        "term stats over the maintained index diverge from the rebuild's")
    } finally {
      val stream = java.nio.file.Files.walk(out)
      try {
        val it = stream
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator()
        while (it.hasNext) java.nio.file.Files.deleteIfExists(it.next())
      } finally stream.close()
    }
  }
}
