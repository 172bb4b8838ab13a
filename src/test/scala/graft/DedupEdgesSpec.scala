package graft

import org.scalatest.funsuite.AnyFunSuite

/** The near-dup pair table's maintenance algebra: the delta build's pairs
  * and the base era's partition the full rebuild. The DedupEdges seam's
  * lifecycle is SessionSeamSpec's.
  */
class DedupEdgesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("incremental maintenance: base pairs ⊎ delta-endpoint pairs ≡ full rebuild, and the delta build emits no base×base pair") {
    import org.apache.spark.sql.functions._
    import graft.ops.DedupOps
    // the full inline rebuild — the ground truth the maintained union
    // must reproduce pair-for-pair (value included), per the
    // incremental_dedup_edges oracle's claim
    val full = DedupOps.dedupNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = DedupOps.tokenizedDocs(spark, dir)
      .withColumn("is_delta", pmod(col("doc_id"), lit(10)) === 9)
    val basePairs = DedupOps
      .ngramJaccardPairsFrom(all.filter(!col("is_delta")).drop("is_delta"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val newPairs = DedupOps
      .ngramJaccardPairsFrom(all, deltaEndpointOnly = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the two classes partition the rebuild: disjoint, union-complete
    assert(basePairs.intersect(newPairs).isEmpty,
      s"classes overlap: ${basePairs.intersect(newPairs).take(3)}")
    assert(basePairs.union(newPairs) == full,
      s"maintained ≠ rebuild: missing ${(full -- basePairs -- newPairs).take(3)}, " +
        s"extra ${(basePairs ++ newPairs -- full).take(3)}")
    // structural claim: the delta build never generates a both-base pair
    // (base×base is the work maintenance exists to avoid)
    assert(newPairs.forall { case (a, b, _) => a % 10 == 9 || b % 10 == 9 },
      "delta-endpoint build emitted a base×base pair")
    // and the delta class is non-empty at this SF — the test would
    // otherwise pass vacuously on a corpus with no cross-snapshot dups
    assert(newPairs.nonEmpty, "no delta-endpoint pairs at sf0.001 — test is vacuous")
  }
}
