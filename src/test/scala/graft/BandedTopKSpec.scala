package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps

/** The fused banded top-K kernel ≡ the composed cohabit → score → window
  * reference ([[KnnReference]]), for every call shape the main code uses:
  * the self-join (both overloads), the insert form against the split
  * (delta → all) ∪ (base → delta), damaged → survivors, and top-1
  * eval → train.
  */
class BandedTopKSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Corpus = Seq[(Long, Seq[Double], Seq[Long])] // id, v, bucket per band

  private def emb(c: Corpus): DataFrame =
    c.map { case (id, v, _) => (id, v) }.toDF("vec_id", "v")

  private def banded(c: Corpus): DataFrame =
    c.flatMap { case (id, _, bs) =>
      bs.zipWithIndex.map { case (b, band) => (id, band, b) }
    }.toDF("vec_id", "band", "bucket")

  private def bag(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("node"), col("nbr"), col("ncos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  /** Every call shape on one corpus; returns the shapes that differ. Each
    * side's shapes run as one tagged union, one job per side.
    */
  private def mismatches(c: Corpus, k: Int, isDelta: Long => Boolean,
      isDamaged: Long => Boolean): Seq[String] = {
    val e = emb(c)
    val all = banded(c)
    def part(p: Long => Boolean) = banded(c.filter(r => p(r._1)))
    val delta = part(isDelta)
    val base = part(id => !isDelta(id))
    val damaged = part(isDamaged)
    val ref = KnnReference.topK _
    val S = SimilarityOps
    val shapes = Seq(
      "self" -> (S.bandedTopK(all, e, k), ref(all, all, e, k)),
      "self-two-sided" -> (S.bandedTopK(all, all, e, k), ref(all, all, e, k)),
      "insert-split" -> (S.bandedInsertTopK(base, delta, e, k),
        ref(delta, all, e, k).unionByName(ref(base, delta, e, k))),
      "damaged-survivors" -> (S.bandedTopK(damaged, all, e, k),
        ref(damaged, all, e, k)),
      "top1" -> (S.bandedTopK(delta, base, e, 1), ref(delta, base, e, 1)))
    def run(side: ((DataFrame, DataFrame)) => DataFrame) =
      shapes.map { case (name, p) =>
          side(p).select(lit(name).as("shape"), col("node"), col("nbr"),
            col("ncos"))
        }.reduce(_ unionByName _).collect().toSeq
        .groupBy(_.getString(0)).map { case (name, rows) =>
          name -> rows.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
            .sorted
        }.withDefaultValue(Seq.empty)
    val fused = run(_._1)
    val reference = run(_._2)
    shapes.map(_._1).filter(n => fused(n) != reference(n))
      .map(n => s"$n: fused ${fused(n)} vs reference ${reference(n)}")
  }

  test("property: fused ≡ reference on random corpora, every call shape") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // few distinct coordinates and buckets: duplicate vectors, cosine
    // ties, crowded buckets and empty sides come up often; half the
    // corpora use arbitrary doubles so bit identity is exercised too
    val coord = Gen.oneOf(
      Gen.oneOf(-1.5, -0.5, 0.0, 0.25, 1.0, 2.75),
      Gen.choose(-1.0, 1.0))
    val corpus = for {
      dims <- Gen.choose(1, 4)
      bands <- Gen.choose(1, 3)
      buckets <- Gen.choose(1L, 4L)
      n <- Gen.choose(0, 24)
      rows <- Gen.listOfN(n, for {
        v <- Gen.listOfN(dims, coord)
        bs <- Gen.listOfN(bands, Gen.choose(0L, buckets - 1))
      } yield (v, bs))
    } yield rows.zipWithIndex.map { case ((v, bs), i) => (i.toLong, v, bs) }
    val prop = Prop.forAll(corpus, Gen.choose(1, 8), Gen.choose(2, 5)) {
      (c, k, mod) =>
        val bad = mismatches(c, k, _ % mod == 0, _ % mod == 1)
        if (bad.nonEmpty) println(s"MISMATCH k=$k mod=$mod corpus=$c\n  " +
          bad.mkString("\n  "))
        bad.isEmpty
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("edge cases: one bucket for all, duplicate vectors, k above occupancy, an empty side") {
    val dup = Seq(1.0, 0.0)
    // one band, one bucket: every vector cohabits every other; ids 0-3
    // share one vector, so their cosine ties break by nbr alone
    val oneBucket: Corpus = (0L until 8L).map { i =>
      (i, if (i < 4) dup else Seq(0.5, i.toDouble / 8), Seq(0L))
    }
    assert(mismatches(oneBucket, 3, _ % 3 == 0, _ == 5L).isEmpty)
    // k far above the bucket occupancy: every cohabitant is kept
    assert(mismatches(oneBucket, 50, _ % 2 == 0, _ < 2).isEmpty)
    // an empty delta and damaged side
    assert(mismatches(oneBucket, 2, _ => false, _ => false).isEmpty)
    // ties resolved by nbr: node 0's best are its duplicates 1, 2, 3
    val top = bag(SimilarityOps.bandedTopK(banded(oneBucket), emb(oneBucket), 3))
      .filter(_._1 == 0L)
    assert(top.map(_._2) == Seq(1L, 2L, 3L) && top.forall(_._3 == 1.0))
    // an empty corpus on both sides
    assert(mismatches(Seq.empty, 2, _ => true, _ => true).isEmpty)
  }
}
