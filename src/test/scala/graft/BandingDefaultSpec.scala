package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.SimilarityOps

/** The occupancy-derived banding default (r17 — VERDICT r16 #1/#2/#7):
  * [[SimilarityOps.bitsFor]] is the code path that CONSUMES the
  * `ann_band_plan` rule, so this spec closes the planner→decision loop
  * three ways — (a) the pure rule: gate corpora derive the pinned gate
  * config (the oracle-parity invariant every knn-family oracle SQL
  * rides), the 20k-vector probe corpus derives the bits=7 config
  * `BandScaleProbe` measured 11× faster at sf1; (b) the planner table's
  * own recommendation, clamped identically, equals what the default
  * ships; (c) recall vs EXACT ≥ 0.8 at a scaled derived config on a
  * clustered synthetic corpus large enough to leave the clamp floor —
  * the gate corpora never exercise bits > 4, so without this pin the
  * scaled configs would ship recall-unmeasured.
  */
class BandingDefaultSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("bitsFor: gate corpora derive the pinned gate config; the probe " +
      "corpus derives the measured bits=7; monotone and clamped") {
    import SimilarityOps.{bitsFor, KnnBitsPerBand, MaxAutoBits}
    // the oracle-parity invariant: every gate corpus size (sf0.001 and
    // sf0.01 embeddings: 500 rows; sf0.1: 2000) lands ON the constant
    // every knn-family oracle SQL interpolates
    assert(bitsFor(500) == KnnBitsPerBand)
    assert(bitsFor(2000) == KnnBitsPerBand)
    // the sf1 probe corpus (20k vectors): exactly the config the r16
    // BandScaleProbe measured linear (180.9 -> 16.3 s)
    assert(bitsFor(20000) == 7)
    // rule shape: ceil(log2(n/target)) above the floor
    assert(bitsFor(161 * 16) == 5)    // just past 4-bit capacity
    assert(bitsFor(0) == KnnBitsPerBand && bitsFor(1) == KnnBitsPerBand)
    // monotone nondecreasing
    val probe = Seq(1L, 100L, 1000L, 10000L, 100000L, 1000000L,
      100000000L, Long.MaxValue / 4)
    probe.sliding(2).foreach { case Seq(a, b) =>
      assert(bitsFor(a) <= bitsFor(b), s"not monotone at $a -> $b")
    }
    // clamp ceiling holds occupancy targets up to ~2.7B vectors and
    // never exceeds MaxAutoBits even at absurd n
    assert(bitsFor(Long.MaxValue / 4) == MaxAutoBits)
  }

  test("bandsFor: gate bands at the floor config, doubled per 3 bits " +
      "above it (the measured 7x40 anchor, model-extrapolated beyond)") {
    import SimilarityOps.{bandsFor, KnnBitsPerBand, KnnBands}
    assert(bandsFor(KnnBitsPerBand) == KnnBands)
    assert(bandsFor(KnnBitsPerBand - 1) == KnnBands)
    assert(bandsFor(KnnBitsPerBand + 1) == KnnBands * 2)
    assert(bandsFor(7) == KnnBands * 2)  // the measured sf1 anchor
    assert(bandsFor(8) == KnnBands * 4)  // +1 octave past the anchor
    assert(bandsFor(10) == KnnBands * 4)
    assert(bandsFor(13) == KnnBands * 8)
    // monotone, never below the gate band count
    (1 to 24).sliding(2).foreach { case Seq(a, b) =>
      assert(bandsFor(a) <= bandsFor(b) && bandsFor(a) >= KnnBands)
    }
  }

  test("derivedBits: memoized corpus derivation equals bitsFor(count) " +
      "and the gate config at the gate corpus") {
    val n = graft.ops.Tables(spark, dir, "embeddings").count()
    val d = SimilarityOps.derivedBits(spark, dir)
    assert(d == SimilarityOps.bitsFor(n))
    assert(d == SimilarityOps.KnnBitsPerBand,
      "gate corpus must derive the pinned config — the knn-family " +
        "oracles interpolate that constant")
    // second call is the memo (same value; cheap way to exercise the path)
    assert(SimilarityOps.derivedBits(spark, dir) == d)
  }

  test("ann_band_plan consumer: the planner's minimal occ_ok bits, " +
      "clamped like the default, equals what derivedBits ships") {
    val plan = SimilarityOps.annBandPlan(spark, dir).collect()
    val okBits = plan.filter(_.getBoolean(5)).map(_.getInt(0))
    assert(okBits.nonEmpty, "planner found no occ_ok config — vacuous")
    val recommended = math.max(SimilarityOps.KnnBitsPerBand,
      math.min(SimilarityOps.MaxAutoBits, okBits.min))
    assert(recommended == SimilarityOps.derivedBits(spark, dir),
      "the shipped default diverged from the planner's own table")
  }

  test("ann_auto_config: the emitted row IS the derivation every no-arg " +
      "build ships (count, bitsFor, buckets, bandsFor, planes)") {
    val rows = SimilarityOps.annAutoConfig(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    val n = graft.ops.Tables(spark, dir, "embeddings").count()
    val bits = SimilarityOps.bitsFor(n)
    val bands = SimilarityOps.bandsFor(bits)
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == bits.toLong)
    assert(r.getLong(2) == (1L << bits))
    assert(r.getLong(3) == bands.toLong)
    assert(r.getLong(4) == bits.toLong * bands)
  }

  test("knn_recall_audit: the audit row equals recall recomputed from " +
      "brute force and the lists artifact, and is high at gate occupancy") {
    import graft.functions.VectorFunctions.{normalize, toDoubleArray}
    val k = SimilarityOps.K
    val emb = graft.ops.Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        normalize(toDoubleArray(col("embedding"))).as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val sample = emb.filter(_._1 % SimilarityOps.RecallSampleMod == 0)
    def dotp(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val truth = sample.flatMap { case (q, qv) =>
      emb.filter(_._1 != q)
        .map { case (c, cv) => (q, c, dotp(qv, cv)) }
        .sortBy { case (_, c, cos) => (-cos, c) }
        .take(k).map { case (qq, c, _) => (qq, c) }
    }.toSet
    val lists = graft.ops.KnnLists.lists(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .filter(_._1 % SimilarityOps.RecallSampleMod == 0).toSet
    val hit = truth.count(lists.contains)
    val row = SimilarityOps.knnRecallAudit(spark, dir).collect()
    assert(row.length == 1)
    val r = row(0)
    assert(r.getLong(0) == sample.length.toLong)
    assert(r.getLong(1) == truth.size.toLong)
    assert(r.getLong(2) == hit.toLong)
    assert(r.getLong(3) == hit.toLong * 1000000L / truth.size)
    // at the gate corpus the banding sits at its tuned occupancy — the
    // audit must read high, or the artifact every dedup consumer rides
    // is broken
    assert(r.getLong(3) >= 800000L,
      s"gate-corpus recall ${r.getLong(3)} ppm < 0.8")
  }

  test("forExpectedCorpus sizing: knn and hnsw maintainers derive their " +
      "own gate configs at gate sizes and scale with their own targets") {
    import SimilarityOps.bitsFor
    // knn family target (160): gate sizes floor at 4, probe size -> 7
    assert(bitsFor(2000, 160L, 4) == 4 && bitsFor(20000, 160L, 4) == 7)
    // hnsw target (8): gate sizes floor at the shipped 8, 20k -> 12
    import graft.ops.HnswIndex
    assert(bitsFor(2000, HnswIndex.OccTarget, HnswIndex.BitsPerBand) == 8)
    assert(bitsFor(20000, HnswIndex.OccTarget, HnswIndex.BitsPerBand) == 12)
    // band compensation applies against each family's OWN floor AND
    // its own measured doubling rate: knn doubles per 3 bits (the 7x40
    // anchor), hnsw per 1 bit (the r17 beam ladder: only x16 bands at
    // +4 bits restores serving recall — 0.90 vs the tuned 0.78)
    assert(SimilarityOps.scaledBands(HnswIndex.Bands, 0,
      HnswIndex.BandsBitsPerDoubling) == 10)
    assert(SimilarityOps.scaledBands(HnswIndex.Bands, 4,
      HnswIndex.BandsBitsPerDoubling) == 160)
    // the batch HNSW family's oracle-parity invariant (r17, second
    // review pass): both driver corpora stay on the shipped 8x10 the
    // hnsw oracles embed — sf0.1's 2000 vectors sit just under the
    // 8*2^8 = 2048 capacity boundary, so pin the boundary itself too
    assert(HnswIndex.derivedConfig(spark, dir) ==
      (HnswIndex.BitsPerBand, HnswIndex.Bands))
    assert(bitsFor(2048, HnswIndex.OccTarget, HnswIndex.BitsPerBand) == 8)
    assert(bitsFor(2049, HnswIndex.OccTarget, HnswIndex.BitsPerBand) == 9)
  }

  /** Deterministic clustered corpus: `nVec` unit vectors in `dims`
    * dimensions around `nClusters` md5-derived centers with md5-derived
    * noise — the geometry real embedding tables have (tight in-cluster
    * neighborhoods), large enough that bitsFor leaves the clamp floor.
    */
  private def clusteredEmb(nVec: Int, nClusters: Int, dims: Int): DataFrame = {
    def u(seed: String, i: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${seed}_$i".getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16) %
        1000000L).toDouble / 1000000.0 - 0.5
    }
    val rows = (0 until nVec).map { v =>
      val c = v % nClusters
      val center = Array.tabulate(dims)(i => u(s"c$c", i))
      val raw = Array.tabulate(dims)(i => center(i) + 0.15 * u(s"v$v", i))
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (v.toLong, raw.map(_ / nrm))
    }
    spark.createDataFrame(rows).toDF("vec_id", "v")
  }

  test("recall vs exact >= 0.8 at the scaled derived config (the " +
      "config larger-than-gate corpora actually ship)") {
    val k = SimilarityOps.K
    val nVec = 6000
    val emb = clusteredEmb(nVec, nClusters = 200, dims = 16)
      .localCheckpoint()
    val bits = SimilarityOps.bitsFor(nVec)
    assert(bits > SimilarityOps.KnnBitsPerBand,
      "corpus too small to leave the clamp floor — recall pin vacuous")
    val bands = SimilarityOps.bandsFor(bits)
    // the banded build at the derived config — knn_join's exact internals
    val banded = SimilarityOps.hnswBanded(emb, bits, bands)
    val w = Window.partitionBy(col("node"))
      .orderBy(col("ncos").desc, col("nbr"))
    val lists = KnnReference
      .hnswScore(KnnReference.hnswCohabit(banded, banded), emb)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("node"), col("nbr"))
    // exact ground truth on a deterministic node sample (every 20th id)
    val sample = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("node"), col("v").as("qv"))
    val exact = emb.crossJoin(broadcast(sample))
      .filter(col("vec_id") =!= col("node"))
      .select(col("node"), col("vec_id").as("nbr"),
        graft.functions.VectorFunctions.dot(col("qv"), col("v")).as("ncos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("node"), col("nbr"))
    val nSample = sample.count()
    val hit = exact.join(lists, Seq("node", "nbr"), "left_semi").count()
    val recall = hit.toDouble / (nSample * k)
    assert(recall >= 0.8,
      f"recall@$k $recall%.3f < 0.8 at derived ${bits}x$bands " +
        "— the scaled default ships too little recall")
  }
}
