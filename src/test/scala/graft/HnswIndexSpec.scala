package graft

import org.scalatest.funsuite.AnyFunSuite

/** The maintenance algebra of the HNSW out-adjacency and the kNN lists:
  * save/load round trips, insert and delete-repair ≡ rebuild. The
  * HnswIndex seam's lifecycle is SessionSeamSpec's.
  */
class HnswIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("saveOut/loadOut round-trips the artifact; insert over a persisted base equals the full rebuild") {
    import graft.ops.{HnswIndex, SimilarityOps}
    import org.apache.spark.sql.functions._
    def bag(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    // save/load round trip: longs + the deterministic per-pair dot are
    // parquet-exact, so the loaded artifact is the built one
    val full = SimilarityOps.hnswOutInline(spark, dir,
      HnswIndex.BitsPerBand, HnswIndex.Bands, HnswIndex.Degree)
    val out = java.nio.file.Files.createTempDirectory("graft_hnsw_spec_")
    try {
      HnswIndex.saveOut(full, s"$out/idx")
      assert(bag(HnswIndex.loadOut(spark, s"$out/idx")) == bag(full),
        "loadOut(saveOut(x)) diverges from x")

      // insert ≡ rebuild, frame-level (the incremental_hnsw oracle proof
      // restated on the API): base era = vec_id % 10 != 9, maintained =
      // insert(delta candidates) over the PERSISTED base artifact
      val emb = graft.ops.Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          graft.functions.VectorFunctions.normalize(
            graft.functions.VectorFunctions.toDoubleArray(col("embedding")))
            .as("v"))
      val isDelta = pmod(col("vec_id"), lit(10)) === 9
      val banded = SimilarityOps.hnswBanded(emb,
        HnswIndex.BitsPerBand, HnswIndex.Bands)
      val baseOut = KnnReference.hnswTopOut(
        KnnReference.hnswScore(
          KnnReference.hnswCohabit(banded.filter(!isDelta),
            banded.filter(!isDelta)), emb), HnswIndex.Degree)
      HnswIndex.saveOut(baseOut, s"$out/base")
      val deltaCand = KnnReference.hnswCohabit(banded.filter(isDelta), banded)
        .unionByName(KnnReference.hnswCohabit(banded, banded.filter(isDelta)))
        .distinct()
      val maintained = HnswIndex.insert(
        HnswIndex.loadOut(spark, s"$out/base"),
        KnnReference.hnswScore(deltaCand, emb))
      val m = bag(maintained)
      assert(m.nonEmpty, "maintained adjacency empty — test vacuous")
      assert(m == bag(full),
        "insert over persisted base diverges from the full rebuild")
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

  test("property: insert ≡ rebuild on random corpora and random era splits (ties, empty eras, degree boundaries)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.functions._
    import graft.ops.{HnswIndex, SimilarityOps}
    val sparkRef = spark
    import sparkRef.implicits._
    // tiny integer-grid vectors make cosine TIES likely (the re-rank's
    // (ncos DESC, nbr) tie-break is exactly what the pigeonhole argument
    // leans on), dims 2-3 make bucket collisions dense, degree 1-3 makes
    // the top-degree cut bite
    val corpus = for {
      d <- Gen.choose(2, 3)
      n <- Gen.choose(4, 14)
      vs <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-2, 2).map(_.toDouble))
        .suchThat(_.exists(_ != 0.0)))
    } yield vs
    val prop = Prop.forAll(corpus, Gen.choose(1, 3),
        Gen.choose(0, 100)) { (vs, degree, seed) =>
      val emb = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "raw")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.normalize(col("raw")).as("v"))
        .localCheckpoint()
      val banded = SimilarityOps.hnswBanded(emb, 4, 6).localCheckpoint()
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(9,
            BigDecimal.RoundingMode.HALF_UP))).toSeq.sorted
      val full = KnnReference.hnswTopOut(
        KnnReference.hnswScore(
          KnnReference.hnswCohabit(banded, banded), emb), degree)
      // random era split — including all-delta and all-base corners
      val isDelta = pmod(col("vec_id") + seed, lit(3)) === 0
      val bandedBase = banded.filter(!isDelta)
      val bandedDelta = banded.filter(isDelta)
      val baseOut = KnnReference.hnswTopOut(
        KnnReference.hnswScore(
          KnnReference.hnswCohabit(bandedBase, bandedBase), emb), degree)
      val deltaCand = KnnReference.hnswCohabit(bandedDelta, banded)
        .unionByName(KnnReference.hnswCohabit(banded, bandedDelta))
        .distinct()
      val maintained = HnswIndex.insert(baseOut,
        KnnReference.hnswScore(deltaCand, emb), degree)
      bag(maintained) == bag(full)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: lists lifecycle chain (insert → delete+repair → insert) ≡ rebuild over live ids at every stage") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.functions._
    import graft.ops.SimilarityOps
    val sparkRef = spark
    import sparkRef.implicits._
    // the incremental_knn / knn_delete_repair algebra CHAINED (VERDICT
    // r14 #2's lifecycle spec): a lists artifact built over era 0, a
    // batch inserted, a delete repaired, a post-delete batch inserted —
    // after every stage the maintained lists must equal the from-scratch
    // build over exactly the ids alive at that point. Same tie-heavy
    // integer grids as the single-step properties: the chain is where a
    // wrong tie-break or a leaked dead candidate COMPOUNDS
    val corpus = for {
      d <- Gen.choose(2, 3)
      n <- Gen.choose(6, 14)
      vs <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-2, 2).map(_.toDouble))
        .suchThat(_.exists(_ != 0.0)))
    } yield vs
    val prop = Prop.forAll(corpus, Gen.choose(1, 3), Gen.choose(0, 100),
        Gen.choose(0, 9)) { (vs, k, seed, mod) =>
      val emb = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "raw")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.normalize(col("raw")).as("v"))
        .localCheckpoint()
      val banded = SimilarityOps.hnswBanded(emb, 4, 6).localCheckpoint()
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(9,
            BigDecimal.RoundingMode.HALF_UP))).toSeq.sorted
      def build(pred: org.apache.spark.sql.Column) = {
        val b = banded.filter(pred)
        KnnReference.hnswTopOut(
          KnnReference.hnswScore(KnnReference.hnswCohabit(b, b), emb), k)
      }
      def insert(lists: org.apache.spark.sql.DataFrame,
          basePred: org.apache.spark.sql.Column,
          deltaPred: org.apache.spark.sql.Column) = {
        val bBase = banded.filter(basePred)
        val bDelta = banded.filter(deltaPred)
        val deltaScored = KnnReference.hnswScore(
          KnnReference.hnswCohabit(bDelta, bBase.unionByName(bDelta))
            .unionByName(KnnReference.hnswCohabit(bBase, bDelta)), emb)
        KnnReference.hnswTopOut(lists.unionByName(deltaScored), k)
      }
      def deleteRepair(lists: org.apache.spark.sql.DataFrame,
          corpusPred: org.apache.spark.sql.Column,
          dead: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
        val surviving = lists.filter(!dead(col("node")))
        val damaged = surviving.filter(dead(col("nbr")))
          .select(col("node")).distinct()
        val kept = surviving.join(damaged, Seq("node"), "left_anti")
        val bandedSurv = banded.filter(corpusPred && !dead(col("vec_id")))
        val bandedDamaged = bandedSurv
          .join(damaged.select(col("node").as("vec_id")), Seq("vec_id"),
            "left_semi")
        kept.unionByName(KnnReference.hnswTopOut(
          KnnReference.hnswScore(
            KnnReference.hnswCohabit(bandedDamaged, bandedSurv), emb), k))
      }
      // eras: (id + seed) % 3 — 0 is the base build, 1 the first insert,
      // 2 the post-delete insert; deletes: id % 10 == mod (pre-deleted
      // era-2 members never arrive — the tombstone gate)
      def era(r: Int) = pmod(col("vec_id") + seed, lit(3)) === r
      val dead = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === mod
      val l1 = insert(build(era(0)), era(0), era(1)).localCheckpoint()
      val ok1 = bag(l1) == bag(build(era(0) || era(1)))
      val l2 = deleteRepair(l1, era(0) || era(1), dead).localCheckpoint()
      val live01 = (era(0) || era(1)) && !dead(col("vec_id"))
      val ok2 = bag(l2) == bag(build(live01))
      val l3 = insert(l2, live01, era(2) && !dead(col("vec_id")))
      val ok3 = bag(l3) == bag(build(!dead(col("vec_id"))))
      ok1 && ok2 && ok3
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: delete-repair (tombstone + damaged-only re-probe) ≡ survivor rebuild on random corpora and delete sets") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.functions._
    import graft.ops.SimilarityOps
    val sparkRef = spark
    import sparkRef.implicits._
    // the knn_delete_repair / StreamingHnsw.compact dominance algebra,
    // randomized: same tie-heavy integer-grid corpora as the insert
    // property, with a random delete subset (including empty and
    // nearly-everything corners)
    val corpus = for {
      d <- Gen.choose(2, 3)
      n <- Gen.choose(4, 14)
      vs <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-2, 2).map(_.toDouble))
        .suchThat(_.exists(_ != 0.0)))
    } yield vs
    val prop = Prop.forAll(corpus, Gen.choose(1, 3),
        Gen.choose(1, 10)) { (vs, degree, mod) =>
      val emb = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "raw")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.normalize(col("raw")).as("v"))
        .localCheckpoint()
      val banded = SimilarityOps.hnswBanded(emb, 4, 6).localCheckpoint()
      val dead = (c: org.apache.spark.sql.Column) =>
        pmod(c, lit(10)) === (mod % 10)
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(9,
            BigDecimal.RoundingMode.HALF_UP))).toSeq.sorted
      // maintained: keep undamaged survivor lists, re-probe damaged only
      val full = KnnReference.hnswTopOut(
        KnnReference.hnswScore(
          KnnReference.hnswCohabit(banded, banded), emb), degree)
        .localCheckpoint()
      val surviving = full.filter(!dead(col("node")))
      val deadIds = emb.filter(dead(col("vec_id")))
        .select(col("vec_id").as("dead_id"))
      val damaged = surviving
        .join(deadIds, col("nbr") === col("dead_id"), "left_semi")
        .select(col("node")).distinct()
      val kept = surviving.join(damaged, Seq("node"), "left_anti")
      val bandedSurv = banded.filter(!dead(col("vec_id")))
      val bandedDamaged = bandedSurv
        .join(damaged.select(col("node").as("vec_id")), Seq("vec_id"),
          "left_semi")
      val repaired = KnnReference.hnswTopOut(
        KnnReference.hnswScore(
          KnnReference.hnswCohabit(bandedDamaged, bandedSurv), emb), degree)
      val maintained = bag(kept.unionByName(repaired))
      // rebuild over survivors from scratch
      val rebuilt = bag(KnnReference.hnswTopOut(
        KnnReference.hnswScore(
          KnnReference.hnswCohabit(bandedSurv, bandedSurv), emb), degree))
      maintained == rebuilt
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }
}
