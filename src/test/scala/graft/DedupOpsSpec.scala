package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{DedupOps, SimilarityOps}

/** The hash-dependent dedup/ANN variants have no DuckDB oracle (RowsOnly);
  * these tests pin them against the exact ground-truth queries instead:
  * LSH/SimHash results must be consistent with exact Jaccard/cosine.
  */
class DedupOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("minhash LSH: verified pairs ⊆ exact-jaccard pairs, recall ≥ 0.8") {
    val exact = DedupOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.dedupMinhashLsh(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // dedupNgramJaccard blocks by source; LSH is unblocked, so it may
    // legitimately find cross-source pairs — compare on the blocked subset.
    val docsSource = graft.ops.Tables(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val lshBlocked = lsh.filter { case (a, b) => docsSource(a) == docsSource(b) }
    assert(lshBlocked.subsetOf(exact),
      s"LSH-verified pairs not in exact set: ${lshBlocked.diff(exact).take(5)}")
    val recall = lshBlocked.size.toDouble / exact.size.toDouble
    assert(recall >= 0.8, s"LSH recall too low: $recall (${lshBlocked.size}/${exact.size})")
  }

  test("simhash: near-dup pairs overlap exact near-dups substantially") {
    val exact = DedupOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = DedupOps.dedupSimhash(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty, "simhash found no pairs")
    val precision = sim.intersect(exact).size.toDouble / sim.size.toDouble
    assert(precision >= 0.5,
      s"simhash precision vs exact jaccard too low: $precision")
  }

  test("shingle minhash LSH: reported jaccard matches independent Scala recomputation") {
    val rows = DedupOps.dedupMinhashShingle(spark, dir).collect()
    assert(rows.nonEmpty, "no shingle near-dups found")
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.8)
      assert(r.getLong(0) < r.getLong(1))
    }
    // independent ground truth: string shingles via Scala sliding windows
    // (a completely different code path from the md5-prefix shingle ids —
    // hash collisions are the only permissible divergence, at ~2^-60)
    val texts = graft.ops.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").toSeq).toMap
    def shingles(toks: Seq[String]): Set[Seq[String]] =
      if (toks.length < 5) Set.empty else toks.sliding(5).map(_.toSeq).toSet
    rows.take(50).foreach { r =>
      val (a, b, reported) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
      val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      assert(math.abs(expected - reported) < 1e-6,
        s"pair ($a,$b): reported $reported, recomputed $expected")
    }
  }

  test("simhash Hamming-band candidates = all-pairs reference (set equality)") {
    import org.apache.spark.sql.functions._
    // reference: the all-pairs source-block join the band index replaced
    val sig = DedupOps.simhashSignatures(spark, dir)
    val a = sig.as("a"); val b = sig.as("b")
    val ref = a.join(b, col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = DedupOps.dedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == ref,
      s"banded≠all-pairs: missing=${ref.diff(banded).take(5)} extra=${banded.diff(ref).take(5)}")
  }

  test("ngram jaccard prefix filtering = blocked all-pairs brute force (set equality)") {
    val docs = graft.ops.Tables(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.replaceAll("\\s+", " ").trim.split(" ").toSet))
    val expected = (for {
      (i, si, ti) <- docs; (j, sj, tj) <- docs
      if si == sj && i < j
      inter = ti.intersect(tj).size
      union = ti.size + tj.size - inter
      if union > 0 && inter.toDouble / union >= 0.9
    } yield (i, j)).toSet
    val got = DedupOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"prefix-filter≠brute-force: missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")
  }

  test("containment prefix filtering = all-pairs brute force (set equality, recall 1.0)") {
    // independent ground truth: Scala string 5-gram shingle sets, all pairs
    val docs = graft.ops.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.replaceAll("\\s+", " ").trim.split(" ").toSeq))
      .filter(_._2.length >= 5)
      .map { case (id, toks) =>
        (id, toks.sliding(5).map(_.mkString(" ")).toSet)
      }
    val expected = (for {
      (a, sa) <- docs; (b, sb) <- docs
      if a != b
      ni = sa.intersect(sb).size
      if ni * 20 >= sa.size * 17
    } yield (a, b)).toSet
    val got = DedupOps.dedupContainment(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"prefix-filter≠brute-force: missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")
    assert(expected.nonEmpty, "fixture has no containment pairs — vacuous")
  }

  test("property: containment prefix filter == brute force on random corpora (boundary sizes)") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // tiny vocab + short docs force threshold-boundary shingle counts
    // (n_sh where (n_sh*3) div 20 steps) and heavy shingle sharing
    val word = Gen.choose(0, 7).map(i => s"w$i")
    val doc = Gen.choose(5, 18).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpus = Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, doc))
    val prop = Prop.forAll(corpus) { texts: List[String] =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def shingles(t: String): Set[String] = {
        val toks = t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ").toSeq
        if (toks.length < 5) Set.empty
        else toks.sliding(5).map(_.mkString(" ")).toSet
      }
      val sh = docs.map { case (id, t) => id -> shingles(t) }
        .filter(_._2.nonEmpty).toMap
      val expected = (for {
        (a, sa) <- sh; (b, sb) <- sh
        if a != b && sa.intersect(sb).size * 20 >= sa.size * 17
      } yield (a, b)).toSet
      val got = graft.ops.DedupOps
        .dedupContainmentFrom(docs.toDF("doc_id", "text"))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ok = got == expected
      if (!ok) println(s"MISMATCH corpus=$docs got=$got want=$expected")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("containment is asymmetric: an excerpt flags against its superset, not vice versa") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    // doc 1 = a 30-token excerpt of doc 2 (60 tokens): every shingle of 1
    // is in 2 (C(1,2) = 1.0 ≥ 0.85) but C(2,1) = 26/56 ≈ 0.46 — only the
    // (excerpt, superset) direction may appear. doc 3 is unrelated noise.
    val words = (0 until 60).map(i => s"w$i")
    val excerpt = words.take(30).mkString(" ")
    val full = words.mkString(" ")
    val noise = (100 until 140).map(i => s"n$i").mkString(" ")
    val docs = Seq((1L, excerpt), (2L, full), (3L, noise))
      .toDF("doc_id", "text")
    val got = graft.ops.DedupOps.dedupContainmentFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L)), s"got ${got.toSeq}")
    assert(got.head._3 == 1.0)
  }

  test("dedup verify stages carry no broadcast hint (shuffled path on forced-large input)") {
    // threshold −1 simulates a corpus too big to broadcast; with AQE off
    // (AdaptiveSparkPlanExec hides inner plans from collect) any remaining
    // BroadcastExchange could only come from an explicit hint
    val conf = spark.conf
    val prevThresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      Seq("dedup_ngram_jaccard" -> DedupOps.dedupNgramJaccard(spark, dir),
          "dedup_minhash_lsh" -> DedupOps.dedupMinhashLsh(spark, dir),
          "dedup_minhash_shingle" -> DedupOps.dedupMinhashShingle(spark, dir))
        .foreach { case (name, df) =>
          val bcasts = df.queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e
          }
          assert(bcasts.isEmpty,
            s"$name forces broadcast despite autoBroadcastJoinThreshold=-1")
        }
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("embedding LSH: pairs ⊆ exact baseline with identical cos, recall ≥ 0.9") {
    // sf0.01: the known near-dup set is 26 pairs (sf0.001 has too few for a
    // meaningful recall); hyperplanes are hash-derived → fully deterministic
    val d01 = "/root/testdata/sf0.01"
    val exact = DedupOps.dedupEmbeddingCosine(spark, d01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = DedupOps.dedupEmbeddingLsh(spark, d01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.keySet.subsetOf(exact.keySet),
      s"LSH pairs not in exact set: ${lsh.keySet.diff(exact.keySet).take(5)}")
    lsh.foreach { case (k, cos) =>
      assert(cos == exact(k), s"pair $k: lsh cos $cos != exact ${exact(k)}")
    }
    val recall = lsh.size.toDouble / exact.size.toDouble
    assert(recall >= 0.9,
      s"embedding LSH recall too low: $recall (${lsh.size}/${exact.size})")
  }

  test("shingle minhash LSH: measured recall ≥ 0.9 vs exact shingle-jaccard ground truth") {
    // driver-side all-pairs exact 5-token shingle jaccard (fine at test
    // scale); hashes are deterministic → the measured recall is a constant
    // of this corpus, not a flaky statistic (measured: 27/28)
    val texts = graft.ops.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ").split(" ").toSeq)
      .toMap
    def shingles(t: Seq[String]): Set[Seq[String]] =
      if (t.length < 5) Set.empty else t.sliding(5).map(_.toSeq).toSet
    val shs = texts.map { case (k, v) => k -> shingles(v) }.filter(_._2.nonEmpty)
    val ids = shs.keys.toArray.sorted
    val truth = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      a = shs(ids(i)); b = shs(ids(j))
      inter = a.intersect(b).size
      union = a.size + b.size - inter
      if union > 0 && inter.toDouble / union >= 0.8
    } yield (ids(i), ids(j))).toSet
    assert(truth.nonEmpty)
    val got = DedupOps.dedupMinhashShingle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9,
      s"shingle LSH recall too low: $recall (${got.intersect(truth).size}/${truth.size})")
  }

  test("sign-LSH ANN: measured recall ≥ 0.8 vs the exact top-k") {
    val exact = SimilarityOps.annCosineTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = SimilarityOps.annSignLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8,
      s"sign-LSH ANN recall too low: $recall (${lsh.intersect(exact).size}/${exact.size})")
  }

  test("HNSW-lite ANN: measured recall ≥ 0.9 vs the exact top-k; widening the beam is monotone") {
    val exact = SimilarityOps.annCosineTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val hnsw = SimilarityOps.annHnswTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = hnsw.intersect(exact).size.toDouble / exact.size
    // shipped-default (beam 48 × 3 best-first rounds) measured recall:
    // 0.96 sf0.001 / 1.00 sf0.01 / 0.98 sf0.1 — floor at 0.9 (vs the 0.8
    // floor the r10 two-hop expansion needed)
    assert(recall >= 0.9,
      s"HNSW ANN recall too low: $recall (${hnsw.intersect(exact).size}/${exact.size})")
    // ef (beamWidth) is THE recall-for-throughput knob of graph ANN:
    // a narrow beam must not beat the shipped wide one on this corpus.
    // Widths come from the derived sweep set, never literals — retuning
    // HnswIndex.BeamWidth must retune this test with it (ADVICE r14)
    val Seq(wNarrow, wMid, wShipped) = SimilarityOps.BeamSweepWidths
    val narrow = SimilarityOps.annHnswTopk(spark, dir,
        bitsPerBand = 8, bands = 10, degree = 20, levelMod = 16,
        entries = 6, beamWidth = wNarrow, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recallNarrow = narrow.intersect(exact).size.toDouble / exact.size
    assert(recall >= recallNarrow,
      s"recall must be monotone in beamWidth here: " +
        s"beam$wShipped=$recall beam$wNarrow=$recallNarrow")
    // the one-pass sweep (bw carried as a key, rn <= bw truncation) must
    // agree with the independent searches it replaces: its recalls
    // bracket monotonically and the shipped-width row equals the shipped
    // search's measured recall
    val sweep = SimilarityOps.annBeamSweep(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(sweep.keySet == SimilarityOps.BeamSweepWidths.toSet)
    assert(sweep.keySet.max == graft.ops.HnswIndex.BeamWidth,
      "sweep must include the shipped operating point")
    assert(sweep(wNarrow) <= sweep(wMid) + 1e-9 &&
        sweep(wMid) <= sweep(wShipped) + 1e-9,
      s"sweep not monotone: $sweep")
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(sweep(wShipped) == r4(recall),
      s"sweep beam-$wShipped recall ${sweep(wShipped)} != independent search ${r4(recall)}")
    assert(sweep(wNarrow) == r4(recallNarrow),
      s"sweep beam-$wNarrow recall ${sweep(wNarrow)} != independent search ${r4(recallNarrow)}")
  }

  test("IVF nprobe: recall(nprobe=2) ≥ recall(nprobe=1), strictly more candidate coverage") {
    // nprobe is THE recall-for-throughput knob: probing more coarse buckets
    // can only widen the candidate set, so top-k recall vs the exact
    // baseline is monotone in nprobe (set inclusion per query)
    val exact = SimilarityOps.annCosineTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(nprobe: Int): Double = {
      val got = SimilarityOps.annIvfProbe(spark, dir, nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r1 = recallOf(1)
    val r2 = recallOf(2)
    assert(r2 >= r1, s"recall must be monotone in nprobe: r1=$r1 r2=$r2")
    // and probing every bucket IS the exact search — recall 1.0
    val nLabels = graft.ops.Tables(spark, dir, "embeddings")
      .select("label").distinct().count().toInt
    assert(recallOf(nLabels) == 1.0,
      "nprobe = all buckets must recover the exact top-k")
  }

  test("duplicate_spans = independent Scala string-gram recomputation (exact per-doc equality)") {
    val K = 20
    val norm = graft.ops.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.replaceAll("\\s+", " ").trim).toMap
    // ground truth on STRING grams — a different code path from both the
    // rolling hash (Spark) and the SQL oracle
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, t) <- norm; i <- 0 to t.length - K)
      gramDocs.updateWith(t.substring(i, i + K))(
        s => Some(s.getOrElse(Set.empty) + id))
    val expected = norm.map { case (id, t) =>
      val dupPos = (0 to t.length - K)
        .filter(i => gramDocs(t.substring(i, i + K)).size >= 2)
      // merge [p, p+K-1] windows that overlap or touch
      val islands = dupPos.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, p) if p <= e0 + 1 => (s0, math.max(e0, p + K - 1)) :: rest
        case (acc, p) => (p, p + K - 1) :: acc
      }
      id -> (islands.length.toLong, islands.map(ie => ie._2 - ie._1 + 1L).sum)
    }
    val got = DedupOps.duplicateSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == expected.keySet)
    val bad = expected.filter { case (id, e) => got(id) != e }
    assert(bad.isEmpty, s"span mismatch (first 5): ${bad.take(5)}")
    assert(expected.values.exists(_._1 > 0), "fixture has no duplicated spans — vacuous")
  }

  test("sign-LSH ANN: per-query ranks contiguous, cos non-increasing, ⊆ brute-force candidates") {
    val rows = SimilarityOps.annSignLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq,
        s"ranks not contiguous for query $q")
      assert(sorted.sliding(2).forall {
        case Array(x, y) => x._4 >= y._4; case _ => true
      }, s"cos not non-increasing for query $q")
      assert(rs.forall(_._3 != q), "self returned as neighbor")
    }
  }

  test("semdedup: k grows with corpus size (occupancy ≤ 16), gate corpus lands on the committed k=32 oracle") {
    import graft.ops.DedupOps
    // the SCALE.md contract (VERDICT r10 #3): per-cluster expected
    // occupancy is pinned, so within-cluster pair work is linear in n —
    // NOT the fixed-k quadratic the old hardcoded 32 gave
    for (n <- Seq(1L, 16L, 500L, 2000L, 1000000L, 100000000000L)) {
      val k = DedupOps.semDedupK(n)
      assert(k >= 1 && n <= 16L * k, s"occupancy ${n.toDouble / k} > 16 at n=$n")
      assert(16L * (k - 1) < n, s"k=$k overshoots at n=$n (occupancy would collapse)")
    }
    // monotone in n — a larger corpus never gets fewer clusters
    val ks = Seq(1L, 100L, 500L, 2000L, 50000L).map(DedupOps.semDedupK)
    assert(ks == ks.sorted, s"semDedupK not monotone: $ks")
    // the sf0.01 gate corpus (500 vectors) must derive EXACTLY the k the
    // committed DuckDB oracle hardcodes, or the green row silently pins
    // a different query than the one shipped
    assert(DedupOps.semDedupK(500L) == 32, "gate corpus no longer derives k=32")
    // and the derived-k entry point equals the explicit-k call
    val viaDefault = DedupOps.semDedup(spark, dir).collect().map(_.toSeq)
    val viaExplicit = DedupOps.semDedup(spark, dir,
      DedupOps.semDedupK(graft.ops.Tables(spark, dir, "embeddings").count()))
      .collect().map(_.toSeq)
    assert(viaDefault.sameElements(viaExplicit))
  }

  test("dedup_lines: corpus-wide first occurrence survives, later block copies drop, docs re-assemble in order") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    // blocks are 10 words. doc 1 = A B (20 words); doc 2 = C A (A repeats
    // cross-doc → dropped, C kept); doc 3 = D D' where D' repeats D's
    // 10-word text WITHIN the doc → second copy dropped; doc 4 = B alone
    // (cross-doc repeat of doc 1's second block → emptied entirely).
    def blk(p: String) = (0 until 10).map(i => s"$p$i").mkString(" ")
    val (a, b, c, d) = (blk("a"), blk("b"), blk("c"), blk("d"))
    val docs = Seq(
      (1L, s"$a $b"), (2L, s"$c $a"), (3L, s"$d $d"), (4L, b))
      .toDF("doc_id", "text")
    val got = graft.ops.DedupOps.dedupLinesFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, s"$a $b"), // first occurrences of A and B — intact
      (2L, 2L, 1L, c),        // A already seen in doc 1 → only C remains
      (3L, 2L, 1L, d),        // within-doc repeat → one copy survives
      (4L, 1L, 0L, "")))      // whole doc was a repeat → emptied
  }

  test("contamination_fuzzy: a lightly-edited train copy of an eval doc flags; unrelated docs do not") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    // train doc 2 = eval doc 1 with ONE word substituted mid-doc (100
    // words → shingle Jaccard ≈ (96-5)/(96+5) ≈ 0.90 ≥ 0.8); doc 3 is
    // unrelated train text. An exact full-doc hash would miss doc 2.
    val words = (0 until 100).map(i => s"w$i")
    val evalDoc = words.mkString(" ")
    val edited = words.updated(50, "EDIT").mkString(" ")
    val noise = (500 until 600).map(i => s"n$i").mkString(" ")
    val docs = Seq(
      (1L, "src0", evalDoc), (2L, "src1", edited), (3L, "src2", noise))
      .toDF("doc_id", "source", "text")
    val got = graft.ops.DedupOps.contaminationFuzzyFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getBoolean(4)))
    assert(got.length == 1)
    val (id, nCand, j, flagged) = got(0)
    assert(id == 1L && nCand == 1L, s"expected doc 2 as sole candidate: ${got.toSeq}")
    assert(j > 0.8 && j < 1.0, s"edited-copy jaccard out of band: $j")
    assert(flagged)
  }

  test("dedup_span_remove: every cross-doc duplicated ≥20-char string survives exactly once, owner intact") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    // doc 1 owns the 40-char run; doc 2 embeds it mid-text (cut from 2,
    // stitching its own head+tail back together); doc 3 IS the run plus
    // nothing else (fully emptied); doc 4 is untouched noise.
    val shared = "the quick brown fox jumps over lazy dogs" // 40 chars
    val head = "alpha beta gamma delta one"
    val tail = "omega psi chi phi upsilon two"
    val docs = Seq(
      (1L, shared),
      (2L, s"$head $shared $tail"),
      (3L, shared),
      (4L, "completely unrelated filler text with no overlap at all"))
      .toDF("doc_id", "text")
    val got = graft.ops.DedupOps.dedupSpanRemoveFrom(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(got(1L) == (0L, 0L, shared), s"owner must keep its copy: ${got(1L)}")
    assert(got(3L)._3 == "", s"whole-doc duplicate must empty: ${got(3L)}")
    assert(got(4L) == (0L, 0L, got(4L)._3) && got(4L)._3.nonEmpty)
    val (spans2, removed2, kept2) = got(2L)
    assert(spans2 == 1L && removed2 >= shared.length,
      s"doc 2 must cut one span covering the run: ${got(2L)}")
    assert(!kept2.contains(shared), "the run must not survive in doc 2")
    assert(kept2.startsWith(head.take(5)) && kept2.endsWith(tail.takeRight(5)),
      s"doc 2 must stitch its own head+tail: $kept2")
    // corpus-wide exactly-once: the shared run appears once across all
    // kept texts (Lee et al.'s invariant)
    val occurrences = got.values.map(_._3).count(_.contains(shared))
    assert(occurrences == 1, s"run survives $occurrences times, want 1")
  }

  test("boilerplate_strip: blocks at the ≥3 threshold vanish everywhere (no kept copy); twice-repeated content stays") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    def blk(p: String) = (0 until 10).map(i => s"$p$i").mkString(" ")
    val (b, c, u1, u2, u3) = (blk("b"), blk("c"), blk("x"), blk("y"), blk("z"))
    // B appears 3× (docs 1,2,3) → boilerplate, removed from ALL THREE;
    // C appears 2× (docs 1,2) → below threshold, kept in both (this is
    // dedup_lines' business, not boilerplate's); unique blocks untouched.
    val docs = Seq(
      (1L, s"$b $c $u1"), (2L, s"$c $b $u2"), (3L, s"$u3 $b"))
      .toDF("doc_id", "text")
    val got = graft.ops.DedupOps.boilerplateStripFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, s"$c $u1"),
      (2L, 3L, 2L, s"$c $u2"),
      (3L, 2L, 1L, u3)), got.toSeq.toString)
  }

  test("property: dedup_lines == driver-side keep-first reference on random block corpora") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // docs built from a tiny BLOCK vocabulary so cross-doc and within-doc
    // block repeats are frequent; word counts not multiples of 10 exercise
    // the partial tail block
    val block = Gen.choose(0, 4).map(i => (0 until 10).map(j => s"b${i}w$j"))
    val tailLen = Gen.choose(1, 9)
    val doc = for {
      nb <- Gen.choose(1, 4); bs <- Gen.listOfN(nb, block)
      t <- tailLen; tl <- Gen.choose(0, 4).map(i => (0 until t).map(j => s"t${i}w$j"))
    } yield (bs.flatten ++ tl).mkString(" ")
    val corpus = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, doc))
    val prop = Prop.forAll(corpus) { texts: List[String] =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // reference: global first-occurrence scan in (doc_id, blk) order
      val seen = scala.collection.mutable.Set[String]()
      val expected = docs.map { case (id, t) =>
        val words = t.trim.split("\\s+").toSeq
        val blocks = words.grouped(10).map(_.mkString(" ")).toSeq
        val kept = blocks.filter { b =>
          if (seen(b)) false else { seen += b; true }
        }
        (id, blocks.size.toLong, kept.size.toLong, kept.mkString(" "))
      }
      val got = graft.ops.DedupOps.dedupLinesFrom(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
      val ok = got == expected
      if (!ok) println(s"MISMATCH corpus=$docs\n got=$got\n want=$expected")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("dedup_lsh_tune: nested-band containment makes counts monotone in bands; capture(8×6)=1; theory matches formula") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    // crafted corpus: an identical pair (J=1 — every config must both
    // candidate AND find it), a moderately-similar pair (distinct md5
    // shingle streams overlap ~50%), and a disjoint singleton
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val half = ((0 until 20).map(i => s"w$i") ++
      (0 until 24).map(i => s"x$i")).mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), (3L, half),
      (4L, (0 until 30).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = graft.ops.DedupOps.dedupLshTuneFrom(s, docs).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 4, 8), "one row per config, band-ordered")
    val byBands = rows.map(r => r.getInt(0) ->
      (r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    // a (2×24) band match is md5-equality of 24 consecutive hashes, which
    // implies its nested (4×12) and (8×6) sub-band matches — candidate
    // sets are supersets as bands grow, so counts are monotone and the
    // most permissive config captures the whole union by construction
    assert(byBands(2)._1 <= byBands(4)._1 && byBands(4)._1 <= byBands(8)._1,
      s"n_candidates not monotone in bands: $byBands")
    assert(byBands(2)._2 <= byBands(4)._2 && byBands(4)._2 <= byBands(8)._2,
      s"n_found not monotone in bands: $byBands")
    assert(byBands(8)._3 == 1.0, s"capture(8x6) must be exactly 1: $byBands")
    // the identical pair has all 48 hashes equal → candidate + J=1 find
    // in EVERY config
    rows.foreach { r =>
      assert(r.getLong(2) >= 1L && r.getLong(3) >= 1L,
        s"identical pair missed by (${r.getInt(0)}x${r.getInt(1)})")
    }
    // theory columns are the closed form, not data-dependent
    rows.foreach { r =>
      val (b, rr) = (r.getInt(0), r.getInt(1))
      def p(j: Double) = BigDecimal(1.0 - math.pow(1.0 - math.pow(j, rr), b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(6) == p(0.8) && r.getDouble(7) == p(0.95))
    }
  }
  test("dedup_threshold_sweep: all three metrics are non-increasing in " +
    "the threshold and the 0.9 row IS the pair table") {
    val dir = "/root/testdata/sf0.001"
    val rows = DedupOps.dedupThresholdSweep(spark, dir).collect()
      .sortBy(_.getDouble(0))
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(0.9, 0.93, 0.96))
    Seq[((Double, Long, Long, Long)) => Long](_._2, _._3, _._4).foreach { f =>
      val vals = rows.map(f)
      assert(vals.zip(vals.tail).forall { case (a, b) => a >= b },
        s"not monotone: ${vals.toSeq}")
    }
    // the lowest threshold equals the pair table's own cut, so its row
    // must reproduce the table's totals exactly
    val pairs = graft.ops.DedupEdges.pairs(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.head._2 == pairs.length)
    assert(rows.head._3 ==
      (pairs.map(_._1) ++ pairs.map(_._2)).distinct.length)
    val maxDeg = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).values.map(_.length).max
    assert(rows.head._4 == maxDeg)
  }
  test("minhash_estimate_error: estimator errors sit inside a few binomial " +
    "sigma and the identical pair estimates J = 1 exactly") {
    val dir = "/root/testdata/sf0.001"
    val rows = DedupOps.minhashEstimateError(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (bucket, n, exact, est, err, sd) =>
      assert(bucket >= 0 && bucket <= 9)
      assert(n > 0 && exact >= 0 && exact <= 1 && est >= 0 && est <= 1)
      // mean |error| of n draws concentrates near sigma*sqrt(2/pi); allow
      // a generous 3x before calling the hash family broken
      assert(err <= 3 * sd + 0.02,
        s"bucket $bucket: mean_abs_err $err vs theory sd $sd")
    }
    // calibration sanity: in every bucket the estimate tracks the exact
    // mean to within the same tolerance
    rows.foreach { case (b, _, exact, est, _, sd) =>
      assert(math.abs(est - exact) <= 3 * sd + 0.02, s"bucket $b bias")
    }
  }
  test("property: dedup_span_remove — no originally-duplicated 20-char " +
    "window survives in more than one document") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vocab = (0 until 16).map(i => f"w$i%02d")
    val phrase = "shared run of text that exceeds twenty chars easily"
    val docGen = for {
      n <- Gen.choose(4, 14)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
      plant <- Gen.oneOf(0, 1, 2) // 0 = none, 1 = append, 2 = prepend
    } yield plant match {
      case 1 => (ws :+ phrase).mkString(" ")
      case 2 => (phrase +: ws).mkString(" ")
      case _ => ws.mkString(" ")
    }
    val corpus = Gen.choose(3, 8).flatMap(k => Gen.listOfN(k, docGen))
    val W = 20
    val prop = Prop.forAll(corpus) { texts: List[String] =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val kept = graft.ops.DedupOps.dedupSpanRemoveFrom(docs).collect()
        .map(r => r.getLong(0) -> r.getString(4)).toMap
      // original cross-doc duplicated windows (on the normalized text the
      // operator works over)
      def norm(t: String) = t.toLowerCase.replaceAll("\\s+", " ").trim
      def windows(t: String): Set[String] =
        if (t.length < W) Set.empty
        else (0 to t.length - W).map(i => t.substring(i, i + W)).toSet
      val byDoc = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> windows(norm(t)) }
      val dupWindows = byDoc.flatMap { case (id, ws) => ws.map(_ -> id) }
        .groupBy(_._1).filter(_._2.map(_._2).distinct.length >= 2).keySet
      val ok = dupWindows.forall { w =>
        kept.values.count(_.contains(w)) <= 1
      }
      if (!ok) {
        val bad = dupWindows.filter(w => kept.values.count(_.contains(w)) > 1)
        println(s"SURVIVING DUPS: ${bad.take(2)} in corpus $texts -> $kept")
      }
      ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("knn_join: corpus-wide top-k recall ≥ 0.8 vs the exact all-pairs baseline; covers every candidate-bearing node") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{normalize, toDoubleArray, dot}
    val emb = graft.ops.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), normalize(toDoubleArray(col("embedding"))).as("v"))
    // small-N brute-force ground truth (test-only — the query itself is
    // the LSH-bucketed scale path, never all-pairs)
    val w = Window.partitionBy(col("na")).orderBy(col("cos").desc, col("nb"))
    val exact = emb.select(col("vec_id").as("na"), col("v").as("va"))
      .crossJoin(emb.select(col("vec_id").as("nb"), col("v").as("vb")))
      .filter(col("na") =!= col("nb"))
      .select(col("na"), col("nb"), dot(col("va"), col("vb")).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("na", "nb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val rows = SimilarityOps.knnJoin(spark, dir).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8,
      s"knn_join recall too low: $recall (${got.intersect(exact).size}/${exact.size})")
    // every node that shares any band bucket appears with ≤ K ranked rows
    val perNode = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perNode.values.forall(_ <= 5))
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)), "self pair leaked")
  }

  test("knn_delete_repair: no deleted id survives anywhere; undamaged lists ride through unchanged") {
    val full = SimilarityOps.knnJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val repaired = SimilarityOps.knnDeleteRepair(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(repaired.nonEmpty)
    def del(id: Long) = id % 10 == 3
    assert(repaired.forall(r => !del(r._1) && !del(r._3)),
      "a deleted id survived tombstoning")
    // dominance: a surviving node whose FULL-corpus list has no deleted
    // neighbor must keep that list row-for-row after the delete batch
    val undamaged = full.groupBy(_._1)
      .filter { case (n, rs) => !del(n) && rs.forall(r => !del(r._3)) }
    assert(undamaged.nonEmpty, "no undamaged node — test vacuous")
    val byNode = repaired.groupBy(_._1)
    undamaged.foreach { case (n, rs) =>
      assert(byNode.get(n).map(_.sortBy(_._2).toSeq)
          .contains(rs.sortBy(_._2).toSeq),
        s"undamaged node $n list changed")
    }
  }

  test("knn_damage_stats: the audit row equals fractions recomputed from the knn_join artifact itself") {
    // the DuckDB oracle pins the values cross-engine; this pins the
    // audit's SEMANTICS against the artifact it claims to describe — the
    // same fractions recomputed driver-side from knn_join's own output
    val lists = SimilarityOps.knnJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    def del(id: Long) = id % 10 == 3
    val nodes = lists.map(_._1).distinct
    val live = lists.filter(p => !del(p._1))
    // exact integer ppm (floor division) — definitional, no rounding
    // mode in play (the r16 round(int/int, 6) red-row class)
    def ppm(num: Long, den: Long): Long = num * 1000000L / den
    val row = SimilarityOps.knnDamageStats(spark, dir).collect()
    assert(row.length == 1)
    val r = row(0)
    assert(r.getLong(0) == nodes.length && r.getLong(1) == nodes.count(del))
    assert(r.getLong(2) == ppm(nodes.count(del), nodes.length))
    assert(r.getLong(3) == live.length &&
      r.getLong(4) == live.count(p => del(p._2)))
    val nDam = live.count(p => del(p._2)).toLong
    assert(r.getLong(5) == ppm(nDam, live.length))
    assert(r.getLong(6) == ppm(live.length - nDam, live.length))
    // the audit must actually see damage at this delete family — the
    // trigger calibration is not vacuous
    assert(r.getLong(2) > 0L && r.getLong(5) > 0L)
  }

  test("knn_mutual: pairs and SNN strengths equal a driver-side recompute from the knn_join artifact") {
    val lists = SimilarityOps.knnJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val edge = lists.map(p => (p._1, p._2)).toSet
    val byNode = lists.groupBy(_._1)
      .map { case (n, rs) => n -> rs.map(_._2).toSet }
    val cosOf = lists.map(p => (p._1, p._2) -> p._3).toMap
    val expected = edge.toSeq
      .filter { case (a, b) => a < b && edge.contains((b, a)) }
      .map { case (a, b) =>
        (a, b, cosOf((a, b)), byNode(a).intersect(byNode(b)).size.toLong)
      }.sorted
    val got = SimilarityOps.knnMutual(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty, "no mutual pairs — test vacuous")
    assert(got == expected)
    // mutuality is strictly rarer than directed membership — the
    // symmetrization actually cuts something on this corpus
    assert(got.length.toLong < edge.size,
      "every directed edge was mutual — symmetrization vacuous")
  }

  test("snn_clusters: components agree with a driver-side union-find over the same thresholded mutual pairs") {
    val pairs = SimilarityOps.knnMutual(spark, dir)
      .filter(org.apache.spark.sql.functions.col("shared_k") >=
        SimilarityOps.SnnMinShared)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no SNN edges at the calibrated threshold — vacuous")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = members.map(m => (m, find(m))).sorted
      .map { case (m, rep) => (m, rep, m == rep) }
    val got = SimilarityOps.snnClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == expected.toSeq)
  }

  test("ann_lsh_occupancy: ≤2^bits buckets per band, occupancy mass = corpus, candidate mass brackets the distinct cohabit pairs") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.{normalize, toDoubleArray}
    val rows = SimilarityOps.annLshOccupancy(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(rows.length == 20)
    assert(rows.forall(_._2 <= 16), "more than 2^4 buckets in a band")
    val n = graft.ops.Tables(spark, dir, "embeddings").count()
    rows.foreach { case (band, nb, _, mean, _) =>
      assert(math.abs(mean * nb - n) < 1e-6 * n + 1e-6,
        s"band $band occupancy mass ${mean * nb} != corpus $n")
    }
    // the OR-construction: distinct directed cohabit pairs are bounded
    // above by the summed per-band mass (multi-band collisions dedup)
    // and below by any single band's mass
    val emb = graft.ops.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), normalize(toDoubleArray(col("embedding"))).as("v"))
    val banded = SimilarityOps.hnswBanded(emb, 4, 20)
    val distinctPairs =
      KnnReference.hnswCohabit(banded, banded).count()
    assert(distinctPairs <= rows.map(_._5).sum,
      "distinct pairs exceed the union bound")
    assert(distinctPairs >= rows.map(_._5).max,
      "distinct pairs below a single band's mass")
  }

  test("ann_band_plan: per-config stats equal a driver recount off the " +
      "8-bit banding; candidate mass non-increasing in bits; verdict " +
      "definitional") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.{normalize, toDoubleArray}
    val emb = graft.ops.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), normalize(toDoubleArray(col("embedding"))).as("v"))
    val banded8 = SimilarityOps.hnswBanded(emb,
      SimilarityOps.BandPlanBits, SimilarityOps.BandPlanBands)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    val got = SimilarityOps.annBandPlan(spark, dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(got.map(_._1).toSeq == (2 to SimilarityOps.BandPlanBits).toSeq)
    got.foreach { case (bits, meanOcc, maxOcc, candPerBand, est, ok) =>
      // independent recount: low-bits slice of the collected 8-bit ids
      val occ = banded8.groupBy { case (band, b) =>
        (band, b % (1L << bits))
      }.view.mapValues(_.length.toLong).values.toSeq
      val mean = occ.map(_.toDouble).sum / occ.length
      assert(math.abs(meanOcc - math.rint(mean * 100) / 100) <= 0.011,
        s"bits $bits mean_occ $meanOcc vs recount $mean")
      assert(maxOcc == occ.max, s"bits $bits max_occ")
      val mass = occ.map(c => c * (c - 1)).sum.toDouble /
        SimilarityOps.BandPlanBands
      assert(math.abs(candPerBand - math.rint(mass * 100) / 100) <= 0.011,
        s"bits $bits cand_per_band $candPerBand vs recount $mass")
      assert(math.abs(est - candPerBand * SimilarityOps.KnnBands) <= 0.011,
        s"bits $bits est_candidates not KnnBands x cand_per_band")
      assert(ok == (meanOcc <= SimilarityOps.BandPlanOccTarget),
        s"bits $bits occ_ok not definitional")
    }
    // the knob's monotone direction: more bits can only shrink buckets
    assert(got.map(_._4).sliding(2).forall(p => p(1) <= p(0) + 1e-9),
      "candidate mass not non-increasing in bits")
  }

  test("hnsw_tombstone_recall: one row per surviving query; tombstoned serving holds recall ≥ 0.8 at 10% deletion here") {
    val rows = SimilarityOps.hnswTombstoneRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // queries 0..9 minus the deleted (vec_id % 10 = 3)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
    assert(rows.forall(r => r._2 >= 0 && r._2 <= 5))
    val mean = rows.map(_._3).sum / rows.length
    // the audit's job is to DETECT degradation; at this corpus/deletion
    // rate the beam-48 search absorbs the tombstones (measured 0.956
    // sf0.001 / 1.0 sf0.01) — alarm floor mirrors the intact-graph pin
    assert(mean >= 0.8, s"tombstoned serving recall collapsed: $mean")
  }

  test("dedup_agreement: riders reconcile with both pair tables, bins partition the edge set, catch_rate definitional") {
    val rows = DedupOps.dedupAgreement(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(0.35, 0.5, 0.65, 0.8),
      "bin spine must be the four static edges in order")
    // riders constant across rows
    assert(rows.map(_._5).distinct.length == 1)
    assert(rows.map(_._6).distinct.length == 1)
    val (nLex, nUncaught) = (rows.head._5, rows.head._6)
    // every lexical pair is either caught by some semantic bin or uncaught
    assert(rows.map(_._3).sum + nUncaught == nLex,
      "hits + uncaught must partition the lexical pair table")
    // lexical side reconciles with the corpus-wide LSH pair table itself
    val lexCount = graft.ops.DedupEdges.shinglePairs(spark, dir).count()
    assert(nLex == lexCount)
    // semantic side reconciles with an independent recount of the
    // thresholded unordered edge set from the lists artifact
    val semCount = graft.ops.KnnLists.lists(spark, dir)
      .filter(org.apache.spark.sql.functions.col("cos")
        >= SimilarityOps.SemDedupCos)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(2)),
        math.max(r.getLong(0), r.getLong(2))))
      .toSet.size
    assert(rows.map(_._2).sum == semCount,
      "bins must partition the thresholded semantic edge set")
    rows.foreach { case (_, n, hits, rate, _, _) =>
      assert(hits <= n, "a bin cannot catch more pairs than it holds")
      val expect = BigDecimal(hits.toDouble / math.max(n, 1L))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rate - expect) < 1e-9, s"catch_rate $rate != $expect")
    }
  }
}
