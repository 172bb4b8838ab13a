package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The cross-round drift detector (`vs_prev_round`, VERDICT r15 #7):
  * pure-function pins, no Spark session — flagging rules, the two-term
  * bar, the run order, and the prev-round and floors loaders' sf guards.
  */
class BenchSpec extends AnyFunSuite {

  test("orderNames: a fixed-seed permutation of the registry") {
    val names = Seq("c_q", "a_q", "b_q", "d_q", "e_q")
    val sh1 = Bench.orderNames(names)
    val sh2 = Bench.orderNames(names)
    assert(sh1 == sh2, "fixed seed: two runs must agree")
    assert(sh1.sorted == names.sorted, "a permutation, nothing dropped")
    assert(sh1 != names.sorted, "actually shuffled at this size")
    // de-correlation property on the real registry: no long alphabetical
    // run survives the shuffle (a contiguous load window can no longer
    // flag a name-contiguous set)
    val real = Bench.orderNames(SparkEntry.queries.keySet.toSeq)
    val maxRun = real.sliding(2).count(p => p(0) <= p(1))
    assert(maxRun < real.size - 1, "not the sorted order")
  }

  test("vs_prev_round flags only overlap queries whose min exceeds the " +
      "two-term bar") {
    val prev = Map(
      "fast" -> 0.2, // bar = max(0.4, 0.95) = 0.95: jitter-immune
      "slow" -> 3.0, // bar = max(6.0, 3.75) = 6.0: ratio term rules
      "gone" -> 1.0) // not in cur — never flagged
    val cur = Map(
      "fast" -> 0.9,   // 4.5x prev but under the absolute slack
      "slow" -> 6.5,   // past 2x on a multi-second query
      "brand_new" -> 9.9) // no prev — never flagged
    val drift = Bench.vsPrevRound(cur, prev)
    assert(drift == Map("slow" -> (3.0, 6.5)))
  }

  test("vs_prev_round ignores failed readings on either side") {
    assert(Bench.vsPrevRound(Map("q" -> -1.0), Map("q" -> 0.1)).isEmpty)
    assert(Bench.vsPrevRound(Map("q" -> 9.0), Map("q" -> -1.0)).isEmpty)
  }

  test("loadPrevRoundFrom parses a driver record and honors the sf guard") {
    val f = Files.createTempFile("graft-bench-prev", ".json")
    // a realistic-width map — the reader's shape floor (ADVICE r16)
    // rejects suspiciously small parses as writer/reader format drift
    val manyQs = (1 to 60).map(i => s""""q$i":0.1""").mkString(",")
    Files.write(f,
      ("""{"metric":"total","value":10.5,"unit":"sec","queries":""" +
        s"""{"q1_agg":0.25,"knn_join":1.5,$manyQs},"contended":[],""" +
        """"above_floor":[],"sf":"/root/testdata/sf0.1"}""")
        .getBytes("UTF-8"))
    val same = Bench.loadPrevRoundFrom(f, "/root/testdata/sf0.1")
    assert(same.size == 62)
    assert(same("q1_agg") == 0.25 && same("knn_join") == 1.5)
    // a prev record at another sf must disable the detector, not compare
    // apples to oranges (the floors-file rule applied again)
    assert(Bench.loadPrevRoundFrom(f, "/root/testdata/sf0.01").isEmpty)
    // shape floor: a truncated/polluted parse (e.g. a future nested
    // value closing the map early) yields a tiny map — detector off,
    // not a silently-wrong baseline
    val tiny = Files.createTempFile("graft-bench-prev-tiny", ".json")
    Files.write(tiny,
      ("""{"metric":"total","queries":{"q1":0.25,"nested":{"x":1.0},""" +
        """"q2":9.9},"sf":"/root/testdata/sf0.1"}""").getBytes("UTF-8"))
    assert(Bench.loadPrevRoundFrom(tiny, "/root/testdata/sf0.1").isEmpty)
    // unreadable file: detector off, never a crash
    assert(Bench.loadPrevRoundFrom(
      java.nio.file.Paths.get("/nonexistent.json"), "x").isEmpty)
  }

  test("loadPrevRound defaults to the newest committed close record " +
      "(the driver's BENCH_rN.json wrapper has no queries map)") {
    // runs with cwd = repo root, where scripts/bench_r*_close.json live
    val prev = Bench.loadPrevRound("/root/testdata/sf0.1")
    assert(prev.size > 200, s"baseline too small: ${prev.size}")
    assert(prev.contains("q1_pricing_summary"))
  }

  private def floorsFile(sf: String): java.nio.file.Path = {
    val f = Files.createTempFile("graft-bench-floors", ".json")
    Files.write(f,
      ("""{"_comment":"quiet-box record","source":"r19 close",""" +
        s""""sf":"$sf","floors":{"_comment":"seconds",""" +
        """"q1_agg":0.25,"knn_join":2,"failed_q":-1.0}}""").getBytes("UTF-8"))
    f
  }

  test("loadFloors reads the floors map, skipping _comment keys and " +
      "failed readings") {
    val floors = Bench.loadFloors(floorsFile("/root/testdata/sf0.1"),
      "/root/testdata/sf0.1")
    assert(floors == Map("q1_agg" -> 0.25, "knn_join" -> 2.0))
  }

  test("loadFloors is empty for a file seeded at another sf") {
    // per-SF absolute seconds: a floors file seeded at another sf must
    // disable both detectors, not corroborate or flag every query
    assert(Bench.loadFloors(floorsFile("/root/testdata/sf0.1"),
      "/root/testdata/sf0.001").isEmpty)
  }

  test("loadFloors of a missing file is empty, never a crash") {
    assert(Bench.loadFloors(java.nio.file.Paths.get("/nonexistent.json"),
      "/root/testdata/sf0.1").isEmpty)
  }
}
