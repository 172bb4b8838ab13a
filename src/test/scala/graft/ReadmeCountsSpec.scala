package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** README's layout line for `SparkEntry` quotes the registry's query and
  * oracle counts; they are pinned here against the registry itself, so a
  * query added or dropped without the README edit fails a test instead of
  * drifting (VERDICT r4 #7 called out exactly this drift).
  */
class ReadmeCountsSpec extends AnyFunSuite {

  test("README's SparkEntry line matches the query and oracle registries") {
    // runs with cwd = repo root, where README.md lives
    val readme = Files.readString(Paths.get("README.md"))
    val line = """SparkEntry\s+driver contract: (\d+) queries \+ DuckDB oracle SQL \((\d+)\)""".r
    val m = line.findFirstMatchIn(readme)
      .getOrElse(fail("README has no `SparkEntry … driver contract` line"))
    assert(m.group(1).toInt == SparkEntry.queries.size, "query count")
    assert(m.group(2).toInt == SparkEntry.oracleSql.size, "oracle count")
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty,
      s"oracles naming no registered query: ${orphans.mkString(", ")}")
  }
}
