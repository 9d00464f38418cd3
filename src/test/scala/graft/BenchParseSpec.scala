package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench regression tracker's JSON parsing — the r7 failure
  * mode was a subset baseline silently blinding the gate, so the parser
  * and the coverage arithmetic it feeds must stay exact. */
class BenchParseSpec extends AnyFunSuite {

  test("parseQueryTimes reads a full bench line and ignores other maps") {
    val line = """{"metric":"total","value":1.5,"unit":"sec","queries":{"q01_agg":0.130,"st09_multibatch_replay":3.060},"errors":{},"n_queries":2,"per_query_mean":0.75,"sf":0.1,"setup_sec":{"st09_multibatch_replay":0.215}}"""
    val times = Bench.parseQueryTimes(line)
    assert(times == Map("q01_agg" -> 0.130, "st09_multibatch_replay" -> 3.060),
      s"got $times")
  }

  test("parseQueryTimes on a subset baseline yields the subset, not zero") {
    // the r7 artifact: a 2-query SPARK_GRAFT_ONLY dev dump committed as
    // the baseline — the parser must surface exactly those 2 so the
    // coverage guard (covered < 90% of the run) can fire
    val line = """{"metric":"total","value":2.0,"unit":"sec","queries":{"e14_interval_overlap":1.1,"q61_try_arithmetic":0.9},"errors":{},"n_queries":2,"per_query_mean":1.0,"sf":0.1}"""
    assert(Bench.parseQueryTimes(line).size == 2)
  }

  test("parseQueryTimes is empty on malformed or query-free input") {
    assert(Bench.parseQueryTimes("""{"metric":"total","value":0}""").isEmpty)
    assert(Bench.parseQueryTimes("not json at all").isEmpty)
  }

  test("fixtureFingerprint flips on regeneration, is stable otherwise") {
    val dir = SparkSpec.tempDir("fixtures")
    java.nio.file.Files.writeString(dir.resolve("a.parquet"), "aaaa")
    java.nio.file.Files.writeString(dir.resolve("b.parquet"), "bb")
    val fp1 = Bench.fixtureFingerprint(dir.toString)
    val fp2 = Bench.fixtureFingerprint(dir.toString)
    assert(fp1 == fp2 && fp1.length == 12, s"$fp1 / $fp2")
    // a driver regeneration rewrites files with fresh mtimes even when
    // the seeded content is identical — the fingerprint MUST flip, so
    // cross-generation wall diffs get refused (round-9 false alarms)
    java.nio.file.Files.setLastModifiedTime(dir.resolve("a.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(dir.resolve("a.parquet"))
          .toMillis + 73000))
    val fp3 = Bench.fixtureFingerprint(dir.toString)
    assert(fp3 != fp1, "fingerprint did not flip on mtime change")
    assert(Bench.fixtureFingerprint("/no/such/dir") == "nofixtures")
  }

  test("committed bench_baseline.json parses and covers the registry") {
    val p = java.nio.file.Paths.get("bench_baseline.json")
    assume(java.nio.file.Files.exists(p))
    val times = Bench.parseQueryTimes(java.nio.file.Files.readString(p))
    val registry = graft.queries.Registry.all.map(_.name).toSet
    val covered = times.keySet.intersect(registry).size
    // the coverage guard fires below 90%; the committed file must never
    // regress to a dev-run subset again
    assert(covered >= registry.size * 9 / 10,
      s"baseline covers $covered of ${registry.size} registry queries")
  }
}
