package graft

import java.nio.file.Files
import graft.streaming.VersionedState

/** Retention contract for the versioned-MV state dirs (st14): vacuum
  * keeps the last `keep` versions so a mid-stream reader that resolved
  * latestVersion still finds a complete snapshot, and the MV stops
  * growing one table copy per micro-batch. */
class VersionedStateSpec extends SparkSpec {
  import spark.implicits._

  private def mkState(versions: Range): java.nio.file.Path = {
    val dir = SparkSpec.tempDir("vstate")
    versions.foreach { v =>
      Seq((1L, v.toLong)).toDF("user_id", "n")
        .write.mode("overwrite").parquet(dir.resolve(s"v$v").toString)
    }
    dir
  }

  test("vacuum keeps the last `keep` versions and deletes the rest") {
    val dir = mkState(0 to 5)
    val removed = VersionedState.vacuum(dir, current = 5, keep = 3)
    assert(removed == Seq(0L, 1L, 2L), removed)
    val left = Files.list(dir).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]()
    left.forEachRemaining(p => names += p.getFileName.toString)
    assert(names.sorted == Seq("v3", "v4", "v5"), names)
  }

  test("a reader's resolved version survives the next batch's vacuum") {
    val dir = mkState(0 to 4)
    // reader resolves the latest version at batch 4...
    val resolved = VersionedState.latestVersion(dir).get
    assert(resolved == 4L)
    // ...batch 5 writes v5 and vacuums with keep=3: v4 (the resolved
    // snapshot) must remain complete and queryable
    Seq((2L, 5L)).toDF("user_id", "n")
      .write.mode("overwrite").parquet(dir.resolve("v5").toString)
    VersionedState.vacuum(dir, current = 5, keep = 3)
    val rows = spark.read.parquet(dir.resolve(s"v$resolved").toString).count()
    assert(rows == 1L)
  }

  test("latestVersion ignores non-version entries and empty dirs") {
    val dir = SparkSpec.tempDir("vstate")
    assert(VersionedState.latestVersion(dir).isEmpty)
    Files.createDirectories(dir.resolve("_temporary"))
    Files.createDirectories(dir.resolve("v7"))
    Files.createDirectories(dir.resolve("v12"))
    assert(VersionedState.latestVersion(dir).contains(12L))
  }

  test("readVersion serves a live snapshot and fails LOUD on a vacuumed " +
      "or never-written version") {
    val dir = mkState(0 to 5)
    VersionedState.vacuum(dir, current = 5, keep = 3)
    // live version reads back exactly what its writer wrote
    val got = VersionedState.readVersion(spark, dir, 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 4L)), got)
    // vacuumed (v0) and never-written (v9) both throw with the
    // available versions and the retention dial named — a silent
    // latest-version fallback would be a wrong-answer generator
    for (bad <- Seq(0L, 9L)) {
      val e = intercept[IllegalArgumentException](
        VersionedState.readVersion(spark, dir, bad))
      assert(e.getMessage.contains("keep") &&
        e.getMessage.contains("[3, 4, 5]"), e.getMessage)
    }
  }

  test("vacuum refuses keep < 2 (v_{n-1} feeds the next merge)") {
    val dir = mkState(0 to 1)
    intercept[IllegalArgumentException] {
      VersionedState.vacuum(dir, current = 1, keep = 1)
    }
  }

  // ---- round-16: AS-OF-TIMESTAMP resolution ---------------------------

  test("readTimestamp resolves to the latest stamp at-or-before t") {
    val dir = mkState(0 to 3)
    // stamps 100, 200, 300, 400
    (0 to 3).foreach(v =>
      VersionedState.stampCommit(dir, v.toLong, (v + 1) * 100L))
    assert(VersionedState.commitTimestamps(dir) ==
      Seq((0L, 100L), (1L, 200L), (2L, 300L), (3L, 400L)))
    // strictly between stamps -> the earlier one; exact hit -> that one
    def readN(ts: Long): Long =
      VersionedState.readTimestamp(spark, dir, ts)
        .select("n").head().getLong(0)
    assert(readN(250L) == 1L)
    assert(readN(300L) == 2L)
    assert(readN(999L) == 3L)
  }

  test("readTimestamp fails LOUD before the oldest retained stamp and " +
      "on unstamped state") {
    val dir = mkState(0 to 3)
    (0 to 3).foreach(v =>
      VersionedState.stampCommit(dir, v.toLong, (v + 1) * 100L))
    // vacuum v0/v1: t=150 matched v0, which is gone — resolution must
    // refuse, not silently serve v2 (state newer than asked for)
    VersionedState.vacuum(dir, current = 3, keep = 2)
    val e = intercept[IllegalArgumentException](
      VersionedState.readTimestamp(spark, dir, 150L))
    assert(e.getMessage.contains("vacuumed") &&
      e.getMessage.contains("keep"), e.getMessage)
    assert(VersionedState.readTimestamp(spark, dir, 350L)
      .select("n").head().getLong(0) == 2L)
    val bare = mkState(0 to 1)
    val e2 = intercept[IllegalArgumentException](
      VersionedState.readTimestamp(spark, bare, 100L))
    assert(e2.getMessage.contains("stampCommit"), e2.getMessage)
  }

  test("stampCommit refuses a version directory that does not exist") {
    val dir = mkState(0 to 1)
    intercept[IllegalArgumentException] {
      VersionedState.stampCommit(dir, 9L, 100L)
    }
  }
}
