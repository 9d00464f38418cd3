package graft.streaming

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lifecycle helpers for versioned-directory state tables (the st14
  * incremental-MV pattern: each micro-batch reads v_{n-1}, writes v_n).
  *
  * The retention contract mirrors what an open table format's VACUUM
  * gives you: only versions at least `keep` BEHIND the one just
  * written are deleted, so a concurrent reader that resolved
  * [[latestVersion]] keeps a complete, immutable snapshot for the next
  * `keep - 1` batches — long enough for any same-cadence batch reader;
  * a reader slower than that needs a bigger `keep`, exactly the
  * time-travel-retention dial a real lakehouse exposes. Without any
  * retention the MV grows one full table copy per micro-batch forever
  * (the round-9 finding this closes).
  *
  * Driver-side filesystem metadata work only — O(#versions) directory
  * listings, never data rows.
  */
object VersionedState {

  private def versionsIn(stateDir: Path): Seq[(Long, Path)] =
    if (!Files.exists(stateDir)) Seq.empty
    else Files.list(stateDir).iterator().asScala
      .filter(p => p.getFileName.toString.matches("v\\d+"))
      .map(p => (p.getFileName.toString.drop(1).toLong, p))
      .toSeq

  /** Highest version present — what a mid-stream batch reader queries.
    * A version directory written by Spark's parquet committer is
    * complete once it is the listing's max (the _temporary staging dir
    * never matches v\d+, and `overwrite` renames in place). */
  def latestVersion(stateDir: Path): Option[Long] =
    versionsIn(stateDir).map(_._1).maxOption

  /** AS-OF-version (time-travel) read: the snapshot exactly as version
    * `version` wrote it — the query surface an open table format's
    * `VERSION AS OF n` exposes, over the same versioned directories the
    * incremental-MV writer maintains. Immutability is the writer's
    * contract (each merge reads v_{n-1} and writes a NEW v_n), so the
    * returned frame is a stable snapshot however far the writer has
    * advanced since. Fails LOUD when the version has been vacuumed past
    * (or never existed), naming the retention dial — a silent
    * latest-version fallback would be a wrong-answer generator. */
  def readVersion(spark: SparkSession, stateDir: Path,
                  version: Long): DataFrame = {
    val have = versionsIn(stateDir).map(_._1).sorted
    require(have.contains(version),
      s"version $version is not on disk (available: " +
        s"${have.mkString("[", ", ", "]")}); it either never existed " +
        "or was vacuumed — raise `keep` to retain a longer time-travel " +
        "window")
    spark.read.parquet(stateDir.resolve(s"v$version").toString)
  }

  /** name of the per-version commit manifest [[stampCommit]] writes —
    * starts with `_` so Spark's parquet reader ignores it as metadata */
  private val CommitFile = "_graft_commit_ts"

  /** Stamp version `version` with its commit timestamp (micros) — the
    * manifest entry `AS OF TIMESTAMP` resolution reads. A real table
    * format records wall-clock commit time in its log; this writer's
    * callers stamp a DETERMINISTIC timestamp instead (w18/w20 use the
    * event-time boundary the version covers up to), which keeps the
    * DuckDB oracle able to replay resolution exactly. A tiny driver-side
    * file write, same metadata-only contract as the rest of this API. */
  def stampCommit(stateDir: Path, version: Long,
                  commitTsMicros: Long): Unit = {
    val vDir = stateDir.resolve(s"v$version")
    require(Files.isDirectory(vDir),
      s"cannot stamp v$version: directory does not exist (stamp AFTER " +
        "the snapshot write)")
    Files.writeString(vDir.resolve(CommitFile), commitTsMicros.toString)
  }

  /** (version, commitTsMicros) for every retained version that carries a
    * commit stamp, version-ascending */
  def commitTimestamps(stateDir: Path): Seq[(Long, Long)] =
    versionsIn(stateDir).sortBy(_._1).flatMap { case (v, p) =>
      val f = p.resolve(CommitFile)
      if (Files.exists(f)) Some((v, Files.readString(f).trim.toLong))
      else None
    }

  /** AS-OF-TIMESTAMP (time-travel) read: the latest version whose commit
    * stamp is <= `tsMicros` — the resolution rule a lakehouse applies to
    * `TIMESTAMP AS OF t` (the snapshot committed at-or-before t). Fails
    * LOUD when the timestamp predates the oldest RETAINED stamp (the
    * matching snapshot was vacuumed — serving the oldest survivor would
    * silently show state newer than asked for) and when no retained
    * version carries a stamp at all. */
  def readTimestamp(spark: SparkSession, stateDir: Path,
                    tsMicros: Long): DataFrame = {
    val stamps = commitTimestamps(stateDir)
    require(stamps.nonEmpty,
      s"no commit-stamped versions under $stateDir — the writer must " +
        "stampCommit each snapshot for timestamp-based time travel")
    val hit = stamps.filter(_._2 <= tsMicros).map(_._1).maxOption
    hit match {
      case Some(v) => readVersion(spark, stateDir, v)
      case None =>
        val (ov, ots) = stamps.head
        throw new IllegalArgumentException(
          s"timestamp $tsMicros predates the oldest retained snapshot " +
            s"(v$ov, committed $ots); the matching version was vacuumed " +
            "or never existed — raise `keep` to retain a longer " +
            "time-travel window")
    }
  }

  /** One MERGE step of a keyed incremental rollup (st14's micro-batch
    * loop, w18's version writer): version `version` is `inc` (one row
    * per key) merged into version `version - 1` when that exists —
    * union, then re-aggregate by `key`, summing every other column and
    * casting it back to its type (DECIMAL(38,2) sums stay exact, so
    * merge order never shows) — written as zstd parquet. Then
    * retention: [[vacuum]] with keep = 3 drops versions >= 3 behind;
    * without it the MV keeps one full table copy per step forever, and
    * keep = 3 leaves a reader that resolved the latest version two
    * further steps to finish its scan. Each merge's input stays
    * immutable (v_{n-1} read, v_n written), and the table itself never
    * passes through the driver. */
  def merge(stateDir: Path, version: Long, inc: DataFrame,
            key: String): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val prev = stateDir.resolve(s"v${version - 1}")
    val merged =
      if (Files.exists(prev)) {
        val sums = inc.schema.fields.filter(_.name != key)
          .map(f => sum(col(f.name)).cast(f.dataType).as(f.name))
        inc.sparkSession.read.parquet(prev.toString).unionByName(inc)
          .groupBy(col(key)).agg(sums.head, sums.tail.toSeq: _*)
      } else inc
    merged.write.mode("overwrite").option("compression", "zstd")
      .parquet(stateDir.resolve(s"v$version").toString)
    vacuum(stateDir, version, keep = 3)
  }

  /** Delete every version <= current - keep; returns the ids removed.
    * Keeps the `keep` most recent versions ending at `current`, so the
    * version a reader resolved up to keep-1 batches ago is still on
    * disk in full. */
  def vacuum(stateDir: Path, current: Long, keep: Int): Seq[Long] = {
    require(keep >= 2,
      s"keep must be >= 2 (v_{n-1} is the next merge's input), got $keep")
    val doomed = versionsIn(stateDir).filter(_._1 <= current - keep)
    doomed.foreach { case (_, p) => graft.io.Scratch.delete(p) }
    doomed.map(_._1).sorted
  }
}
