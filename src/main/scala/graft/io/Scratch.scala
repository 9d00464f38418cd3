package graft.io

import java.nio.file.{Files, Path}

/** The one scratch root for queries that write their own data: sink
  * round-trips, staged stream sources, checkpoints, versioned state.
  *
  * One root per JVM, so two concurrent runs on one host never write
  * into each other's output mid-read. Within a JVM a path is reused
  * across repeated executions (writers overwrite), which is what
  * Bench's repeated timing wants. Spark's own shutdown hook deletes the
  * root, with everything in it, when the JVM exits. */
object Scratch {

  private lazy val root: Path =
    org.apache.spark.sql.GraftPlanBridge.tempDirDeletedAtExit("graft_scratch")

  /** `tag`'s directory for data dir `d`, keyed by both: an sf0.001 spec
    * run and an sf0.01 gate run in one JVM never share a checkpoint, a
    * staged source or an output */
  def dir(tag: String, d: String): Path =
    root.resolve(tag + "-" + d.replaceAll("[^A-Za-z0-9.]", "_"))

  /** delete `p` and everything under it; a missing path is a no-op */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally all.close()
    }
}
