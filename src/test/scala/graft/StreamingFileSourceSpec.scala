package graft

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.streaming.EventStreams

/** The production streaming shape: readStream from a directory of parquet
  * files → the shared transform → writeStream to a parquet sink with a
  * checkpoint. Asserts stream-batch equivalence: the incremental result
  * equals running the same transform in batch over the same files. */
class StreamingFileSourceSpec extends SparkSpec {

  test("file-source stream of events matches the batch windowed counts") {
    val src = SparkSpec.tempDir("graft_stream_src").toString
    val out = SparkSpec.tempDir("graft_stream_out").toString + "/sink"
    val ckpt = SparkSpec.tempDir("graft_stream_ck").toString

    val events = Tables.events(spark, sfTiny)
    events.write.parquet(s"$src/batch0")

    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*")
    val q = EventStreams.windowedCounts(stream, watermarkDelay = "1 hour")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // append mode only emits windows the watermark has passed; compare on
    // that subset against the batch run
    val streamed = spark.read.parquet(out)
    val batch = EventStreams.windowedCounts(events, watermarkDelay = "1 hour")
    assert(streamed.count() > 0)
    val streamedSet = streamed.collect().map(_.toSeq).toSet
    val batchSet = batch.collect().map(_.toSeq).toSet
    assert(streamedSet.subsetOf(batchSet),
      s"stream emitted rows absent from batch: ${streamedSet.diff(batchSet).take(3)}")
  }

  test("foreachBatch publishes each micro-batch through the zstd sink") {
    val src = SparkSpec.tempDir("graft_fb_src").toString
    val out = SparkSpec.tempDir("graft_fb_out").toString
    val ckpt = SparkSpec.tempDir("graft_fb_ck").toString

    val events = Tables.events(spark, sfTiny)
    events.write.parquet(s"$src/batch0")

    val stream = spark.readStream.schema(events.schema).parquet(s"$src/*")
    // the library sink (Tables.writeZstd) reused per micro-batch — the
    // incremental-publish pattern: each batch lands as its own zstd
    // parquet directory, downstream reads the union
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Tables.writeZstd(batch, s"$out/batch_$id")
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val published = spark.read.parquet(s"$out/*")
    assert(published.count() == events.count())
  }

  test("restart from checkpoint ingests only new files, exactly once") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    import org.apache.spark.sql.streaming.Trigger
    val src = SparkSpec.tempDir("graft_ck_src").toString
    val out = SparkSpec.tempDir("graft_ck_out").toString + "/sink"
    val ckpt = SparkSpec.tempDir("graft_ck_ck").toString

    val events = Tables.events(spark, sfTiny)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(events.schema).parquet(s"$src/*")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }

    // first run sees only the even half; the restart must pick up the odd
    // half from the SAME checkpoint without re-ingesting the first file
    events.filter(col("event_id") % 2 === 0).write.parquet(s"$src/part0")
    runOnce()
    events.filter(col("event_id") % 2 === 1).write.parquet(s"$src/part1")
    runOnce()

    val sunk = spark.read.parquet(out)
    assert(sunk.count() == events.count(), "row count after resume")
    assert(sunk.agg(countDistinct(col("event_id"))).head.getLong(0)
      == events.count(), "duplicate rows after checkpoint resume")
  }

  // st13's contract from the inside: the replayed late file is dropped
  // by the watermark (no double counting) and the still-open tail hour
  // is held back — so the emitted event total is strictly below the raw
  // ingest total (which counts the replay twice) AND strictly below the
  // original event count (held-back tail), while every emitted row
  // matches the batch aggregate of the ORIGINAL events.
  test("st13 late-data audit drops replays and holds back the open tail") {
    val emitted = graft.queries.Registry.queries("st13_late_data_audit")(
      spark, sfTiny)
    val events = Tables.events(spark, sfTiny)
    val nEvents = events.count()
    val nEmitted = emitted.agg(sum(col("n"))).head.getLong(0)
    assert(emitted.count() > 0)
    assert(nEmitted < nEvents, s"open tail not held back: $nEmitted/$nEvents")
    val batch = EventStreams.windowedCounts(events, watermarkDelay = "1 hour")
      .collect().map(_.toSeq).toSet
    val got = emitted.collect().map(_.toSeq).toSet
    assert(got.subsetOf(batch),
      s"late replay leaked into a finalized window: ${got.diff(batch).take(3)}")
  }

  // the staged writer's contract: files arrive in the order they were
  // staged because their mtimes are pinned strictly increasing, and the
  // staged order is time order (st13: on-time, future, late replay)
  test("staged sources have strictly increasing mtimes in time order") {
    import graft.queries.{Registry, StreamingQueries}
    Seq("st09_multibatch_replay", "st13_late_data_audit", "st17_stream_asof")
      .foreach(Registry.byName(_).setup.get(spark, sfTiny))
    def byMtime(dir: java.nio.file.Path): Seq[java.io.File] = {
      val fs = dir.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.lastModified).toSeq
      assert(fs.map(_.lastModified).distinct.size == fs.size,
        s"two staged files share an mtime under $dir")
      fs
    }
    def tsRange(f: java.io.File): (java.sql.Timestamp, java.sql.Timestamp) = {
      val r = spark.read.parquet(f.getPath).agg(min("ts"), max("ts")).head
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    for (dir <- Seq(StreamingQueries.eventSlices(sfTiny),
                    StreamingQueries.asOfSlices(sfTiny))) {
      val fs = byMtime(dir)
      assert(fs.size == 8, s"$dir holds ${fs.size} files, not 8")
      val ranges = fs.map(tsRange).filter(_._1 != null)
      assert(ranges.size >= 2)
      ranges.sliding(2).foreach { case Seq(a, b) =>
        assert(a._2.before(b._1), s"$dir: slice $a delivered before $b")
      }
    }
    val Seq(onTime, future, late) =
      byMtime(graft.io.Scratch.dir("st13", sfTiny)).map(tsRange)
    // the gate's cuts, as instants (the session time zone is UTC)
    def utc(day: String) =
      java.sql.Timestamp.from(java.time.Instant.parse(day + "T00:00:00Z"))
    val cut = utc("2024-01-13")
    assert(onTime._2.before(cut) && !future._1.before(cut))
    assert(late._2.before(utc("2024-01-04")))
  }

  // re-staging rewrites the same files, and the as-of gates share one
  // staged copy: a second self-contained run must see the same input
  test("setupAndRun twice returns identical rows for st09, st12 and st17") {
    for (name <- Seq("st09_multibatch_replay", "st12_exactly_once_resume",
                     "st17_stream_asof")) {
      val q = graft.queries.Registry.byName(name)
      def rows() = q.setupAndRun(spark, sfTiny).collect().map(_.toString)
        .sorted.toSeq
      val first = rows()
      assert(first.nonEmpty, name)
      assert(rows() == first, s"$name: second run differs")
    }
  }
}
