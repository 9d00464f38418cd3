package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.JoinOps

/** `JoinOps.asOfJoin` with a STREAMING left and a static right (st25's
  * stream-static enrichment shape): the custom node must plan inside
  * each micro-batch — the strategy picks BroadcastAsOfJoinExec for the
  * dim-sized history — and the streamed output must equal the batch
  * join over the same files. */
class AsOfStreamingSpec extends SparkSpec {

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("streaming left x static right plans the broadcast exec per " +
      "micro-batch and equals the batch result") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val facts = (1 to 600).map { i =>
      (i.toLong, if (i % 47 == 0) None else Some(rnd.nextInt(20).toLong),
        rnd.nextInt(50000).toLong)
    }.toDF("id", "k", "t")
    val history = (1 to 300).map { i =>
      (rnd.nextInt(20).toLong, i.toLong * 157 + 3, rnd.nextDouble())
    }.toDF("k", "rt", "v")
    // three files, one per trigger: the stream runs several batches
    val src = SparkSpec.tempDir("asof_stream").resolve("facts")
      .toString
    facts.repartition(3).write.parquet(src)

    val stream = spark.readStream.schema(facts.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    def join(left: DataFrame) = JoinOps.asOfJoin(left, history,
      "k", "k", "t", "rt", rightVals = Seq("rt", "v"), leftOuter = true)
    val q = join(stream).writeStream.format("memory")
      .queryName("asof_stream_static").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      assert(exec.recentProgress.count(_.numInputRows > 0) == 3,
        exec.recentProgress.map(_.numInputRows).mkString(","))
      val plan = exec.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastAsOfJoin"), plan)
      assert(!"Exchange hashpartitioning".r.findAllIn(plan).hasNext,
        s"the stream must reach the join with no shuffle:\n$plan")
      val streamed = canon(spark.table("asof_stream_static"))
      assert(streamed.size == facts.count())
      assert(streamed == canon(join(facts)))
    } finally if (q.isActive) q.stop()
  }
}
