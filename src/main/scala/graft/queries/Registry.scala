package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: a Spark DataFrame program plus, where the
  * semantics are ANSI-SQL-expressible, an equivalent DuckDB oracle query
  * (driver correctness gate — see /root/repo/src/main/scala/graft/Verify.scala).
  *
  * Oracle discipline (SURVEY.md §7.5): aggregates of doubles go through
  * exact DECIMAL arithmetic on BOTH sides so the final double cast is
  * bit-identical regardless of summation order; no timezone-dependent or
  * double→string rendering in compared columns; every computed column is
  * aliased identically in Spark and SQL.
  */
final case class Q(
  name: String,
  run: (SparkSession, String) => DataFrame,
  oracle: Option[String] = None,
  /** One-time input staging (e.g. st09's 8-file source split, io04's
    * bucketed table writes) that `run` depends on but that is a
    * pipeline-setup cost, not the query's steady-state cost. The driver
    * contract stays self-contained — [[Registry.queries]] composes
    * setup before run — while Bench runs setup UNTIMED once per query
    * so the reported number is the repeated-execution cost (the
    * round-7 verdict: st09/io04 were billing their source writes to
    * every timed rep). Must be idempotent (mode=overwrite). */
  setup: Option[(SparkSession, String) => Unit] = None) {

  /** setup, then run: the self-contained form [[Registry.queries]] exposes */
  def setupAndRun(s: SparkSession, d: String): DataFrame = {
    setup.foreach(_(s, d)); run(s, d)
  }
}

object Registry {
  def all: Seq[Q] =
    Relational.qs ++ Relational2.qs ++ TripParity.qs ++ TextOps.qs ++
      Dedup.qs ++ Similarity.qs ++ Events.qs ++ Multimodal.qs ++
      StreamingQueries.qs ++ TpcH.qs ++ Sketches.qs ++ IoQueries.qs ++
      Clustering.qs ++ Warehouse.qs ++ Graph.qs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> (q.setupAndRun _)).toMap

  /** the registered query `name`; fails naming it when there is none */
  def byName(name: String): Q =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown query: $name"))

  /** The queries a harness runs, in name order: every registered one, or
    * the `SPARK_GRAFT_ONLY=name,name` dev-loop subset. A misspelled name
    * fails here, before anything runs — otherwise it would filter its
    * query out and a zero-query run could read as a pass. */
  def selected(): Seq[Q] = {
    val qs = all.sortBy(_.name)
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => qs
      case Some(names) =>
        val unknown = names -- qs.map(_.name)
        require(unknown.isEmpty, "SPARK_GRAFT_ONLY names not in the " +
          "registry: " + unknown.toSeq.sorted.mkString(", "))
        qs.filter(q => names(q.name))
    }
  }

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
