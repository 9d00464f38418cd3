package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Event-stream analytics over `events` (ts, user_id, event_type, value,
  * props JSON) in batch form; the same transforms run incrementally in
  * graft.streaming.EventStreams.
  *
  * Scale notes: tumbling/sliding windows are plain keyed aggregations
  * (partial+final, no global sort); sessionization is windowed per
  * user_id — state is bounded by a user's events, the natural partition
  * key at any scale.
  */
object Events {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** 30-min-gap sessionization of `events` (the e03 logic): one row per
    * (user_id, session_seq) with its event count and [start, end] span.
    * Per-user keyed window — state bounded by a user's events at any
    * scale. Shared by e03 (the report) and e14 (the overlap join). */
  private def sessions(s: SparkSession, d: String): DataFrame =
    sessionsWhere(s, d, lit(true))

  /** sessions() over one half of the table (see e23) */
  private def sessionsWhere(s: SparkSession, d: String,
                            cond: org.apache.spark.sql.Column): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d).filter(cond)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800)
          .cast("int"))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .select(col("user_id"), col("session_seq").cast("long").as("session_seq"),
        col("n_events"), col("session_start"), col("session_end"))
  }

  val qs: Seq[Q] = Seq(

    // ---- tumbling 1-hour windows ----------------------------------------
    Q("e01_tumbling_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value")),
      Some("""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2""")),

    // ---- sliding windows (1 hour, sliding every 30 min) -----------------
    Q("e02_sliding_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("n")),
      Some("""
        SELECT time_bucket(INTERVAL '1 hour', ts - o) + o AS window_start,
          COUNT(*) AS n
        FROM events
        CROSS JOIN (VALUES (INTERVAL '0' MINUTE), (INTERVAL '30' MINUTE)) t(o)
        GROUP BY 1""")),

    // ---- sessionization: 30-min inactivity gap --------------------------
    Q("e03_sessionize",
      (s, d) => sessions(s, d),
      // unix_timestamp truncates to whole seconds; the oracle mirrors that
      // with epoch(date_trunc('second', ts)) so gap edges agree exactly.
      Some("""
        WITH g AS (
          SELECT user_id, ts,
            CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(date_trunc('second', ts))
                    - epoch(date_trunc('second', LAG(ts) OVER w)) > 1800
                 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        s AS (
          SELECT user_id, ts,
            SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM g)
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
          COUNT(*) AS n_events,
          MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM s GROUP BY user_id, session_seq""")),

    // ---- JSON prop extraction + banded agg ------------------------------
    Q("e04_json_props",
      // from_json with a declared schema, not get_json_object: one
      // Jackson parse per row into a codegen'd struct vs a per-path
      // parse — and the shape a declared-schema pipeline wants anyway
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"), sum(col("k")).as("sum_k")),
      Some("""
        SELECT event_type, COUNT(*) AS n,
          MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
          MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
          CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
            AS sum_k
        FROM events GROUP BY event_type""")),

    // ---- backward as-of join: each purchase matched to the user's most
    //      recent prior click (no time-range explosion; see
    //      JoinOps.asOfJoin) ---------------------------------------------
    Q("e05_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoin(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ---- binned range join: clicks within 10min before each error ------
    Q("e06_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.rangeJoinBinned(
          ev.filter(col("event_type") === "error")
            .select(col("event_id"), col("ts").as("e_ts")),
          ev.filter(col("event_type") === "click")
            .select(col("ts").as("c_ts"), col("value").as("c_value")),
          leftTime = "e_ts", rightTime = "c_ts", windowSec = 600L)
          .groupBy(col("event_id"), col("e_ts"))
          .agg(count(lit(1)).as("n_clicks"), max(col("c_ts")).as("last_click"))
      },
      Some("""
        SELECT e.event_id, e.ts AS e_ts, COUNT(*) AS n_clicks,
          MAX(c.ts) AS last_click
        FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
        JOIN (SELECT ts FROM events WHERE event_type = 'click') c
          ON c.ts >= e.ts - INTERVAL 600 SECOND AND c.ts <= e.ts
        GROUP BY e.event_id, e.ts""")),

    // ---- conversion funnel: view -> first click after -> first purchase
    //      after that click, per user; one row of stage counts. Three
    //      keyed aggregations, each joined user-to-user (no time-range
    //      explosion); the stage frames shrink monotonically so each join
    //      is cheaper than the last.
    Q("e07_funnel",
      (s, d) => {
        val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("v_ts"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("ts") >= col("v_ts"))
          .groupBy("user_id").agg(min("ts").as("c_ts"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts") >= col("c_ts"))
          .groupBy("user_id").agg(min("ts").as("p_ts"))
        v.agg(count(lit(1)).as("n_view"))
          .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
          .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
      },
      Some("""
        WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
              FROM events e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1),
        p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
              FROM events e JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1)
        SELECT (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_view_click,
               (SELECT COUNT(*) FROM p) AS n_view_click_purchase""")),

    // ---- weekly cohort retention matrix ---------------------------------
    //      cohort = the user's first active week; each (cohort, offset)
    //      cell counts users active offset weeks later. Two keyed
    //      aggregations (user-week distinct, then per-user min) and one
    //      broadcast-sized output — the standard product-analytics shape.
    Q("e08_retention",
      (s, d) => {
        val weeks = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
          .distinct()
        val cohorts = weeks.groupBy("user_id").agg(min("week").as("cohort_week"))
        weeks.join(cohorts, "user_id")
          .select(to_date(col("cohort_week")).as("cohort_week"),
            (datediff(col("week"), col("cohort_week")) / 7).cast("long")
              .as("week_offset"), col("user_id"))
          .groupBy("cohort_week", "week_offset")
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""
        WITH weeks AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
        cohorts AS (
          SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1)
        SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
          CAST(datediff('day', c.cohort_week, w.week) / 7 AS BIGINT)
            AS week_offset,
          COUNT(*) AS n_users
        FROM weeks w JOIN cohorts c USING (user_id)
        GROUP BY 1, 2""")),

    // ---- forward-fill imputation (LOCF): carry each user's last error
    //      value forward over subsequent events — last(ignoreNulls) over
    //      a keyed running frame, the standard gap-fill for sparse
    //      sensor/metric streams. One keyed shuffle, no self-join. ------
    Q("e09_fill_forward",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("err_value",
            when(col("event_type") === "error", col("value")))
          .withColumn("last_err_value",
            last(col("err_value"), ignoreNulls = true).over(w))
          .groupBy("user_id")
          .agg(count(col("last_err_value")).as("n_filled"),
            count(lit(1)).as("n_events"),
            max(col("last_err_value")).as("max_filled"))
      },
      Some("""
        WITH f AS (
          SELECT user_id,
            LAST_VALUE(CASE WHEN event_type = 'error' THEN value END
              IGNORE NULLS) OVER (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS last_err_value
          FROM events)
        SELECT user_id, COUNT(last_err_value) AS n_filled,
          COUNT(*) AS n_events, MAX(last_err_value) AS max_filled
        FROM f GROUP BY user_id""")),

    // ---- inter-arrival statistics per user ------------------------------
    //      lag over the keyed time order, whole-second gaps aggregated
    //      exactly (sum/count integer division at the end) — the
    //      activity-cadence profile feeding anomaly/session tuning
    Q("e10_interarrival",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .withColumn("gap_s",
            unix_timestamp(col("ts")) -
              unix_timestamp(lag(col("ts"), 1).over(w)))
          .filter(col("gap_s").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
            min(col("gap_s")).as("min_gap_s"),
            max(col("gap_s")).as("max_gap_s"),
            (sum(col("gap_s")).cast("double") / count(lit(1)))
              .as("mean_gap_s"))
      },
      Some("""
        WITH g AS (
          SELECT user_id,
            epoch(date_trunc('second', ts))
              - epoch(date_trunc('second', LAG(ts, 1) OVER (
                  PARTITION BY user_id ORDER BY ts ASC, event_id ASC)))
              AS gap_s
          FROM events)
        SELECT user_id, COUNT(*) AS n_gaps,
          CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
          CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
          CAST(SUM(gap_s) AS DOUBLE) / COUNT(*) AS mean_gap_s
        FROM g WHERE gap_s IS NOT NULL GROUP BY user_id""")),

    // ---- top event paths (3-step sequence mining) -----------------------
    //      the product-analytics "common journeys" report: per-user
    //      time-ordered event stream → sliding 3-grams via lag → top-20
    //      paths by frequency. Keyed window + one agg + TakeOrdered — the
    //      same shape at any user count.
    Q("e11_event_paths",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .withColumn("e1", lag(col("event_type"), 2).over(byUser))
          .withColumn("e2", lag(col("event_type"), 1).over(byUser))
          .filter(col("e1").isNotNull)
          .select(concat_ws(">", col("e1"), col("e2"), col("event_type"))
            .as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path").asc)
          .limit(20)
      },
      Some("""
        WITH p AS (
          SELECT LAG(event_type, 2) OVER w AS e1,
                 LAG(event_type, 1) OVER w AS e2, event_type AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
        FROM p WHERE e1 IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20""")),

    // ---- VARIANT semi-structured path (Spark 4 native JSON type) --------
    //      parse once into the binary VARIANT encoding, extract typed
    //      paths with variant_get — the schema-on-read route when props
    //      carry heterogeneous payloads a fixed from_json StructType
    //      (e04's approach) can't declare. Extraction is a typed path
    //      probe into the encoded value, not a per-row string re-parse.
    Q("e12_variant_props",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some("""
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
          CAST(MIN(CAST(props->>'$.k' AS INT)) AS INT) AS min_k,
          CAST(MAX(CAST(props->>'$.k' AS INT)) AS INT) AS max_k
        FROM events GROUP BY event_type""")),

    // ---- OHLC resample (candlestick downsample) -------------------------
    //      the time-series compaction every metrics store runs: per
    //      (series, day) the first/last/min/max values plus volume.
    //      Open/close are extracted through a lexicographic struct
    //      min/max over (ts, event_id, value) — event_id breaks ts ties,
    //      so the result is deterministic without any window (one hash
    //      aggregation, no sort, no single-partition funnel; the
    //      min_by/max_by shape with a total tiebreak order).
    Q("e13_ohlc_resample",
      (s, d) => {
        val key = struct(col("ts"), col("event_id"), col("value"))
        Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(
            min(key).getField("value").as("open_v"),
            max(key).getField("value").as("close_v"),
            min(col("value")).as("low_v"), max(col("value")).as("high_v"),
            count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("vol"))
      },
      Some("""
        SELECT event_type,
          -- DuckDB's date_trunc('day') yields DATE; Spark's yields
          -- TIMESTAMP — cast so both engines emit the same type
          CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
          (MIN(struct_pack(ts := ts, eid := event_id, v := value))).v
            AS open_v,
          (MAX(struct_pack(ts := ts, eid := event_id, v := value))).v
            AS close_v,
          MIN(value) AS low_v, MAX(value) AS high_v, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vol
        FROM events GROUP BY 1, 2""")),

    // ---- interval-overlap self-join: concurrent sessions ----------------
    //      for each session, how many OTHER users' sessions overlap it in
    //      time — the both-sides-are-intervals generalization of e06's
    //      point-in-range join. JoinOps.intervalOverlapJoin buckets both
    //      interval sets onto 1-hour bins (sessions are 30-min-gap bounded,
    //      so a session spans ~1-2 bins) and equi-joins on the bin: one
    //      hash shuffle, work linear in per-bin concurrency — never an
    //      inequality nested loop. The oracle replays the semantics as a
    //      plain inequality self-join (fine at sf0.01; the binning IS the
    //      scale path).
    Q("e14_interval_overlap",
      (s, d) => {
        val base = sessions(s, d)
        def side(p: String) = base.select(
          col("user_id").as(s"${p}_user"), col("session_seq").as(s"${p}_seq"),
          col("session_start").as(s"${p}_start"), col("session_end").as(s"${p}_end"))
        graft.operators.JoinOps.intervalOverlapJoin(
            side("a"), side("b"),
            "a_start", "a_end", "b_start", "b_end", binSec = 3600L)
          .filter(col("a_user") =!= col("b_user"))
          .groupBy(col("a_user").as("user_id"), col("a_seq").as("session_seq"))
          .agg(count(lit(1)).as("n_concurrent"))
      },
      Some("""
        WITH g AS (
          SELECT user_id, ts,
            CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(date_trunc('second', ts))
                    - epoch(date_trunc('second', LAG(ts) OVER w)) > 1800
                 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        s AS (
          SELECT user_id, ts,
            SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM g),
        sess AS (
          SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
            MIN(ts) AS session_start, MAX(ts) AS session_end
          FROM s GROUP BY user_id, session_seq)
        SELECT a.user_id, a.session_seq, COUNT(*) AS n_concurrent
        FROM sess a JOIN sess b
          ON a.session_start <= b.session_end
         AND b.session_start <= a.session_end
         AND a.user_id <> b.user_id
        GROUP BY a.user_id, a.session_seq""")),

    // ---- gaps-and-islands: consecutive-day activity streaks -------------
    //      the classic sessionize-by-calendar shape: distinct active
    //      days per user, islands identified by day - row_number (a
    //      constant within each consecutive run), then per-user streak
    //      stats. Both windows and aggregations are keyed by user_id —
    //      one shuffle, no global ordering anywhere.
    Q("e15_activity_streaks",
      (s, d) => {
        val days = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        val streaks = days
          .withColumn("grp", date_sub(col("day"), row_number().over(w)))
          .groupBy(col("user_id"), col("grp"))
          .agg(count(lit(1)).as("len"))
        streaks.groupBy("user_id")
          .agg(count(lit(1)).as("n_streaks"),
            sum(col("len")).as("n_active_days"),
            max(col("len")).as("max_streak"))
      },
      Some("""
        WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        isl AS (
          SELECT user_id, day - CAST(ROW_NUMBER() OVER (
              PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
          FROM days),
        st AS (
          SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_streaks,
          CAST(SUM(len) AS BIGINT) AS n_active_days,
          MAX(len) AS max_streak
        FROM st GROUP BY user_id""")),

    // ---- last-touch conversion attribution ------------------------------
    //      credit every purchase to the user's most recent click/view in
    //      the preceding 24 h (ties broken by event_id — a total order,
    //      so the credited touch is deterministic), 'none' if the window
    //      is empty. ONE keyed range-frame window over the user timeline
    //      — max of a conditional (ts, event_id, type) struct — so the
    //      corpus shuffles once on user_id and no purchase×touch join
    //      ever materializes; the oracle builds exactly that join and
    //      rank-1-filters it, an independent derivation that is only
    //      viable at oracle scale. Timestamps are floored to seconds on
    //      BOTH engines before any comparison.
    Q("e16_attribution",
      (s, d) => {
        val isTouch = col("event_type").isin("click", "view")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_timestamp(col("ts")))
          .rangeBetween(-86400L, -1L)
        Tables.events(s, d)
          .withColumn("touch", when(isTouch,
            struct(unix_timestamp(col("ts")).as("tse"),
              col("event_id").as("eid"), col("event_type").as("etype"))))
          .withColumn("last_touch", max(col("touch")).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("last_touch.etype"), lit("none"))
            .as("attributed_type"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(dec(col("value"))).cast("double").as("revenue"))
      },
      Some("""
        WITH p AS (
          SELECT event_id, user_id, epoch(date_trunc('second', ts)) AS tse,
            value
          FROM events WHERE event_type = 'purchase'),
        t AS (
          SELECT user_id, epoch(date_trunc('second', ts)) AS tse, event_id,
            event_type
          FROM events WHERE event_type IN ('click', 'view')),
        j AS (
          SELECT p.event_id AS pid, t.event_type AS touch_type,
            ROW_NUMBER() OVER (PARTITION BY p.event_id
              ORDER BY t.tse DESC, t.event_id DESC) AS rn
          FROM p JOIN t ON p.user_id = t.user_id
            AND t.tse BETWEEN p.tse - 86400 AND p.tse - 1),
        a AS (SELECT pid, touch_type FROM j WHERE rn = 1)
        SELECT COALESCE(a.touch_type, 'none') AS attributed_type,
          CAST(COUNT(*) AS BIGINT) AS n_purchases,
          CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM p LEFT JOIN a ON p.event_id = a.pid
        GROUP BY 1""")),

    // ---- event-type transition matrix (first-order Markov) --------------
    //      P(next | prev) over each user's timeline: one keyed lag
    //      window (ordered by raw ts + event_id — a total order, no
    //      arithmetic on time), a pair count, and a broadcast join
    //      against the 5-row per-prev totals. Probabilities are emitted
    //      as exact integer parts-per-1e9 (n * 1e9 div total) — no
    //      doubles anywhere, so the gate is bit-exact by construction.
    Q("e17_markov_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val pairs = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
        val totals = pairs.groupBy("prev_type")
          .agg(sum(col("n")).as("total"))
        pairs.join(broadcast(totals), "prev_type")
          .select(col("prev_type"), col("next_type"), col("n"),
            expr("CAST(n * CAST(1000000000 AS BIGINT) div total AS BIGINT)")
              .as("p_e9"))
      },
      Some("""
        WITH seq AS (
          SELECT user_id, event_type,
            LAG(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev_type
          FROM events),
        c AS (
          SELECT prev_type, event_type AS next_type, COUNT(*) AS n
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT prev_type, SUM(n) AS total FROM c GROUP BY 1)
        SELECT c.prev_type, c.next_type, CAST(c.n AS BIGINT) AS n,
          CAST(c.n * 1000000000 // t.total AS BIGINT) AS p_e9
        FROM c JOIN t USING (prev_type)""")),

    // ---- RFM segmentation (recency / frequency / monetary) --------------
    //      the classic customer-value cube, engineered for determinism:
    //      recency anchored to the corpus's own max purchase DATE (a
    //      broadcast scalar — reruns don't shift segments the way a
    //      wall-clock anchor would), monetary in exact decimal cents,
    //      and FIXED integer band edges rather than global ntile
    //      quantiles — banding is a row-local CASE, so no all-users
    //      single-partition window exists anywhere in the plan.
    Q("e18_rfm_segments",
      (s, d) => {
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
        val anchor = p.agg(max(to_date(col("ts"))).as("anchor"))
        val u = p.groupBy("user_id").agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("m_dec"),
          max(to_date(col("ts"))).as("last_d"))
        u.crossJoin(broadcast(anchor))
          .select(
            datediff(col("anchor"), col("last_d")).as("r_days"),
            col("n"),
            (col("m_dec") * 100).cast("long").as("m_cents"))
          .select(
            when(col("r_days") <= 1, "active")
              .when(col("r_days") <= 4, "warm")
              .otherwise("lapsed").as("r_band"),
            when(col("n") >= 16, "high")
              .when(col("n") >= 10, "mid")
              .otherwise("low").as("f_band"),
            when(col("m_cents") >= 80000L, "big")
              .when(col("m_cents") >= 40000L, "mid")
              .otherwise("small").as("m_band"))
          .groupBy(col("r_band"), col("f_band"), col("m_band"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""
        WITH p AS (
          SELECT user_id, CAST(ts AS DATE) AS d, value FROM events
          WHERE event_type = 'purchase'),
        u AS (
          SELECT user_id, COUNT(*) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
              AS m_cents,
            date_diff('day', MAX(d), (SELECT MAX(d) FROM p)) AS r_days
          FROM p GROUP BY 1)
        SELECT
          CASE WHEN r_days <= 1 THEN 'active'
               WHEN r_days <= 4 THEN 'warm'
               ELSE 'lapsed' END AS r_band,
          CASE WHEN n >= 16 THEN 'high'
               WHEN n >= 10 THEN 'mid'
               ELSE 'low' END AS f_band,
          CASE WHEN m_cents >= 80000 THEN 'big'
               WHEN m_cents >= 40000 THEN 'mid'
               ELSE 'small' END AS m_band,
          COUNT(*) AS n_users
        FROM u GROUP BY 1, 2, 3""")),

    // ---- time-to-convert by signup cohort -------------------------------
    //      signup -> first subsequent purchase latency, rolled up by the
    //      signup's ISO week: the activation metric behind e08's
    //      retention grid. All time arithmetic in floored epoch SECONDS
    //      (longs — unix_timestamp here, epoch(date_trunc('second'))
    //      in the oracle), the mean as one exact long-sum divided once
    //      in double; DuckDB's date_trunc('week') yields DATE where
    //      Spark yields TIMESTAMP, so the oracle casts (the e13 lesson).
    Q("e19_time_to_convert",
      (s, d) => {
        val ev = Tables.events(s, d)
        val su = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("su_raw"),
            min(unix_timestamp(col("ts"))).as("su_ts"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_timestamp(col("ts")).as("p_ts"))
        su.join(pu, Seq("user_id"))
          .filter(col("p_ts") >= col("su_ts"))
          .groupBy(col("user_id"), col("su_raw"), col("su_ts"))
          .agg(min(col("p_ts")).as("fp_ts"))
          .select(date_trunc("week", col("su_raw")).as("cohort_week"),
            (col("fp_ts") - col("su_ts")).as("delta"))
          .groupBy(col("cohort_week"))
          .agg(count(lit(1)).as("n_users"),
            (sum(col("delta")).cast("double") / count(lit(1)))
              .as("mean_secs"),
            min(col("delta")).as("min_secs"),
            max(col("delta")).as("max_secs"))
      },
      Some("""
        WITH su AS (
          SELECT user_id, MIN(ts) AS su_raw,
            MIN(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS su_ts
          FROM events WHERE event_type = 'signup' GROUP BY 1),
        pu AS (
          SELECT user_id,
            CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS p_ts
          FROM events WHERE event_type = 'purchase'),
        fp AS (
          SELECT su.user_id, su.su_raw, su.su_ts, MIN(pu.p_ts) AS fp_ts
          FROM su JOIN pu USING (user_id)
          WHERE pu.p_ts >= su.su_ts
          GROUP BY 1, 2, 3)
        SELECT CAST(date_trunc('week', su_raw) AS TIMESTAMP)
            AS cohort_week,
          COUNT(*) AS n_users,
          CAST(SUM(fp_ts - su_ts) AS DOUBLE) / COUNT(*) AS mean_secs,
          CAST(MIN(fp_ts - su_ts) AS BIGINT) AS min_secs,
          CAST(MAX(fp_ts - su_ts) AS BIGINT) AS max_secs
        FROM fp GROUP BY 1""")),

    // ---- burst detection (abuse-rate heuristic) -------------------------
    //      events arriving as part of a >= 3-in-one-hour burst from one
    //      user — the rate signal a curation pipeline uses to flag
    //      scripted traffic (the window is sized to this fixture's
    //      organic event density; an abuse filter would run seconds).
    //      One keyed range-frame count over floored epoch seconds (the
    //      e16 window discipline), then a per-type rollup of how many
    //      events and distinct users burst.
    Q("e20_burst_detection",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_timestamp(col("ts")))
          .rangeBetween(-3599L, 0L)
        Tables.events(s, d)
          .withColumn("in_window", count(lit(1)).over(w))
          .filter(col("in_window") >= 3)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_bursty_events"),
            countDistinct(col("user_id")).as("n_bursty_users"))
      },
      Some("""
        WITH t AS (
          SELECT event_type, user_id,
            COUNT(*) OVER (PARTITION BY user_id
              ORDER BY epoch(date_trunc('second', ts))
              RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS in_window
          FROM events)
        SELECT event_type, COUNT(*) AS n_bursty_events,
          COUNT(DISTINCT user_id) AS n_bursty_users
        FROM t WHERE in_window >= 3 GROUP BY 1""")),

    // ---- DAU / WAU engagement with integer stickiness -------------------
    //      the daily/weekly active-user grid: distinct (user, day) pairs
    //      once, then WAU as a 7-day spine join over that deduped frame
    //      (|days| x |user-days| — the spine side is tiny and broadcast;
    //      at 100 TB the mergeable path is ds01's HLL union over daily
    //      sketches instead of the exact re-count). Stickiness DAU/WAU
    //      is emitted as integer parts-per-1e9; days travel as strings
    //      so both engines agree on the output dtype.
    Q("e21_dau_wau",
      (s, d) => {
        val ud = Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .distinct()
        val days = ud.select(col("day")).distinct()
        val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        val wau = days.as("d")
          .join(ud.as("u"), col("u.day")
            .between(date_sub(col("d.day"), 6), col("d.day")))
          .groupBy(col("d.day").as("day"))
          .agg(countDistinct(col("u.user_id")).as("wau"))
        dau.join(wau, "day")
          .select(col("day").cast("string").as("day"),
            col("dau"), col("wau"),
            expr("CAST(dau * CAST(1000000000 AS BIGINT) div wau AS BIGINT)")
              .as("stickiness_e9"))
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        days AS (SELECT DISTINCT day FROM ud),
        dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        wau AS (
          SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
          FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
          GROUP BY 1)
        SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
          CAST(dau.dau * 1000000000 // wau.wau AS BIGINT) AS stickiness_e9
        FROM dau JOIN wau ON dau.day = wau.day""")),

    // ---- linear multi-touch attribution, exact cent allocation ----------
    //      e16 gives the last touch everything; the linear model splits
    //      each purchase's value EQUALLY across its 24h touches — in
    //      integer cents with the division remainder credited to the
    //      latest touch (the accountants' largest-remainder rule), so
    //      credited cents sum EXACTLY to purchase cents: no float
    //      splitting, no lost pennies, engine-portable by construction.
    //      The purchase x touch pair join is keyed by user_id (per-user
    //      density is bounded), never a global time join.
    Q("e22_linear_attribution",
      (s, d) => {
        val ev = Tables.events(s, d)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            unix_timestamp(col("ts")).as("p_tse"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val t = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), unix_timestamp(col("ts")).as("t_tse"),
            col("event_id").as("tid"), col("event_type").as("touch_type"))
        val j = p.join(t, Seq("user_id"))
          .filter(col("t_tse").between(col("p_tse") - 86400,
            col("p_tse") - 1))
        val w = Window.partitionBy(col("pid"))
        val wRank = Window.partitionBy(col("pid"))
          .orderBy(col("t_tse").desc, col("tid").desc)
        j.withColumn("n", count(lit(1)).over(w))
          .withColumn("rn", row_number().over(wRank))
          // `div` is exact integral division (matching the oracle's `//`);
          // double-division-then-cast would round through IEEE and could
          // cross an integer at large cent values
          .withColumn("credit",
            expr("cents div n") +
              when(col("rn") === 1,
                col("cents") - expr("cents div n") * col("n"))
                .otherwise(0L))
          .groupBy(col("touch_type"))
          .agg(countDistinct(col("pid")).as("n_purchases"),
            sum(col("credit")).as("credited_cents"))
      },
      Some("""
        WITH p AS (
          SELECT event_id AS pid, user_id,
            CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS p_tse,
            CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'),
        t AS (
          SELECT user_id,
            CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t_tse,
            event_id AS tid, event_type AS touch_type
          FROM events WHERE event_type IN ('click', 'view')),
        j AS (
          SELECT p.pid, p.cents, t.t_tse, t.tid, t.touch_type,
            COUNT(*) OVER (PARTITION BY p.pid) AS n,
            ROW_NUMBER() OVER (PARTITION BY p.pid
              ORDER BY t.t_tse DESC, t.tid DESC) AS rn
          FROM p JOIN t ON p.user_id = t.user_id
            AND t.t_tse BETWEEN p.p_tse - 86400 AND p.p_tse - 1)
        SELECT touch_type, COUNT(DISTINCT pid) AS n_purchases,
          CAST(SUM(cents // n + CASE WHEN rn = 1
            THEN cents - (cents // n) * n ELSE 0 END) AS BIGINT)
            AS credited_cents
        FROM j GROUP BY 1""")),

    // ---- incremental sessionization across a batch boundary -------------
    //      the stateful-reprocessing claim made checkable: sessionize
    //      each half of the month INDEPENDENTLY (as two daily loads
    //      would), then merge boundary sessions — a user's last part-1
    //      session joins their first part-2 session when the cross-cut
    //      gap is within the 30-min threshold, and part-2 sequence
    //      numbers shift accordingly. The oracle runs plain FULL-table
    //      sessionization: the gate passing means split-process-merge
    //      is EXACTLY batch-equivalent, so daily loads never need to
    //      re-sessionize history.
    Q("e23_incremental_sessions",
      (s, d) => {
        val cut = lit("2024-01-15").cast("timestamp")
        val s1 = sessionsWhere(s, d, col("ts") < cut)
        val s2 = sessionsWhere(s, d, col("ts") >= cut)
        val m1 = s1.groupBy(col("user_id"))
          .agg(max(col("session_seq")).as("max1"))
        val l1 = s1.join(m1, "user_id")
          .filter(col("session_seq") === col("max1"))
          .select(col("user_id"), col("session_seq").as("l1_seq"),
            col("n_events").as("l1_n"),
            col("session_start").as("l1_start"),
            col("session_end").as("l1_end"))
        val f2 = s2.filter(col("session_seq") === 1)
          .select(col("user_id"), col("n_events").as("f2_n"),
            col("session_start").as("f2_start"),
            col("session_end").as("f2_end"))
        val bridge = l1.join(f2, "user_id")
          .filter(unix_timestamp(col("f2_start"))
            - unix_timestamp(col("l1_end")) <= 1800)
        val merged = bridge.select(col("user_id"),
          col("l1_seq").as("session_seq"),
          (col("l1_n") + col("f2_n")).as("n_events"),
          col("l1_start").as("session_start"),
          col("f2_end").as("session_end"))
        val bUsers = bridge.select(col("user_id"), lit(1).as("bridged"))
        val keep1 = s1.join(m1, "user_id")
          .join(bUsers, Seq("user_id"), "left")
          .filter(col("bridged").isNull ||
            col("session_seq") =!= col("max1"))
          .select(col("user_id"), col("session_seq"), col("n_events"),
            col("session_start"), col("session_end"))
        val adj2 = s2.join(m1, Seq("user_id"), "left")
          .join(bUsers, Seq("user_id"), "left")
          .filter(col("bridged").isNull || col("session_seq") =!= 1)
          .select(col("user_id"),
            (col("session_seq") + coalesce(col("max1"), lit(0L))
              - when(col("bridged").isNotNull, 1L).otherwise(0L))
              .as("session_seq"),
            col("n_events"), col("session_start"), col("session_end"))
        keep1.unionByName(merged).unionByName(adj2)
      },
      // the ORACLE is plain full-table sessionization — identical to e03
      Some("""
        WITH g AS (
          SELECT user_id, ts,
            CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(date_trunc('second', ts))
                    - epoch(date_trunc('second', LAG(ts) OVER w)) > 1800
                 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        s AS (
          SELECT user_id, ts,
            SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM g)
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
          COUNT(*) AS n_events,
          MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM s GROUP BY user_id, session_seq""")),

    // ---- NATIVE as-of join (the whole-operator Catalyst tier) -----------
    //      e05's exact query through the native node — logical node +
    //      planner strategy + physical exec, injected via
    //      SparkSessionExtensions. Same oracle as e05 (DuckDB ASOF JOIN),
    //      so a green gate pins the custom operator end-to-end through
    //      the DuckDB correctness check; JoinOpsSpec pins equality
    //      with the composed union+window reference in the test tree,
    //      including null-key/time behavior.
    Q("e24_asof_native",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoin(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ---- as-of join through the SQL FRONTEND ---------------------------
    //      e24's exact query, but the caller is a pure spark.sql user
    //      joining two named temp views with the ASOF JOIN syntax
    //      (GraftSqlParser + ResolveAsOfSyntax, graft/plans/
    //      AsOfSyntax.scala): the views resolve into the same
    //      AsOfJoinExec plan the Scala API builds. Same DuckDB ASOF
    //      oracle, so a green gate pins parser→rule→strategy→exec
    //      end-to-end over catalog relations.
    Q("e25_asof_sql_tvf",
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
          .createOrReplaceTempView("e25_purchases")
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
          .createOrReplaceTempView("e25_clicks")
        s.sql("""SELECT p.event_id, p.user_id, p.ts,
                   c.ts AS asof_ts, c.value AS asof_value
                 FROM e25_purchases p
                 ASOF JOIN e25_clicks c
                   ON p.user_id = c.user_id AND p.ts >= c.ts""")
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ---- LEFT OUTER as-of join (native) --------------------------------
    //      the enrichment-pipeline variant: every purchase survives, with
    //      null asof_* where the user had no prior click — a purchase
    //      before the user's first click would silently VANISH under
    //      inner semantics and corrupt downstream purchase counts. Same
    //      native exec, null-padding branch (AsOfJoinPlan.scala);
    //      JoinOpsSpec pins equality with the composed outer reference
    //      on a null-mixed fixture; the oracle is DuckDB's ASOF LEFT JOIN.
    Q("e26_asof_left",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoin(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"), leftOuter = true)
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                        WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ---- FORWARD as-of join (native) -----------------------------------
    //      "the next event after this one": each purchase matched to the
    //      user's EARLIEST click at-or-after it (pandas merge_asof
    //      direction='forward' — follow-up attribution, next-slot
    //      scheduling). Same native exec with the time sort mirrored
    //      (key ASC, time DESC) and the one merge comparison flipped;
    //      oracle is DuckDB ASOF with the inequality reversed
    //      (p.ts <= c.ts). JoinOpsSpec pins native == composed on the
    //      null-mixed fixture.
    Q("e27_asof_forward",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoin(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"), forward = true)
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts <= c.ts""")),

    // ---- linear attribution via the KEYED binned range join ------------
    //      e22 computes this model with a per-user pair join, correct
    //      because per-user touch density is bounded on this fixture —
    //      but that plan is quadratic in a user's events inside the
    //      window, the thing that blows up on a bot-heavy user at 100 TB.
    //      This is the plan that survives that skew: candidates from
    //      the KEYED binned range join ((user, time-bin) groups — never
    //      a per-user cross product over the whole window, never a
    //      whole-bin cross product either), the same pairing strategy
    //      e06 uses unkeyed. Same attribution model, different physical
    //      plan — the e05/e24 pattern of gating one semantics through
    //      the composition AND the scale-path plan. Output per
    //      purchase: touch count + per-touch credit (1h clicks);
    //      zero-prior-click purchases drop. The credit division is one
    //      double op with identical operands on both engines.
    Q("e28_linear_attribution",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value").as("p_value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        graft.operators.JoinOps.rangeJoinBinned(purchases, clicks,
            "p_ts", "c_ts", windowSec = 3600L,
            keys = Seq(("p_user", "c_user")))
          .groupBy(col("p_id"), col("p_user"), col("p_ts"), col("p_value"))
          .agg(count(lit(1)).as("n_touch"))
          .select(col("p_id").as("event_id"), col("p_user").as("user_id"),
            col("p_ts").as("ts"), col("n_touch"),
            (col("p_value") / col("n_touch")).as("credit_per_touch"))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          COUNT(*) AS n_touch,
          p.value / COUNT(*) AS credit_per_touch
        FROM (SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase') p
        JOIN (SELECT user_id, ts FROM events
              WHERE event_type = 'click') c
          ON p.user_id = c.user_id
            AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        GROUP BY p.event_id, p.user_id, p.ts, p.value""")),

    // ---- STRING-keyed as-of join (native, via the ASOF JOIN syntax) -----
    //      the trades/quotes reality check: symbols are STRINGS, and
    //      DuckDB's ASOF and pandas merge_asof both take them directly —
    //      until round 14 the native exec require()d bigint keys, forcing
    //      a manual pre-hash (collision risk on the user). The exec now
    //      binds ANY orderable key type through the type's interpreted
    //      ordering (AsOfJoinPlan.scala — key VALUES are copied out of
    //      the reused row buffers, the bug a string key would otherwise
    //      hit); this gate derives a symbol-like key ('u' || user_id) on
    //      both sides and runs it through the ASOF JOIN syntax —
    //      analyzer resolution rule, type checks, strategy, exec —
    //      against the same DuckDB ASOF oracle keyed on the same derived
    //      string.
    //      AsOfJoinPropertySpec pins the Scala-API route and equality
    //      with the composed form on string keys incl. null keys.
    Q("e29_asof_string_key",
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), concat(lit("u"), col("user_id")).as("sym"),
            col("ts"))
          .createOrReplaceTempView("e29_purchases")
        ev.filter(col("event_type") === "click")
          .select(concat(lit("u"), col("user_id")).as("sym"),
            col("ts"), col("value"))
          .createOrReplaceTempView("e29_clicks")
        s.sql("""SELECT p.event_id, p.sym, p.ts,
                   c.ts AS asof_ts, c.value AS asof_value
                 FROM e29_purchases p
                 ASOF JOIN e29_clicks c ON p.sym = c.sym AND p.ts >= c.ts""")
      },
      Some("""
        SELECT p.event_id, p.sym, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, 'u' || user_id AS sym, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT 'u' || user_id AS sym, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.sym = c.sym AND p.ts >= c.ts""")),

    // ---- as-of join with a TOLERANCE bound (native, inner) --------------
    //      pandas merge_asof(tolerance=...): "the latest click within the
    //      last 10 minutes" — a match staler than the bound is NO match.
    //      Inner shape: the stale-matched purchase DROPS, which for inner
    //      (and only inner) equals a post-filter on the plain ASOF join —
    //      exactly how the oracle states it. The bound is ONE comparison
    //      in the exec's merge (AsOfJoinPlan.scala: tolerance folded to a
    //      primitive long, no per-row Option branch).
    Q("e30_asof_tolerance",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoin(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"),
          tolerance = Some(600000000L)) // 10 min in micros
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        WHERE epoch_us(p.ts) - epoch_us(c.ts) <= 600000000""")),

    // ---- tolerance + LEFT OUTER: the shape a post-filter CANNOT express -
    //      enrichment wants "latest quote within N minutes, ELSE NULL":
    //      a stale match must null-pad, not drop the fact row. Filtering
    //      the joined result would delete it; the bound has to live
    //      INSIDE the join. Oracle: ASOF LEFT JOIN, then CASE-null the
    //      payload when stale — sound because the ASOF match is the
    //      LATEST prior row, so no fresher in-tolerance row can exist
    //      behind it. JoinOpsSpec pins native == composed (both carry
    //      tolerance) on the null-mixed fixture.
    Q("e31_asof_tolerance_left",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoin(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"), leftOuter = true,
          tolerance = Some(600000000L))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
               THEN c.ts END AS asof_ts,
          CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
               THEN c.value END AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                        WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ---- as-of SQL with INLINE SUBQUERIES + tolerance --------------------
    //      e30's exact query — bound INSIDE the join, no per-side temp
    //      views, pure spark.sql end to end — against e30's oracle, with
    //      the ON condition written right-side-first (c.user_id =
    //      p.user_id AND c.ts <= p.ts): the resolution rule classifies
    //      each comparison by the side its columns come from, so operand
    //      order must not change the key pairing or the (backward)
    //      direction. TOLERANCE rides into the exec's native bound.
    Q("e32_asof_tvf_inline",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("e32_events")
        s.sql("""SELECT p.event_id, p.user_id, p.ts,
            c.ts AS asof_ts, c.value AS asof_value
          FROM (SELECT event_id, user_id, ts FROM e32_events
                WHERE event_type = 'purchase') p
          ASOF JOIN (SELECT user_id, ts, value FROM e32_events
                     WHERE event_type = 'click') c
            ON c.user_id = p.user_id AND c.ts <= p.ts
            TOLERANCE 600000000""")
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        WHERE epoch_us(p.ts) - epoch_us(c.ts) <= 600000000""")),

    // ---- LEFT OUTER attribution via the binned range join ---------------
    //      e28 keeps only purchases WITH prior-hour clicks — correct for
    //      per-touch credit but silently wrong as a denominator ("of all
    //      purchases, how many had any touch?"). rangeJoinBinnedLeft
    //      null-pads the zero-touch purchases THROUGH the bin-probing
    //      plan (a naive outer join over the exploded bins would pad
    //      per-bin and double-count — the operator composes pads from
    //      the inner result instead); n_touch counts non-null matches,
    //      credit is NULL when there is nothing to split.
    Q("e33_attribution_left",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"), col("value").as("p_value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        graft.operators.JoinOps.rangeJoinBinnedLeft(purchases, clicks,
            "p_ts", "c_ts", windowSec = 3600L,
            keys = Seq(("p_user", "c_user")))
          .groupBy(col("p_id"), col("p_user"), col("p_ts"), col("p_value"))
          .agg(count(col("c_ts")).as("n_touch"))
          .select(col("p_id").as("event_id"), col("p_user").as("user_id"),
            col("p_ts").as("ts"), col("n_touch"),
            when(col("n_touch") > 0, col("p_value") / col("n_touch"))
              .as("credit_per_touch"))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          COUNT(c.ts) AS n_touch,
          CASE WHEN COUNT(c.ts) > 0 THEN p.value / COUNT(c.ts) END
            AS credit_per_touch
        FROM (SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT user_id, ts FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id
            AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        GROUP BY p.event_id, p.user_id, p.ts, p.value""")),

    // ---- time-sliced skew-split as-of join -------------------------------
    //      e24's exact query through JoinOps.asOfJoinTimeSliced, the
    //      hot-key path of asOfJoinAuto at a fixed width: AQE's
    //      OptimizeSkewedJoin cannot split the custom exec's exchanges
    //      (AsOfSkewSpec pins this with a positive control); the time
    //      axis is sliced at one day and the single latest pre-slice
    //      right row is carried into each occupied slice, making results
    //      IDENTICAL to the unsliced plan — proven here against the same
    //      DuckDB ASOF oracle as e24, and against the native exec on a
    //      null-mixed Zipf fixture in AsOfSkewSpec.
    Q("e36_asof_time_sliced",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoinTimeSliced(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"),
          sliceWidth = 86400000000L) // 1 day in micros
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ---- BROADCAST as-of join (shuffle-free fact side) -------------------
    //      e24's exact query, pinned to the broadcast tier: the click
    //      history is under the autoBroadcast threshold, so the strategy
    //      plans BroadcastAsOfJoinExec and purchases reach the join with
    //      ZERO exchanges — the dimension-lookup as-of shape (rate
    //      tables, config histories) where shuffling the 100 TB fact
    //      side to meet a broadcastable table is the wrong plan. Same
    //      DuckDB ASOF oracle as e24; PlanShapePinSpec pins the
    //      exchange-free plan, BroadcastAsOfExecSpec broadcast ==
    //      shuffled across the full contract matrix.
    Q("e37_asof_broadcast",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoin(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ---- broadcast as-of, fully loaded: FORWARD + LEFT OUTER + tolerance -
    //      the hardest corner of the contract in one gate: each purchase
    //      matched to the user's EARLIEST click at-or-after it, kept
    //      only within 10 min staleness, unmatched purchases retained
    //      null-padded — all through the broadcast exec's binary-search
    //      probe (direction picks the bound, tolerance is one
    //      comparison, outer pads the miss). Oracle: DuckDB ASOF LEFT
    //      with the reversed inequality + e31's CASE-nulling for the
    //      staleness bound.
    Q("e38_asof_broadcast_fwd",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoin(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"), leftOuter = true,
          forward = true, tolerance = Some(600000000L))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(c.ts) - epoch_us(p.ts) <= 600000000
               THEN c.ts END AS asof_ts,
          CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(c.ts) - epoch_us(p.ts) <= 600000000
               THEN c.value END AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                        WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts <= c.ts""")),

    // ---- parser-level ASOF JOIN syntax -----------------------------------
    //      the SAME SQL text runs verbatim on both engines: Spark parses
    //      it through GraftSqlParser (injectParser rewrite ->
    //      ResolveAsOfSyntax -> the native AsOfJoinExec), DuckDB through
    //      its own native ASOF grammar. e24 shares the oracle SEMANTICS;
    //      this is the first gate where the query STRING itself is the
    //      shared artifact — the dialect-compatibility claim, pinned.
    Q("e34_asof_syntax",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("events")
        s.sql(asofSyntaxSql)
      },
      Some(asofSyntaxSql)),

    // ---- parser-level ASOF LEFT JOIN, same verbatim-text contract --------
    //      the outer half of the dialect surface: unmatched purchases
    //      null-pad instead of dropping, through the identical shared
    //      string (AsOfSyntaxSpec pins direction flips, tolerance, struct
    //      keys, and the loud strict-inequality/OR rejections).
    Q("e35_asof_syntax_left",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("events")
        s.sql(asofSyntaxLeftSql)
      },
      Some(asofSyntaxLeftSql))
  ) ++ fwdSyntaxEntries ++ autoSkewEntries

  private lazy val fwdSyntaxEntries: Seq[Q] = Seq(
    // ---- parser-level ASOF JOIN, FORWARD direction ------------------------
    //      the flipped inequality (p.ts <= c.ts) — the decomposition rule
    //      reads direction from which side the time inequality favors, so
    //      the same shared-verbatim-text contract covers the forward path
    //      (e27 gates the same semantics through the Scala API).
    Q("e39_asof_syntax_fwd",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("events")
        s.sql(asofSyntaxFwdSql)
      },
      Some(asofSyntaxFwdSql)),

    // ---- parser-level TOLERANCE (the graft extension) ---------------------
    //      `TOLERANCE n` after the ON clause rides into the exec's native
    //      staleness bound — the one part of the dialect DuckDB does NOT
    //      have, so the oracle is e30's semantic form (ASOF + post-filter
    //      on the gap, expressible for INNER) rather than shared text.
    Q("e40_asof_syntax_tol",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("events")
        s.sql("""
          SELECT p.event_id, p.user_id, p.ts,
            c.ts AS asof_ts, c.value AS asof_value
          FROM (SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'purchase') p
          ASOF JOIN (SELECT user_id, ts, value FROM events
                     WHERE event_type = 'click') c
            ON p.user_id = c.user_id AND p.ts >= c.ts
            TOLERANCE 600000000""")
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        WHERE epoch_us(p.ts) - epoch_us(c.ts) <= 600000000""")),

    // ---- parser-level STRICT comparator (round-16: the last dialect seam)
    //      DuckDB's ASOF accepts `>` (exclude exact ties); the exec's
    //      strict flag flips one comparison in the merge consume loop /
    //      the broadcast binary-search bound. Shared verbatim text again —
    //      both engines parse and execute the SAME string (AsOfStrictSpec
    //      pins strict-at-t ≡ non-strict-at-(t-1) on a tie-rich fixture
    //      across both physical tiers).
    Q("e41_asof_syntax_strict",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("events")
        s.sql(asofSyntaxStrictSql)
      },
      Some(asofSyntaxStrictSql))
  )

  private lazy val asofSyntaxStrictSql = """
    SELECT p.event_id, p.user_id, p.ts,
      c.ts AS asof_ts, c.value AS asof_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT user_id, ts, value FROM events
               WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts > c.ts"""

  /** round-16 additions live in their own seq so the main registry stays
    * appendable without touching earlier entries */
  private[queries] lazy val autoSkewEntries: Seq[Q] = Seq(
    // ---- AUTOMATIC skew routing for as-of ---------------------------------
    //      e36 proved the mitigation (manual time-slicing, w19-sized);
    //      this gate runs JoinOps.asOfJoinAuto, which derives the w19
    //      plan itself (round-17: a Misra-Gries sketch pass — no
    //      key-cardinality shuffle — whose exact second pass drops its
    //      candidate filter when the explicit target is finer than the
    //      sketch certifies, as this gate's target=8 is at sf0.1),
    //      routes keys above targetRowsPerTask through the sliced form
    //      at the planned width, and leaves cold keys on the cost-based
    //      native path. The low target forces real routing on the sf
    //      fixtures (AsOfSkewSpec pins plan shape — 3 as-of nodes, one
    //      struct-keyed — and native equality on the Zipf fixture); the
    //      oracle is e24/e36's plain DuckDB ASOF, because routing must
    //      never change results.
    Q("e42_asof_auto_skew",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.operators.JoinOps.asOfJoinAuto(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightVals = Seq("ts", "value"),
          targetRowsPerTask = 8L)
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
          c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ---- auto-skew as-of over SQL-built inputs (round-17) ---------------
    //      the collapsed-key fixture: 75% of users fold onto k=0 (a CASE
    //      both engines evaluate identically), so the DEFAULT target
    //      (total/parallelism) finds a genuinely hot key at any SF and
    //      JoinOps.asOfJoinAuto plans the sliced+native union — the
    //      Misra-Gries sketch path end to end. The right side
    //      pre-aggregates to one row per (k, ts) because collapsing keys
    //      manufactures cross-user time ties, and duplicate (key, rt)
    //      pairs would make the as-of tie-break unspecified in BOTH
    //      engines; MAX(value) restores a deterministic oracle.
    Q("e43_asof_auto_sql",
      (s, d) => {
        val (p, c) = collapsedInputs(s, d)
        graft.operators.JoinOps.asOfJoinAuto(p, c, "k", "k", "ts", "ts",
          rightVals = Seq("ts", "value"))
      },
      Some("""
        SELECT p.event_id, p.k, p.ts, c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id,
                (CASE WHEN user_id % 4 > 0 THEN 0 ELSE user_id END) AS k,
                ts
              FROM events WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT
                     (CASE WHEN user_id % 4 > 0 THEN 0 ELSE user_id END)
                       AS k,
                     ts, MAX(value) AS value
                   FROM events WHERE event_type = 'click'
                   GROUP BY 1, 2) c
          ON p.k = c.k AND p.ts >= c.ts""")),

    // ---- FORWARD auto-skew as-of (round-18) ------------------------------
    //      e43 with the direction flipped: each purchase takes the
    //      user's EARLIEST click at-or-after it, and the oracle is e27's
    //      reversed-inequality DuckDB ASOF over the collapsed key.
    //      AsOfSkewSpec's router matrix pins every outer x forward x
    //      strict x tolerance shape against the plain node.
    Q("e44_asof_auto_fwd_sql",
      (s, d) => {
        val (p, c) = collapsedInputs(s, d)
        graft.operators.JoinOps.asOfJoinAuto(p, c, "k", "k", "ts", "ts",
          rightVals = Seq("ts", "value"), forward = true)
      },
      Some("""
        SELECT p.event_id, p.k, p.ts, c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT event_id,
                (CASE WHEN user_id % 4 > 0 THEN 0 ELSE user_id END) AS k,
                ts
              FROM events WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT
                     (CASE WHEN user_id % 4 > 0 THEN 0 ELSE user_id END)
                       AS k,
                     ts, MAX(value) AS value
                   FROM events WHERE event_type = 'click'
                   GROUP BY 1, 2) c
          ON p.k = c.k AND p.ts <= c.ts""")),

    // ---- parser ASOF JOIN syntax over the collapsed hot key (round-18) --
    //      the e34 SYNTAX over inline subqueries with e43's collapsed
    //      hot key, planned as the one native node. Oracle: the
    //      IDENTICAL text on DuckDB (its native ASOF JOIN).
    Q("e45_asof_syntax_auto",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("events")
        s.sql(asofSyntaxCollapsedSql)
      },
      Some(asofSyntaxCollapsedSql))
  )

  /** e43/e44's inputs, built with the subqueries of e45's text:
    * purchases and per-(k, ts) clicks, 75% of users collapsed onto
    * k = 0 */
  private def collapsedInputs(s: SparkSession,
                              d: String): (DataFrame, DataFrame) = {
    Tables.events(s, d).createOrReplaceTempView("events")
    (s.sql("""SELECT event_id,
        (CASE WHEN user_id % 4 > 0 THEN 0 ELSE user_id END) AS k, ts
      FROM events WHERE event_type = 'purchase'"""),
     s.sql("""SELECT (CASE WHEN user_id % 4 > 0 THEN 0 ELSE user_id END) AS k,
        ts, MAX(value) AS value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2"""))
  }

  /** e45's text — valid verbatim on BOTH engines (Spark via the graft
    * parser extension, DuckDB natively), like e34's; the collapsed key
    * manufactures one hot key */
  private lazy val asofSyntaxCollapsedSql = """
    SELECT p.event_id, p.k, p.ts, c.ts AS asof_ts, c.value AS asof_value
    FROM (SELECT event_id,
            (CASE WHEN user_id % 4 > 0 THEN 0 ELSE user_id END) AS k,
            ts
          FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT
                 (CASE WHEN user_id % 4 > 0 THEN 0 ELSE user_id END) AS k,
                 ts, MAX(value) AS value
               FROM events WHERE event_type = 'click'
               GROUP BY 1, 2) c
      ON p.k = c.k AND p.ts >= c.ts"""

  private lazy val asofSyntaxFwdSql = """
    SELECT p.event_id, p.user_id, p.ts,
      c.ts AS asof_ts, c.value AS asof_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT user_id, ts, value FROM events
               WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts <= c.ts"""

  /** one string, two engines — the e34 contract is textual, so the text
    * lives in one place */
  private lazy val asofSyntaxSql = """
    SELECT p.event_id, p.user_id, p.ts,
      c.ts AS asof_ts, c.value AS asof_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT user_id, ts, value FROM events
               WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts"""

  private lazy val asofSyntaxLeftSql = """
    SELECT p.event_id, p.user_id, p.ts,
      c.ts AS asof_ts, c.value AS asof_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts"""
}
