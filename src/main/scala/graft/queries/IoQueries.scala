package graft.queries

import org.apache.spark.sql.functions._
import graft.io.{Scratch, Tables}

/** Gate-visible sink coverage: each query WRITES through an engine sink
  * into a scratch dir, reads its own output back, and returns a result
  * the DuckDB oracle recomputes from the source table — so the zstd
  * parquet sink (reference S7, parquet_assembler.py:34-37), hive-layout
  * partitioning, and the row-range split knob (reference S3,
  * parquet_slicer.py:53-58) are all verified end to end, not just
  * spec-asserted.
  *
  * Outputs live under the per-JVM scratch root (graft.io.Scratch).
  */
object IoQueries {

  private def scratch(name: String, d: String): String =
    Scratch.dir(name, d).toString

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  val qs: Seq[Q] = Seq(

    // ---- zstd partitioned sink + partition-pruned read ------------------
    //      the write partitions by lang; the read-back filter must then
    //      touch only the lang=en directory (PartitionFilters in the
    //      scan — asserted structurally in PartitionPruningSpec; here the
    //      oracle verifies the VALUES survive the sink round-trip)
    Q("io01_partitioned_roundtrip",
      (s, d) => {
        val out = scratch("io01", d)
        Tables.writePartitioned(Tables.documents(s, d), out, "lang")
        s.read.parquet(out)
          .filter(col("lang") === "en")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("doc_id")).as("n_distinct"))
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          COUNT(DISTINCT doc_id) AS n_distinct
        FROM documents WHERE lang = 'en' GROUP BY lang""")),

    // ---- date-partitioned layout + incremental window read --------------
    //      the daily-incremental processing shape: events land
    //      partitioned by day, and the nightly job reads ONLY its date
    //      window — a range predicate on the partition column prunes at
    //      the directory listing, so the scan cost tracks the window,
    //      not the table (the io01 equality-prune generalized to the
    //      range form). The partition value is kept as a yyyy-MM-dd
    //      string on both sides (partition-type inference would
    //      otherwise resurrect it as DATE and change the output dtype).
    Q("io13_incremental_partitions",
      (s, d) => {
        val out = scratch("io13", d)
        Tables.events(s, d)
          .withColumn("day", to_date(col("ts")).cast("string"))
          .write.mode("overwrite").partitionBy("day").parquet(out)
        s.read.parquet(out)
          .filter(col("day").cast("string").between("2024-01-10", "2024-01-12"))
          .groupBy(col("day").cast("string").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec(col("value"))).cast("double").as("sum_value"))
      },
      Some("""
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE CAST(ts AS DATE)
          BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        GROUP BY 1, 2""")),

    // ---- row-range splitting on write (reference S3 parity) -------------
    //      one writer task + maxRecordsPerFile=200 chunks the table into
    //      ceil(n/200) files of bounded size — Spark's form of the
    //      slicer's fixed-row chunks; the oracle recomputes the expected
    //      chunk count from the row count
    Q("io02_row_range_split",
      (s, d) => {
        val out = scratch("io02", d)
        Tables.documents(s, d).repartition(1)
          .write.mode("overwrite")
          .option("compression", "zstd")
          .option("maxRecordsPerFile", 200L)
          .parquet(out)
        s.read.parquet(out)
          // project the file name first: nondeterministic expressions are
          // legal in a Project but not inside aggregate arguments
          .select(input_file_name().as("f"))
          .agg(countDistinct(col("f")).as("n_files"),
            count(lit(1)).as("n_rows"))
      },
      Some("""
        SELECT CAST(CEIL(COUNT(*) / 200.0) AS BIGINT) AS n_files,
          COUNT(*) AS n_rows
        FROM documents""")),

    // ---- small-file compaction ------------------------------------------
    //      the daily chore of a 100 TB lake: a fragmented landing dir
    //      (here: 50-row files) rewritten to a bounded file count with no
    //      row lost. repartition(2) pins the output file count exactly;
    //      at scale the partition count comes from bytes/targetFileSize.
    Q("io03_compaction",
      (s, d) => {
        val frag = scratch("io03_frag", d)
        val compact = scratch("io03_compact", d)
        Tables.documents(s, d).repartition(1)
          .write.mode("overwrite").option("maxRecordsPerFile", 50L)
          .parquet(frag)
        s.read.parquet(frag).repartition(2)
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(compact)
        val before = s.read.parquet(frag)
          .select(input_file_name().as("f"))
          .agg(countDistinct(col("f")).as("n_files_before"))
        s.read.parquet(compact)
          .select(input_file_name().as("f"), col("doc_id"))
          .agg(countDistinct(col("f")).as("n_files_after"),
            count(lit(1)).as("n_rows"),
            countDistinct(col("doc_id")).as("n_distinct"))
          .crossJoin(before)
          .select(col("n_files_before"), col("n_files_after"),
            col("n_rows"), col("n_distinct"))
      },
      Some("""
        SELECT CAST(CEIL(COUNT(*) / 50.0) AS BIGINT) AS n_files_before,
          CAST(2 AS BIGINT) AS n_files_after,
          COUNT(*) AS n_rows,
          COUNT(DISTINCT doc_id) AS n_distinct
        FROM documents""")),

    // ---- bucketed co-located join ----------------------------------------
    //      both fact tables are written bucketBy(8, joinkey)+sortBy — the
    //      pay-the-shuffle-once layout for repeatedly-joined 100 TB facts:
    //      the join over the bucketed tables plans with NO Exchange on
    //      either side (pinned structurally in BucketingSpec; here the
    //      oracle verifies the VALUES equal the plain join's). External
    //      table paths live under the per-JVM scratch root; names are
    //      fixed, mode=overwrite makes reruns idempotent.
    Q("io04_bucketed_join",
      (s, d) => {
        s.table("graft_io04_orders")
          .join(s.table("graft_io04_lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_items,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority"""),
      // the pay-the-shuffle-once bucketed layout IS the point: writing
      // it is a one-time pipeline cost, the repeated zero-Exchange join
      // is the steady-state cost Bench should report
      setup = Some((s, d) => {
        s.sql("DROP TABLE IF EXISTS graft_io04_orders")
        s.sql("DROP TABLE IF EXISTS graft_io04_lineitem")
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", scratch("io04_orders", d))
          .saveAsTable("graft_io04_orders")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_quantity", "l_extendedprice")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", scratch("io04_lineitem", d))
          .saveAsTable("graft_io04_lineitem")
      })),

    // ---- range-partitioned sorted layout (time-series clustering) -------
    //      repartitionByRange + sortWithinPartitions on the filter column
    //      writes files with DISJOINT o_orderdate ranges (pinned in
    //      SortedLayoutSpec) — every parquet row group then carries tight
    //      min/max stats and a date-range reader skips all but the
    //      matching slice: the clustering that stands in for an index at
    //      100 TB. The gate verifies the narrow read-back slice value-
    //      matches the source table.
    Q("io05_range_layout",
      (s, d) => {
        val out = scratch("io05", d)
        Tables.orders(s, d)
          .repartitionByRange(8, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.mode("overwrite").option("compression", "zstd").parquet(out)
        s.read.parquet(out)
          .filter(col("o_orderdate") >= lit("1997-03-01") &&
            col("o_orderdate") < lit("1997-06-01"))
          .agg(count(lit(1)).as("n"),
            sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
            min(col("o_orderdate")).as("first_day"),
            max(col("o_orderdate")).as("last_day"))
      },
      Some("""
        SELECT COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          MIN(o_orderdate) AS first_day, MAX(o_orderdate) AS last_day
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-03-01'
          AND o_orderdate < TIMESTAMP '1997-06-01'""")),

    // ---- CSV sink + schema-on-read round trip ----------------------------
    //      CSV is the interchange format, not the storage format: written
    //      UNcompressed (plain text splits across tasks; a gzip'd CSV is
    //      one unsplittable blob per file at 100 TB) and read back with an
    //      EXPLICIT schema — schema inference reads the data twice and
    //      guesses. The oracle recomputes the aggregate from the source
    //      parquet, so quoting/escaping/typed round-trip fidelity (incl.
    //      the free-text column) is what's actually being verified.
    Q("io06_csv_roundtrip",
      (s, d) => {
        val out = scratch("io06", d)
        Tables.documents(s, d)
          .select("doc_id", "lang", "source", "n_chars", "text")
          .write.mode("overwrite")
          .option("header", "true").option("escape", "\"")
          .csv(out)
        s.read
          .schema("doc_id BIGINT, lang STRING, source STRING, " +
            "n_chars BIGINT, text STRING")
          .option("header", "true").option("escape", "\"")
          .csv(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(length(col("text"))).as("sum_text_len"),
            countDistinct(col("doc_id")).as("n_distinct"))
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          CAST(SUM(LEN(text)) AS BIGINT) AS sum_text_len,
          COUNT(DISTINCT doc_id) AS n_distinct
        FROM documents GROUP BY lang""")),

    // ---- JSON-lines sink + schema-on-read round trip ---------------------
    //      same discipline as io06: newline-delimited JSON (each line its
    //      own record -> splittable), explicit schema on read. Doubles
    //      survive exactly (Jackson emits shortest-round-trip rendering),
    //      which the decimal-summed aggregate would expose if they didn't.
    Q("io07_json_roundtrip",
      (s, d) => {
        val out = scratch("io07", d)
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_returnflag", "l_quantity",
            "l_extendedprice")
          .write.mode("overwrite").json(out)
        s.read
          .schema("l_orderkey BIGINT, l_returnflag STRING, " +
            "l_quantity DOUBLE, l_extendedprice DOUBLE")
          .json(out)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n_items,
          COUNT(DISTINCT l_orderkey) AS n_orders,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_price
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- ORC sink round trip ---------------------------------------------
    //      the third columnar format next to parquet (io01) and the text
    //      interchange formats (io06/io07): zstd-compressed ORC written
    //      and read back through Spark's vectorized ORC reader, incl. a
    //      TIMESTAMP_NTZ column (type-annotation round-trip fidelity).
    //      DuckDB reads no ORC, so the oracle recomputes the aggregate
    //      from the source parquet — same discipline as io06.
    Q("io08_orc_roundtrip",
      (s, d) => {
        val out = scratch("io08", d)
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice",
            "o_orderdate")
          .write.mode("overwrite").option("compression", "zstd").orc(out)
        s.read.orc(out)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            countDistinct(col("o_orderkey")).as("n_distinct"),
            sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
            min(col("o_orderdate")).as("first_day"),
            max(col("o_orderdate")).as("last_day"))
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
          COUNT(DISTINCT o_orderkey) AS n_distinct,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_price,
          MIN(o_orderdate) AS first_day, MAX(o_orderdate) AS last_day
        FROM orders GROUP BY o_orderpriority""")),

    // ---- Z-order (Morton) multi-dimensional layout -----------------------
    //      orders clustered by the bit-interleave of (o_custkey,
    //      days(o_orderdate)): every written file then carries a TIGHT
    //      min/max range on BOTH dimensions, so row-group stats prune a
    //      customer-range scan AND a date-range scan from the same single
    //      layout — what io05's one-column sort can only do for its sort
    //      key. ZOrderLayoutSpec pins the pruning claim against the
    //      written files' actual per-file min/max; here the gate verifies
    //      a 2-D box query's VALUES survive the layout round trip.
    Q("io09_zorder_layout",
      (s, d) => {
        val out = scratch("io09", d)
        val days = datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date"))
        Tables.orders(s, d)
          .withColumn("zkey",
            graft.functions.Layout.zorder16(col("o_custkey"), days))
          .repartitionByRange(8, col("zkey"))
          .sortWithinPartitions("zkey")
          .drop("zkey")
          .write.mode("overwrite").option("compression", "zstd").parquet(out)
        s.read.parquet(out)
          .filter(col("o_custkey") < 256 &&
            col("o_orderdate") >= lit("1995-01-01") &&
            col("o_orderdate") < lit("1996-01-01"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("o_custkey")).as("n_customers"),
            sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      },
      Some("""
        SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_customers,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_custkey < 256
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'""")),

    // ---- dynamic partition overwrite (partition-scoped upsert) ----------
    //      the daily-restatement primitive: rewriting ONE hive partition
    //      must not touch its siblings. Static overwrite mode would drop
    //      the whole table; dynamic mode replaces exactly the partitions
    //      present in the incoming frame. The gate restates the
    //      1-URGENT partition with adjusted prices, reads the table
    //      back, and the oracle recomputes what an untouched-staying,
    //      urgent-restated table must equal — sibling corruption or a
    //      full-table drop would hash-mismatch immediately.
    Q("io10_dynamic_overwrite",
      (s, d) => {
        val out = scratch("io10", d)
        val orders = Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        orders.write.mode("overwrite").option("compression", "zstd")
          .partitionBy("o_orderpriority").parquet(out)
        orders.filter(col("o_orderpriority") === "1-URGENT")
          .withColumn("o_totalprice",
            (col("o_totalprice").cast("decimal(18,2)") +
              lit(10).cast("decimal(18,2)")).cast("double"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .option("compression", "zstd")
          .partitionBy("o_orderpriority").parquet(out)
        s.read.parquet(out)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
          CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
            THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                 + CAST(10 AS DECIMAL(18,2)) AS DECIMAL(18,2))
            ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
            AS sum_price
        FROM orders GROUP BY o_orderpriority""")),

    // ---- schema-merge read across heterogenous parquet batches ----------
    //      a long-lived dataset accretes files written under different
    //      schema versions; mergeSchema=true reconciles them AT READ
    //      TIME (union-by-name with nulls for absent columns) — no
    //      rewrite of petabytes of old files. Two batches with disjoint
    //      payload columns land in one directory; the merged read must
    //      see every row with exactly its own batch's column populated.
    Q("io11_merge_schema",
      (s, d) => {
        val out = scratch("io11", d)
        val orders = Tables.orders(s, d)
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(out)
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.mode("append").option("compression", "zstd")
          .parquet(out)
        s.read.option("mergeSchema", "true").parquet(out)
          .agg(count(lit(1)).as("n_rows"),
            count(col("o_totalprice")).as("n_with_price"),
            count(col("o_orderpriority")).as("n_with_priority"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
          COUNT(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS n_with_price,
          COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END)
            AS n_with_priority,
          CAST(SUM(CASE WHEN o_orderkey % 2 = 0
            THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
            AS sum_price
        FROM orders""")),

    // ---- permissive ingestion of malformed records ----------------------
    //      real feeds carry broken rows; dropping the file (FAILFAST) or
    //      the rows silently (DROPMALFORMED) are both wrong at scale —
    //      the production shape is PERMISSIVE with a corrupt-record
    //      column, so bad rows are COUNTED and quarantined while good
    //      rows flow. Every 7th record is deliberately corrupted before
    //      the CSV write; the read-back must classify exactly those.
    Q("io12_corrupt_records",
      (s, d) => {
        import org.apache.spark.sql.types._
        val out = scratch("io12", d)
        Tables.documents(s, d)
          .select(concat_ws(",", col("doc_id"),
            when(col("doc_id") % 7 === 0, lit("x"))
              .otherwise(col("n_chars").cast("string")),
            col("lang")).as("value"))
          .write.mode("overwrite").text(out)
        val sch = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("n_chars", LongType),
          StructField("lang", StringType),
          StructField("_bad", StringType)))
        s.read.schema(sch)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(out)
          .agg(count(lit(1)).as("n_rows"),
            count(col("_bad")).as("n_corrupt"),
            sum(col("n_chars")).as("sum_good_chars"))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
          COUNT(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS n_corrupt,
          CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN n_chars END) AS BIGINT)
            AS sum_good_chars
        FROM documents"""))
  )
}
