package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Tables

/** Mergeable-sketch rollups — the at-scale pattern for distinct counts:
  * build one HLL sketch per partition/group, store or shuffle the
  * sketch bytes (fixed KB per group, not per row), and merge sketches
  * for any coarser grain without touching the raw data again. At 100 TB
  * this replaces re-scanning the corpus for every (day, source, lang)
  * distinct-count combination.
  *
  * Gate strategy: DuckDB cannot evaluate Spark's Datasketches HLL, so
  * the oracle checks the exact distinct counts plus the CLAIM the sketch
  * ships with — estimates land within 2% of exact (trivially true here:
  * at fixture cardinalities the sketch is still in exact sparse mode,
  * and it is deterministic on fixed input either way).
  */
object Sketches {

  val qs: Seq[Q] = Seq(

    // ---- per-lang HLL sketches + a union-merged corpus rollup ----------
    Q("ds01_hll_rollup",
      (s, d) => {
        val perLang = Tables.documents(s, d)
          .groupBy("lang")
          .agg(expr("hll_sketch_agg(doc_id)").as("sk"),
            countDistinct(col("doc_id")).as("n_exact"))
        val langRows = perLang.select(col("lang"), col("n_exact"),
          (abs(expr("hll_sketch_estimate(sk)") - col("n_exact")) <=
            col("n_exact").cast("double") * 0.02).as("est_within_2pct"))
        // doc_id is globally unique, so per-lang sets are disjoint and
        // the exact corpus count is the sum; the estimate side merges
        // the five sketches WITHOUT re-reading documents
        val allRow = perLang
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
            sum(col("n_exact")).as("n_exact"))
          .select(lit("<all>").as("lang"), col("n_exact"),
            (abs(col("est") - col("n_exact")) <=
              col("n_exact").cast("double") * 0.02).as("est_within_2pct"))
        langRows.unionByName(allRow)
      },
      Some("""
        SELECT lang, COUNT(DISTINCT doc_id) AS n_exact,
          TRUE AS est_within_2pct
        FROM documents GROUP BY lang
        UNION ALL
        SELECT '<all>' AS lang, COUNT(DISTINCT doc_id) AS n_exact,
          TRUE AS est_within_2pct
        FROM documents""")),

    // ---- count-min frequency sketch + in-plan probe ---------------------
    //      one CMS over the fact table's supplier key (fixed KB whatever
    //      the row count — the shippable per-partition frequency summary),
    //      probed per key with the native cms_estimate expression. The
    //      gate asserts only the DETERMINISTIC invariant (estimate >=
    //      exact, always true for CMS); the upper band est <= exact +
    //      eps*N holds only with probability 0.999 per key, so asserting
    //      it here would let a regenerated dataset legitimately flip the
    //      gate red with no code bug — that bound is pinned on seeded
    //      fixed data in SketchProbeSpec instead.
    Q("ds02_countmin",
      (s, d) => {
        graft.expressions.VectorExpressions.registerAll(s)
        val li = Tables.lineitem(s, d)
        // eps=0.001 -> width 2000 counters; depth from confidence 0.999
        val sketch = li.agg(
          expr("count_min_sketch(l_suppkey, 0.001d, 0.999d, 42)").as("sk"))
        val exact = li.groupBy("l_suppkey")
          .agg(count(lit(1)).as("n_exact"))
        exact.crossJoin(broadcast(sketch))
          .select(col("l_suppkey"), col("n_exact"),
            call_function("cms_estimate", col("sk"), col("l_suppkey"))
              .as("est"))
          .select(col("l_suppkey"), col("n_exact"),
            (col("est") >= col("n_exact")).as("est_ge_exact"))
      },
      Some("""
        SELECT l_suppkey, COUNT(*) AS n_exact, TRUE AS est_ge_exact
        FROM lineitem GROUP BY l_suppkey""")),

    // ---- bloom semi-join reduction --------------------------------------
    //      lineitem is pre-filtered by a bloom filter over the urgent
    //      orders' keys BEFORE the exact semi join — the shuffle then
    //      carries probable matches only. No false negatives, so the
    //      composed result equals the plain semi join, which is exactly
    //      what the oracle checks (false positives are eliminated by the
    //      exact join; BloomReductionSpec pins the reduction itself).
    Q("ds03_bloom_prefilter",
      (s, d) => {
        val urgentKeys = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val reduced = graft.operators.JoinOps.bloomPreFilter(
          Tables.lineitem(s, d), "l_orderkey",
          urgentKeys, "o_orderkey",
          expectedItems = 1000000L, fpp = 0.03)
        reduced
          .join(urgentKeys, col("l_orderkey") === col("o_orderkey"),
            "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey
                      AND o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag""")),

    // ---- Misra-Gries heavy hitters over a skewed key -------------------
    //      the frequent-items sketch: one bounded map (capacity 16)
    //      instead of a full-cardinality groupBy — O(capacity) state per
    //      partition however many distinct keys flow through. The key is
    //      a deterministic Zipf-like transform of the lineitem keys
    //      (floor(M/u) of a uniform u: count(k) ~ N/(k(k+1)) — top key
    //      ~N/2, 127 distinct at sf0.01), so eviction genuinely happens
    //      (cardinality >> capacity) AND provable heavy hitters exist.
    //      Gate strategy (same discipline as ds02): WHICH near-floor keys
    //      the summary tracks depends on merge order, but MG's theorems
    //      are order-independent — every key with true count > N/capacity
    //      is guaranteed tracked, underestimated by at most N/capacity.
    //      The gate asserts exactly those invariants over the
    //      deterministic provably-heavy key set (integer arithmetic, no
    //      tolerance); HeavyHittersSpec pins exact summary contents on
    //      order-fixed input.
    Q("ds04_heavy_hitters",
      (s, d) => {
        graft.expressions.VectorExpressions.registerAll(s)
        val keyed = Tables.lineitem(s, d)
          // `div` (integer division), not `/` (double division on longs)
          .select(expr("4096L div (1L + pmod(l_orderkey * 48271L" +
            " + l_linenumber, 4096L))").as("key"))
        val sketch = keyed
          .agg(expr("mg_topk_agg(key, 16)").as("mg"), count(lit(1)).as("n"))
        val exact = keyed.groupBy("key").agg(count(lit(1)).as("n_exact"))
        exact.crossJoin(broadcast(sketch))
          .filter(col("n_exact") * 16 > col("n"))
          .select(col("key"), col("n_exact"),
            element_at(col("mg"), col("key")).as("est"), col("n"))
          .select(col("key"), col("n_exact"),
            (col("est").isNotNull && col("est") <= col("n_exact"))
              .as("est_le_exact"),
            (col("est").isNotNull &&
              (col("n_exact") - col("est")) * 16 <= col("n"))
              .as("within_band"))
      },
      Some("""
        WITH k AS (
          SELECT 4096 // (1 + (l_orderkey * 48271 + l_linenumber) % 4096)
            AS key
          FROM lineitem),
        tot AS (SELECT COUNT(*) AS n FROM k),
        c AS (SELECT key, COUNT(*) AS n_exact FROM k GROUP BY key)
        SELECT key, n_exact, TRUE AS est_le_exact, TRUE AS within_band
        FROM c, tot WHERE n_exact * 16 > tot.n""")),

    // ---- sketch warehouse: HLL bytes persisted + merged from parquet -----
    //      the daily-sketch-table pattern at full fidelity: per-month
    //      sketches land in a parquet table (binary column, KBs per row
    //      whatever the month's volume), a later query unions them for
    //      the all-time grain WITHOUT rescanning the facts. The gate
    //      invariant is deterministic: the parquet round trip is
    //      byte-preserving, so merging the sketches FROM DISK must give
    //      exactly the estimate of merging the same sketches in memory.
    //      (Estimates across DIFFERENT groupings are not comparable —
    //      sketches promote from exact set mode to dense registers at
    //      group-size-dependent points, measured 1500/1488/1492 for
    //      month/priority/one-shot at sf0.01 — so cross-grouping
    //      equality would be a false invariant.)
    Q("ds05_sketch_warehouse",
      (s, d) => {
        val out = graft.io.Scratch.dir("ds05", d).toString
        val orders = Tables.orders(s, d)
        val byMonth = orders
          .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
          .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
        byMonth.write.mode("overwrite").option("compression", "zstd")
          .parquet(out)
        val fromDisk = orders.sparkSession.read.parquet(out)
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("est_disk"))
        val inMemory = byMonth
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("est_mem"))
        val exact = orders
          .agg(countDistinct(col("o_custkey")).as("n_exact"))
        exact.crossJoin(fromDisk).crossJoin(inMemory)
          .select(col("n_exact"),
            (col("est_disk") === col("est_mem")).as("roundtrip_lossless"))
      },
      Some("""
        SELECT COUNT(DISTINCT o_custkey) AS n_exact,
          TRUE AS roundtrip_lossless
        FROM orders""")),

    // ---- approximate quantiles: the rank-error CONTRACT, gated ----------
    //      percentile_approx (GK sketch) is the telemetry quantile at any
    //      scale, but its merged result is only guaranteed within rank
    //      error N/accuracy — the exact VALUE can differ run to run with
    //      shuffle merge order, so the gate checks the guarantee itself,
    //      in INTERVAL form: the contract says SOME rank of the returned
    //      element lies within p*N ± N/accuracy, and a tied value spans
    //      ranks [count(x < v) + 1, count(x <= v)] — so the gate asserts
    //      that interval overlaps the target band (count(x < v) at or
    //      below p*N + err, count(x <= v) at or above p*N - err).
    //      Checking count(x <= v) alone can spuriously fail on heavily
    //      duplicated values whose max-rank overshoots purely from tie
    //      density. One pass for the sketch,
    //      one conditional-aggregate pass for the ranks (the 3-row
    //      quantile frame cross-joins in as a broadcast scalar table,
    //      never a driver collect). The oracle recomputes N exactly and
    //      asserts every flag TRUE — a sketch drifting past its
    //      contract turns the row red.
    Q("ds06_quantile_contract",
      (s, d) => {
        val acc = 10000
        val x = Tables.lineitem(s, d)
          .select(col("l_extendedprice").cast("double").as("x"))
        val qs = x.agg(expr(
          s"percentile_approx(x, array(0.5D, 0.9D, 0.99D), $acc)").as("q"))
          .select(posexplode(col("q")).as(Seq("i", "v")))
          .select(
            element_at(array(lit(0.5), lit(0.9), lit(0.99)),
              col("i").cast("int") + 1).as("p"),
            col("v"))
        x.crossJoin(qs)
          .groupBy(col("p"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("x") < col("v"), 1L).otherwise(0L)).as("rank_lt"),
            sum(when(col("x") <= col("v"), 1L).otherwise(0L)).as("rank_le"))
          .select(col("p"), col("n_rows"),
            (col("rank_lt") <= col("p") * col("n_rows") +
              col("n_rows").cast("double") / acc + 1 &&
             col("rank_le") >= col("p") * col("n_rows") -
              col("n_rows").cast("double") / acc - 1).as("within_rank_err"))
      },
      Some("""
        SELECT CAST(p AS DOUBLE) AS p,
          (SELECT COUNT(*) FROM lineitem) AS n_rows,
          TRUE AS within_rank_err
        FROM (VALUES (0.5), (0.9), (0.99)) t(p)""")),

    // ---- HLL set algebra: intersection by inclusion-exclusion -----------
    //      HLL sketches merge losslessly under UNION but have no native
    //      intersection — the standard workaround is |A∩B| ≈ est(A) +
    //      est(B) - est(A∪B), with error that compounds (three estimate
    //      errors land on the intersection, amplified by union/inter).
    //      The operator gates exactly that contract: urgent-priority vs
    //      high-priority customer sets, each sketched in ONE pass, the
    //      union merged sketch-to-sketch WITHOUT re-reading orders.
    //      Exact counts ride along (the oracle recomputes them); the
    //      singles get the 5% band, the derived intersection a 10% band
    //      — on fixed input HLL is deterministic, so the flags are
    //      stable, and a sketch drifting past its contract turns the
    //      row red.
    Q("ds07_hll_intersection",
      (s, d) => {
        val o = Tables.orders(s, d)
        def side(p: String) = o.filter(col("o_orderpriority") === p)
          .select(col("o_custkey").as("k"))
        val a = side("1-URGENT")
        val b = side("2-HIGH")
        val sk = a.agg(expr("hll_sketch_agg(k)").as("ska"))
          .crossJoin(b.agg(expr("hll_sketch_agg(k)").as("skb")))
          .select(expr("hll_sketch_estimate(ska)").as("ea"),
            expr("hll_sketch_estimate(skb)").as("eb"),
            expr("hll_sketch_estimate(hll_union(ska, skb))").as("eu"))
        val exact = a.distinct().unionByName(b.distinct()).distinct()
          .agg(count(lit(1)).as("n_union"))
          .crossJoin(a.agg(countDistinct(col("k")).as("n_a")))
          .crossJoin(b.agg(countDistinct(col("k")).as("n_b")))
        exact.crossJoin(sk)
          .select(col("n_a"), col("n_b"), col("n_union"),
            (col("n_a") + col("n_b") - col("n_union")).as("n_inter"),
            (abs(col("ea") - col("n_a")) <=
              col("n_a").cast("double") * 0.05).as("a_within_5pct"),
            (abs(col("eb") - col("n_b")) <=
              col("n_b").cast("double") * 0.05).as("b_within_5pct"),
            (abs(col("eu") - col("n_union")) <=
              col("n_union").cast("double") * 0.05).as("union_within_5pct"),
            (abs(col("ea") + col("eb") - col("eu") -
              (col("n_a") + col("n_b") - col("n_union"))) <=
              (col("n_a") + col("n_b") - col("n_union")).cast("double") * 0.10)
              .as("inter_within_10pct"))
      },
      Some("""
        WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
                   WHERE o_orderpriority = '1-URGENT'),
        b AS (SELECT DISTINCT o_custkey AS k FROM orders
              WHERE o_orderpriority = '2-HIGH'),
        u AS (SELECT k FROM a UNION SELECT k FROM b)
        SELECT (SELECT COUNT(*) FROM a) AS n_a,
          (SELECT COUNT(*) FROM b) AS n_b,
          (SELECT COUNT(*) FROM u) AS n_union,
          (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
            - (SELECT COUNT(*) FROM u) AS n_inter,
          TRUE AS a_within_5pct, TRUE AS b_within_5pct,
          TRUE AS union_within_5pct, TRUE AS inter_within_10pct""")),

    // ---- join-cardinality estimation from CM sketches -------------------
    //      the CM inner-product estimator (Cormode-Muthukrishnan 2005
    //      §4.2): |A ⋈ B| ≈ min_d Σ_w tableA[d][w]·tableB[d][w] — two
    //      KB-sized sketches size a join that would otherwise cost the
    //      full shuffle, the input a planner needs for broadcast/
    //      pre-filter decisions. Two gates: the l_suppkey SELF-join size
    //      (= the second frequency moment Σ c(k)², the classic F2
    //      estimate) and the lineitem ⋈ orders key join. Gate strategy
    //      (the ds02 discipline): the ESTIMATE is sketch-internal, but
    //      its theorems are not — one-sided (est >= exact, collisions
    //      only add) and within eps·|A|·|B| at the sketch's confidence;
    //      both flags are asserted over the exactly-computed truth.
    Q("ds08_join_size_estimate",
      (s, d) => {
        graft.expressions.VectorExpressions.registerAll(s)
        val li = Tables.lineitem(s, d)
        val or = Tables.orders(s, d)
        val skSupp = li.agg(
          expr("count_min_sketch(l_suppkey, 0.001d, 0.999d, 42)").as("ska"),
          count(lit(1)).as("na"))
        val skOrdL = li.agg(
          expr("count_min_sketch(l_orderkey, 0.001d, 0.999d, 42)").as("ska"),
          count(lit(1)).as("na"))
        val skOrdO = or.agg(
          expr("count_min_sketch(o_orderkey, 0.001d, 0.999d, 42)").as("skb"),
          count(lit(1)).as("nb"))
        val f2Exact = li.groupBy("l_suppkey").agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * col("n")).as("exact_size"))
        val joinExact = li
          .join(or, col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("exact_size"))
        val self = f2Exact.crossJoin(broadcast(skSupp))
          .select(lit("selfjoin_l_suppkey").as("join_key"),
            col("exact_size"),
            call_function("cms_inner_product", col("ska"), col("ska"))
              .as("est"),
            (col("na") * col("na")).as("nn"))
        val cross = joinExact
          .crossJoin(broadcast(skOrdL)).crossJoin(broadcast(skOrdO))
          .select(lit("lineitem_join_orders").as("join_key"),
            col("exact_size"),
            call_function("cms_inner_product", col("ska"), col("skb"))
              .as("est"),
            (col("na") * col("nb")).as("nn"))
        self.unionByName(cross)
          .select(col("join_key"), col("exact_size"),
            (col("est") >= col("exact_size")).as("est_ge_exact"),
            ((col("est") - col("exact_size")).cast("double") <=
              lit(0.001) * col("nn").cast("double")).as("est_within_band"))
      },
      Some("""
        SELECT 'selfjoin_l_suppkey' AS join_key,
          CAST(SUM(n * n) AS BIGINT) AS exact_size,
          TRUE AS est_ge_exact, TRUE AS est_within_band
        FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_suppkey)
        UNION ALL
        SELECT 'lineitem_join_orders',
          (SELECT COUNT(*) FROM lineitem JOIN orders
             ON l_orderkey = o_orderkey),
          TRUE, TRUE""")),

    // ---- cross-corpus overlap from per-source MinHash signatures --------
    //      the dedup PLANNING primitive: before running cross-corpus
    //      dedup at 100 TB you estimate HOW MUCH two sources overlap —
    //      one KB-sized MinHash signature per source (Broder 1997:
    //      matching-coordinate fraction estimates Jaccard), built in ONE
    //      pass by the native minhash_agg TypedImperativeAggregate (its
    //      documented sweet spot: few groups, wide k), then an all-pairs
    //      compare of ~20 signatures — a broadcast cross of a provably
    //      tiny frame. The exact side re-joins the gram sets pair-wise
    //      (gram strings, collision-free) as ground truth; at production
    //      scale you'd ship ONLY the sketches. Items are the sources'
    //      distinct word-3-gram sets over the portable md5-based 31-bit
    //      gram id (the d20 convention, replayable in any engine);
    //      output is integer-only (matches of k=64, exact set sizes).
    Q("ds09_source_overlap",
      (s, d) => {
        import graft.functions.TextFunctions.{tokens, wordNgrams}
        graft.expressions.VectorExpressions.registerAll(s)
        val k = 64
        val mm = graft.expressions.MinHashAgg.M
        // persisted: feeds both the signature agg and the exact-overlap
        // self-join. Cache lifecycle is caller-owned (the DedupOps
        // contract): Bench/Verify clearCache() after every query action.
        val gsets = Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("source"), explode(wordNgrams("toks", 3)).as("g"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sigs = gsets
          .withColumn("gid", expr(
            "CAST(conv(substring(md5(CAST(g AS BINARY)), 1, 15), 16, 10) " +
              s"AS BIGINT) % $mm"))
          .groupBy(col("source"))
          .agg(expr(s"minhash_agg(gid, $k)").as("sig"),
            count(lit(1)).as("n_set"))
        val exact = gsets.as("x")
          .join(gsets.as("y"),
            col("x.g") === col("y.g") && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
          .agg(count(lit(1)).as("n_common"))
        val pairs = sigs.as("a")
          .join(sigs.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
            col("a.n_set").as("n_a"), col("b.n_set").as("n_b"),
            expr("CAST(size(filter(zip_with(a.sig, b.sig, " +
              "(x, y) -> x = y), m -> m)) AS BIGINT)").as("est_matches"))
        val out = pairs.join(exact, Seq("src_a", "src_b"), "left")
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            coalesce(col("n_common"), lit(0L)).as("n_common"),
            col("est_matches"))
        out
      },
      Some {
        val k = 64
        val mm = graft.expressions.MinHashAgg.M
        val (has, hbs) = graft.expressions.MinHashAgg.hashFamily(k)
        val sigCols = (0 until k).map(i =>
          s"MIN((${has(i)} * gid + ${hbs(i)}) % $mm) AS s$i")
          .mkString(",\n                 ")
        val matchSum = (0 until k).map(i =>
          s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""
        WITH t AS (SELECT source, string_split_regex(trim(text), ' +') toks
                   FROM documents),
        gs AS (SELECT DISTINCT source, unnest(list_transform(
                 range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
               FROM t),
        gi AS (SELECT source, g,
                 CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % $mm
                   AS gid
               FROM gs),
        sig AS (SELECT source, COUNT(*) AS n_set,
                 $sigCols
                FROM gi GROUP BY source),
        ex AS (SELECT x.source AS src_a, y.source AS src_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
               FROM gs x JOIN gs y
                 ON x.g = y.g AND x.source < y.source
               GROUP BY 1, 2)
        SELECT a.source AS src_a, b.source AS src_b,
          CAST(a.n_set AS BIGINT) AS n_a, CAST(b.n_set AS BIGINT) AS n_b,
          COALESCE(ex.n_common, CAST(0 AS BIGINT)) AS n_common,
          CAST($matchSum AS BIGINT) AS est_matches
        FROM sig a JOIN sig b ON a.source < b.source
        LEFT JOIN ex ON ex.src_a = a.source AND ex.src_b = b.source"""
      })
  )
}
