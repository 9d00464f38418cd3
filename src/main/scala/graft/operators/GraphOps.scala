package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics as pure DataFrame programs — PageRank,
  * degree-oriented triangle counting, and bounded BFS. These are the
  * graph-shaped jobs a training-data pipeline runs over entity/link
  * structure (source-domain link graphs, co-occurrence graphs), expressed
  * so Catalyst keeps every step a declarative join + keyed aggregation:
  * no driver-side adjacency structures, no RDD drops.
  *
  * Scale notes (the shapes that survive 100 TB):
  *  - Each PageRank iteration is ONE shuffle join (ranks × adjacency on
  *    src) + ONE keyed aggregation (contributions by dst). The adjacency
  *    frame (edges + out-degree) is persisted once and reused across all
  *    iterations; rank frames are O(|V|) and flow through the shuffle.
  *    On a cluster, pre-partitioning adjacency by src makes the per-round
  *    join a co-located zero-exchange probe.
  *  - Triangle counting uses the degree-orientation trick (Cohen 2009;
  *    also Suri & Vassilvitskii's MapReduce variant): orienting every
  *    edge from its (degree, id)-smaller endpoint to the larger caps the
  *    effective out-degree at O(sqrt(|E|)), so the wedge join generates
  *    O(|E|^1.5) candidates instead of sum(deg^2) — the difference
  *    between feasible and explosive on skewed power-law graphs.
  *  - BFS keeps a persisted visited set and joins only the FRONTIER
  *    (newly discovered nodes) against adjacency each round — work per
  *    round is O(edges out of frontier), not O(|V|).
  *
  * Determinism discipline (same as Clustering): per-node contribution
  * sums go through exact DECIMAL arithmetic so aggregation order cannot
  * perturb the result, and iteration counts are FIXED so the DuckDB
  * oracle can replay the computation as a CTE chain bit-for-bit.
  */
object GraphOps {

  /** Rank-frame lineage truncation period: each PageRank iteration
    * chains one join + one aggregation onto the previous plan, so at
    * high iteration counts Catalyst re-analysis compounds (the trap the
    * CC scaladoc below documents). Every CkptEvery rounds the rank
    * frame is localCheckpoint'ed — a no-op below 8 iterations, O(1)
    * plan size above. Checkpoint materializes the same values, so gate
    * numbers are unchanged at any iteration count. */
  private val CkptEvery = 8

  /** Opt-in conf for the durability trade every iterative operator here
    * makes: lineage is cut with `localCheckpoint`, whose blocks live on
    * executors WITHOUT lineage — fast and right for local mode and
    * re-runnable batch, but on a real cluster an executor lost mid-query
    * fails the job instead of recomputing. Set this to `true` (and call
    * `sparkContext.setCheckpointDir` to a fault-tolerant location) and
    * every lineage cut goes through the reliable `checkpoint` path
    * instead — same values, same truncation, survives executor loss on
    * multi-hour 100 TB runs / preemptible fleets. */
  val ReliableCheckpointConf = "spark.graft.graph.reliableCheckpoint"

  /** lineage cut honoring [[ReliableCheckpointConf]]; `eager` keeps each
    * call site's existing materialization semantics (lazy cuts ride the
    * next action, eager cuts materialize now). */
  private def cut(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.conf
          .getOption(ReliableCheckpointConf).exists(_.toBoolean))
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** chaining sugar so iterative loops read like the localCheckpoint
    * rotation they implement while honoring [[ReliableCheckpointConf]] */
  private implicit class LineageCut(df: DataFrame) {
    def lineageCut(eager: Boolean): DataFrame = cut(df, eager)
  }

  private def truncateEvery(i: Int, iters: Int, df: DataFrame): DataFrame =
    if (i % CkptEvery == 0 && i < iters) cut(df, eager = true) else df

  /** Fixed-iteration PageRank over a directed edge list (src, dst).
    *
    * Callers must pass a graph where every node has at least one
    * out-edge (e.g. a bidirectionalized undirected graph) — dangling
    * mass is then zero and the per-iteration update is exactly
    *   r'(n) = teleport/N + damping * sum_{m->n} r(m)/outdeg(m).
    * For general directed graphs with sinks/sources use
    * [[pageRankDangling]], which redistributes dangling mass.
    *
    * `teleport` is taken explicitly rather than computed as 1-damping:
    * 1.0 - 0.85 is 0.15000000000000002 in IEEE double, which would
    * silently diverge from an oracle writing the literal 0.15.
    */
  def pageRank(edges: DataFrame, iters: Int,
               damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    require(iters >= 1)
    import org.apache.spark.sql.expressions.Window
    // ONE persisted frame: adjacency with the out-degree attached via a
    // src-keyed window — a single shuffle, versus the earlier
    // materialize-edges + groupBy-degrees + join-back pipeline (three
    // cached frames, two extra passes over the edge set per bench run)
    val adj = edges.select(col("src"), col("dst"))
      .withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // |V| as a driver-side scalar (same one-row-action lifecycle as
    // JoinOps.bloomPreFilter's .head()): folding it in as a literal
    // keeps the per-iteration plan free of the node-count broadcast
    // join the earlier shape re-planned every round
    val n = adj.agg(countDistinct(col("src"))).head().getLong(0)
    // 1.0/n, teleport/n are single IEEE divisions — identical values to
    // the oracle's CAST(x AS DOUBLE) / n
    val r0 = adj.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1.0 / n).as("rank"))
    (1 to iters).foldLeft(r0) { (r, i) =>
      val next = adj.join(r, col("src") === col("id"))
        // double division is deterministic (both operands exact on both
        // engines); the SUM quantizes to 1e-15 fixed-point BIGINT via
        // floor(x*1e15 + 0.5) so it is shuffle-order-independent AND
        // cross-engine portable — a double->DECIMAL cast here would rest
        // on the JVM (shortest-rendering) and DuckDB (binary-expansion)
        // rounding the same way for every value the fixture ever
        // produces, the assumption that broke g07 (see pageRankDangling).
        // Ranks are < 1 and degree <= |V|, so the scaled units stay far
        // under 2^53 and the final /1e15 is exact on both engines.
        .select(col("dst"),
          floor(col("rank") / col("outdeg") * lit(1e15) + lit(0.5)).as("c"))
        .groupBy(col("dst"))
        .agg((sum(col("c")) / lit(1e15)).as("m"))
        .select(col("dst").as("id"),
          (lit(teleport / n) + lit(damping) * col("m")).as("rank"))
      truncateEvery(i, iters, next)
    }
  }

  /** PageRank for GENERAL directed graphs — sinks (no out-edges) and
    * sources (no in-edges) included. Per round the aggregate mass
    * sitting on dangling nodes is redistributed uniformly:
    *   r'(n) = teleport/N + damping * (sum_{m->n} r(m)/outdeg(m) + DM/N)
    * with DM = sum of ranks of nodes without out-edges — the standard
    * correction (Page et al. 1999); without it a graph with sinks leaks
    * mass every round and ranks drift toward the teleport floor.
    *
    * Shape per round: the same ONE shuffle join + ONE keyed decimal
    * aggregation as [[pageRank]], plus (a) a one-row decimal-exact DM
    * aggregate cross-joined in (broadcast of a scalar — the
    * bloomPreFilter lifecycle, never a driver collect inside the loop)
    * and (b) a left join from the persisted node set so in-edge-less
    * nodes keep a rank row. Sums quantize to 1e-15 fixed-point BIGINT
    * (see the loop comment) so they are shuffle-order-independent AND
    * portable: the oracle replays the identical IEEE/integer expression
    * tree and fixed-iteration runs match bit-for-bit.
    */
  def pageRankDangling(edges: DataFrame, iters: Int,
                       damping: Double = 0.85,
                       teleport: Double = 0.15): DataFrame = {
    require(iters >= 1)
    import org.apache.spark.sql.expressions.Window
    val adj = edges.select(col("src"), col("dst"))
      .withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = adj.select(col("src").as("id"))
      .union(adj.select(col("dst").as("id"))).distinct()
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dangling = nodes
      .join(adj.select(col("src").as("id")), Seq("id"), "left_anti")
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    val r0 = nodes.select(col("id"), lit(1.0 / n).as("rank"))
    (1 to iters).foldLeft(r0) { (r, i) =>
      // per-round quantization to 1e-15 via floor(x*1e15 + 0.5) into
      // BIGINT: (a) the long sum is shuffle-order-independent, (b) every
      // op in the quantizer is IEEE double or integer arithmetic, which
      // independent engines reproduce bit-for-bit. A double→DECIMAL cast
      // here would NOT be portable: the JVM rounds the double's shortest
      // decimal rendering (BigDecimal.valueOf) while DuckDB rounds the
      // full binary expansion, and the per-round disagreement compounds
      // (observed as a 7e-13 relative drift by iteration 3 on g07).
      val contrib = adj.join(r, col("src") === col("id"))
        .select(col("dst"),
          floor(col("rank") / col("outdeg") * lit(1e15) + lit(0.5)).as("c"))
        .groupBy(col("dst"))
        .agg((sum(col("c")) / lit(1e15)).as("m"))
      val dm = r.join(dangling, Seq("id"), "left_semi")
        .agg(coalesce(
          sum(floor(col("rank") * lit(1e15) + lit(0.5))) / lit(1e15),
          lit(0.0)).as("dm"))
      val next = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .crossJoin(dm)
        .select(nodes("id"),
          (lit(teleport / n) + lit(damping) *
            (coalesce(col("m"), lit(0.0)) + col("dm") / lit(n))).as("rank"))
      truncateEvery(i, iters, next)
    }
  }

  /** Personalized PageRank (Page et al. 1999 §6; the seed-restart
    * variant behind domain-trust propagation in crawl curation): the
    * teleport mass — and each round's dangling mass, same convention —
    * returns to the SEED SET uniformly instead of to all nodes:
    *   r'(n) = teleport·s(n) + damping·(Σ_{m→n} r(m)/outdeg(m) + DM·s(n))
    * with s(n) = 1/|S| for seeds, 0 otherwise, and r0 = s. Ranks then
    * measure proximity to the seeds, not global centrality.
    *
    * Same per-round shape and 1e-15 fixed-point portability discipline
    * as [[pageRankDangling]] (one shuffle join + one keyed quantized
    * aggregation + a one-row DM aggregate); the seed flag rides the
    * persisted node frame as a broadcast-joined column. Seeds are
    * intersected with the graph's nodes (absent ids are ignored);
    * requires a non-empty intersection. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           damping: Double = 0.85,
                           teleport: Double = 0.15): DataFrame = {
    require(iters >= 1)
    import org.apache.spark.sql.expressions.Window
    val adj = edges.select(col("src"), col("dst"))
      .withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = adj.select(col("src").as("id"))
      .union(adj.select(col("dst").as("id"))).distinct()
    val dangling = nodes
      .join(adj.select(col("src").as("id")), Seq("id"), "left_anti")
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val flagged = nodes
      .join(seeds.select(col("id")).distinct().withColumn("s", lit(1)),
        Seq("id"), "left")
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sN = flagged.filter(col("s").isNotNull).count()
    require(sN > 0, "seed set must intersect the graph's nodes")
    val r0 = flagged.select(col("id"),
      when(col("s").isNotNull, lit(1.0 / sN)).otherwise(lit(0.0))
        .as("rank"))
    (1 to iters).foldLeft(r0) { (r, i) =>
      val contrib = adj.join(r, col("src") === col("id"))
        .select(col("dst"),
          floor(col("rank") / col("outdeg") * lit(1e15) + lit(0.5)).as("c"))
        .groupBy(col("dst"))
        .agg((sum(col("c")) / lit(1e15)).as("m"))
      val dm = r.join(dangling, Seq("id"), "left_semi")
        .agg(coalesce(
          sum(floor(col("rank") * lit(1e15) + lit(0.5))) / lit(1e15),
          lit(0.0)).as("dm"))
      val next = flagged
        .join(contrib, flagged("id") === contrib("dst"), "left")
        .crossJoin(dm)
        .select(flagged("id"),
          (when(col("s").isNotNull, lit(teleport / sN)).otherwise(lit(0.0))
            + lit(damping) * (coalesce(col("m"), lit(0.0)) +
              when(col("s").isNotNull, col("dm") / lit(sN.toDouble))
                .otherwise(lit(0.0)))).as("rank"))
      truncateEvery(i, iters, next)
    }
  }

  /** Triangle census of an undirected graph given as canonical edges
    * (u < v, deduplicated). Returns one row:
    * (n_nodes, n_edges, n_wedges, n_triangles, global_clustering).
    *
    * Orientation: every edge points from its (degree, id)-smaller
    * endpoint to the larger, a total order, so each triangle a<b<c is
    * generated exactly once as the wedge (a->b, a->c) closed by b->c.
    * Wedge candidates are bounded by the ORIENTED out-degree (<=
    * O(sqrt(|E|)) per node), not the raw degree — the skew-proof shape.
    */
  def triangleStats(und: DataFrame): DataFrame = {
    // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
    val e = und.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val du = deg.select(col("id").as("u"), col("deg").as("du"))
    val dv = deg.select(col("id").as("v"), col("deg").as("dv"))
    val fwd = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    // oriented edge + the (deg, id) sort key of its head, so the wedge
    // join can order the two heads without re-joining degrees
    val oriented = e.join(du, "u").join(dv, "v")
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"),
        when(fwd, struct(col("dv").as("kd"), col("v").as("ki")))
          .otherwise(struct(col("du").as("kd"), col("u").as("ki")))
          .as("dkey"))
      // NOT src-repartitioned before the cache: measured in r19 — the
      // wedge self-join's two sides are the same cached frame, so
      // ReuseExchange already computes their exchange once, and the
      // explicit repartition bought zero bytes/exchanges (13.0→13.1 MB,
      // 8→8) while costing a cache-materialization barrier.
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dkey") < col("o2.dkey"))
      .select(col("o1.dst").as("b"), col("o2.dst").as("c"))
    val triangles = wedges.join(oriented.as("e3"),
      col("b") === col("e3.src") && col("c") === col("e3.dst"), "left_semi")

    val nodesRow = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("deg") * (col("deg") - 1)) / lit(2)).cast("long").as("n_wedges"))
    val edgesRow = e.agg(count(lit(1)).as("n_edges"))
    val triRow = triangles.agg(count(lit(1)).as("n_triangles"))
    nodesRow.crossJoin(edgesRow).crossJoin(triRow)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        (lit(3.0) * col("n_triangles") / col("n_wedges"))
          .as("global_clustering"))
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the log-round algorithm that replaces naive min-label
    * propagation on high-diameter graphs: propagation needs
    * diameter-many rounds (a 1M-node chain = 1M rounds), star
    * contraction converges in O(log n) regardless of diameter.
    *
    * Each round is two groupBy-join passes over the current edge set:
    *  - large-star: every node u computes m = min(u, Γ(u)) and rewires
    *    its STRICTLY LARGER neighbors to m;
    *  - small-star: every node rewires its smaller-or-equal neighbors
    *    (and itself) to the minimum of that set.
    * The edge set monotonically contracts toward a union of stars
    * centered at component minima; convergence is detected by an exact
    * (count, decimal hash-sum) signature — one tiny action per round.
    *
    * Each round's result is EAGERLY localCheckpoint'ed, not persisted:
    * a persisted frame keeps its full logical lineage, and since each
    * star step references its input several times (adjacency union +
    * degree join), plan size would grow ~10x per round — Catalyst
    * re-analysis goes exponential long before execution is the
    * bottleneck (the classic iterative-DataFrame trap; GraphFrames
    * checkpoints for the same reason). localCheckpoint truncates the
    * plan at a materialized RDD each round, keeping analysis O(1) per
    * round; superseded round blocks are reclaimed by the ContextCleaner.
    * A multi-hour production run on preemptible executors would use
    * reliable `checkpoint()` (HDFS/object store) instead — same
    * truncation, survives executor loss.
    *
    * Input: undirected edges (u, v); self-loops and duplicates are
    * canonicalized away. Output: (id, component) for every endpoint,
    * component = the minimum node id reachable (deterministic).
    */
  def connectedComponents(und: DataFrame, maxRounds: Int = 30): DataFrame =
    ccWithRounds(und, maxRounds)._1

  private[graft] def ccWithRounds(und: DataFrame,
      maxRounds: Int): (DataFrame, Int) = {
    // largeStar emits a MULTISET on purpose (round-17): its output is
    // at most one row per (a, b) adjacency pair with b > a — never
    // more than |e| rows — and smallStar is duplicate-insensitive
    // end-to-end (groupBy-min, an equi-join that emits one row per
    // probe row, and a final distinct), so the intermediate
    // (u, v)-distinct bought nothing but a full extra exchange +
    // dedup per round. Dropping it cuts the per-round exchange count
    // 4 -> 3 (adj-on-a and down-on-a are each ReuseExchange'd across
    // their two consumers; the only remaining shuffle is smallStar's
    // closing distinct). Note u > v holds for every emitted row
    // (b > a >= m), so no row can be a self-loop either.
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val m = adj.groupBy("a").agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      adj.join(m, "a").filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val down = e.select(greatest(col("u"), col("v")).as("a"),
        least(col("u"), col("v")).as("b"))
      val m = down.groupBy("a").agg(min(col("b")).as("m"))
      down.join(m, "a")
        .select(col("b").as("u"), col("m").as("v"))
        .union(m.select(col("a").as("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    // exact edge-set signature: equal sets give equal signatures, and the
    // decimal sum of per-edge hashes makes a collision across DIFFERENT
    // sets vanishingly unlikely (and a miss only costs one extra round)
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect().head
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO
                     else r.getDecimal(1))
    }
    // LAZY localCheckpoints: lineage truncation (the LogicalRDD swap
    // that keeps Catalyst analysis O(1) per round — load-bearing here,
    // since each star step references its input several times and plan
    // size would otherwise grow ~10x/round) happens at Dataset
    // construction either way; with eager=false the materialization
    // rides the signature action that runs every round anyway, instead
    // of a separate eager pass — one materialization per round, not two.
    //
    // PER-ROUND materialization is itself load-bearing, not just the
    // truncation: the round-11 probe ran 2 and 3 star-rounds per
    // signature/checkpoint (the g01 CkptEvery idea) and wall time went
    // 2.6 s -> 4.8 s -> ~50 s at sf0.1, because the unmaterialized
    // first round's subtree is referenced by the second round's
    // adjacency union AND degree join and re-executes per reference —
    // the recompute blowup compounds exponentially with stride. Do not
    // batch rounds here; the fixed-rank loops (g01) can batch because
    // each iteration references its input once.
    var e = und.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct().lineageCut(eager = false)
    val nodes = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct()
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var sig = signature(e)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(e)).lineageCut(eager = false)
      val nextSig = signature(next)
      e = next
      converged = nextSig == sig
      sig = nextSig
      rounds += 1
    }
    // converged edge set is a union of stars (u -> component root);
    // nodes absent from it are their own singleton components
    val labels = nodes
      .join(e.select(col("u").as("id"), col("v").as("comp")), Seq("id"),
        "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
    (labels, rounds)
  }

  /** Incremental connected components — the d13 incremental-dedup story
    * for graphs: given the labels of an already-contracted base graph
    * and a NEW batch of undirected edges, recompute labels touching
    * only the components the batch connects, never re-contracting the
    * base graph.
    *
    * Each new edge (u, v) is projected to the COMPONENT level
    * (label(u), label(v)) — endpoints unseen by the base labeling stand
    * for themselves — and star contraction runs on that component graph
    * alone: O(|batch|) nodes however large the base graph is. The
    * resulting super-labels map each touched base component to the
    * minimum id across its merged group, and since base labels are
    * already component minima, min-of-mins = the global minimum — the
    * same deterministic label a full recompute produces (the property
    * the g08 gate checks oracle-side).
    *
    * Cost shape at 100 TB: one broadcast-or-shuffle join of the batch
    * against the base label map, a star contraction over the tiny
    * component graph, and one join of the base labels against the
    * (small) super-label map — versus a full log-round contraction over
    * the entire edge set. Edge DELETION is out of scope (it can split
    * components, which needs re-contraction of the affected component's
    * full edge set). */
  def incrementalComponents(baseLabels: DataFrame,
                            newEdges: DataFrame): DataFrame = {
    val base = baseLabels.select(col("id"), col("component"))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ends = newEdges.select(col("u"), col("v"))
    val lu = base.select(col("id").as("u"), col("component").as("cu"))
    val lv = base.select(col("id").as("v"), col("component").as("cv"))
    val compEdges = ends
      .join(lu, Seq("u"), "left")
      .join(lv, Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("u"),
        coalesce(col("cv"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val supers = connectedComponents(compEdges)
      .select(col("id").as("comp"), col("component").as("super"))
    // batch endpoints the base labeling never saw are their own
    // components until the super-label join relabels them
    val fresh = ends.select(col("u").as("id"))
      .union(ends.select(col("v").as("id"))).distinct()
      .join(base.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    base.unionByName(fresh)
      .join(supers, col("component") === col("comp"), "left")
      .select(col("id"),
        coalesce(col("super"), col("component")).as("component"))
  }

  /** Bounded Bellman-Ford single-source shortest paths over a WEIGHTED
    * directed edge list (src, dst, w): `rounds` full relaxation sweeps
    * from `start`, so the result is exact for every path of <= `rounds`
    * edges (classic Bellman-Ford; Cormen et al. ch. 24). Distances stay
    * integral when weights are integral, making the fixed-round replay
    * bit-exact for an independent engine.
    *
    * Per round: one shuffle join (settled frontier x adjacency) + one
    * keyed min — min() is order-free, so no tie-break subtleties. The
    * round count is FIXED (deterministic replay), not convergence-
    * gated; at 100 TB the per-round cost is |settled ⋈ edges| keyed by
    * dst, and the localCheckpoint rotation keeps lineage O(1) deep
    * exactly as bfsHops/connectedComponents do.
    *
    * Cache contract: the edge frame is persisted MEMORY_AND_DISK here
    * and — because the lazy-checkpoint design defers all work to the
    * caller's action — is OWNED BY THE CALLER (the same contract as
    * [[DedupOps.containmentPairs]]): run your action while it is live,
    * then `spark.catalog.clearCache()` (Bench/Verify do) or unpersist
    * it; repeated library calls without either will accumulate one
    * pinned cached frame per invocation. */
  def boundedSssp(edges: DataFrame, start: Long, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // hash-partitioned by the per-round join key ONCE (§2.4): each
    // round joins settled × edges on src, but a lineage cut erases
    // partitioning metadata (LogicalRDD reports UnknownPartitioning
    // under AQE), so an unpartitioned cache re-exchanges the FULL edge
    // frame every round — even when AQE later converts the join to a
    // broadcast, the edge side's shuffle map stage has already written
    // its output (measured at sf0.1: 15 MB/round written, ~60 MB over
    // 5 rounds; 0.3-3.4 MB/round with the src-keyed cache)
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession
    import spark.implicits._
    // LAZY localCheckpoints: each round still truncates lineage to a
    // LogicalRDD at construction (dist is referenced twice per round,
    // so analysis would compound without it), but nothing materializes
    // until the CALLER's action — the whole fixed-round sweep runs as
    // one job with per-round results cached along the way, instead of
    // `rounds` eager driver-synchronized jobs. The edge cache is
    // therefore caller-owned (the DedupOps cache contract): it must
    // stay live for that action, and Bench/Verify clear it between
    // queries.
    var dist = Seq((start, 0L)).toDF("id", "dist").lineageCut(eager = false)
    for (_ <- 0 until rounds) {
      val relaxed = dist.join(e, col("id") === col("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relaxed)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .lineageCut(eager = false)
    }
    dist
  }

  /** Min-hop BFS from `start` over a directed edge list, bounded at
    * `maxHops`. Returns (id, hop) with hop = first-discovery distance.
    * Each round joins only the new frontier against adjacency and
    * anti-joins the visited set — never re-expands settled nodes.
    *
    * Cache/lineage hygiene (the labelPropagation rotation, per round):
    * frontier and visited advance through EAGER localCheckpoints, so
    * the live frame set is O(1) regardless of depth (superseded
    * checkpoint RDD blocks are reclaimed by the ContextCleaner, the
    * same lifecycle as connectedComponents' rounds) and the returned
    * frame's plan is a single RDD scan — not the H-deep union chain the
    * old persist-only loop accumulated (~2H pinned frames at hop H,
    * re-analyzed every round). An empty frontier exits early: a
    * diameter-d component costs d rounds even when maxHops is large. */
  def bfsHops(edges: DataFrame, start: Long, maxHops: Int): DataFrame = {
    // cache lifecycle: scoped to this call — unpersisted below.
    // src-keyed partitioning for the same reason as [[boundedSssp]]:
    // every round's frontier join keys on src, and the per-round
    // frames are lineage-cut (UnknownPartitioning), so only the cache
    // layout can spare the edge frame a re-exchange per hop
    val e = edges.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession
    import spark.implicits._
    var visited = Seq((start, 0L)).toDF("id", "hop").lineageCut(eager = true)
    var frontier = visited.select("id")
    var hop = 1
    var exhausted = false
    while (hop <= maxHops && !exhausted) {
      val next = frontier.join(e, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .select(col("id"), lit(hop.toLong).as("hop"))
        .lineageCut(eager = true)
      if (next.isEmpty) exhausted = true
      else {
        visited = visited.union(next).lineageCut(eager = true)
        frontier = next.select("id")
      }
      hop += 1
    }
    e.unpersist()
    visited
  }

  /** Synchronous label propagation (community detection), `rounds` fixed
    * iterations from identity labels. Each node adopts the label that is
    * most frequent among its in-neighbors, ties broken by SMALLEST label
    * — the (count desc, label asc) argmax is a total order, so every
    * round is deterministic and an independent engine can replay it
    * exactly. Per round: one shuffle join (labels × edges on src) + one
    * keyed count + one argmax aggregation — the same two-shuffle shape
    * as a PageRank step; the argmax is max(struct(count, -label)), an
    * aggregate, never a per-dst sort. Nodes need an in-edge to receive
    * votes: feed an undirected graph as both edge directions. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    // LAZY localCheckpoint rotation (the kcorePeel/boundedSssp shape,
    // r18): each round references its input label frame exactly ONCE
    // (the join), so the whole fixed-round propagation can run as a
    // single caller-driven job with per-round frames cached as they are
    // first computed — replacing the old eager persist + count() per
    // round, which paid one full driver-synchronized job per round just
    // to materialize state the next round would re-shuffle anyway.
    // Lineage still truncates per round (labels is consumed by a
    // self-referencing loop), and callers that read the result several
    // times (g14's three label joins) scan the checkpointed RDD.
    // NOT src-partition-cached: the r19 probe measured the boundedSssp
    // treatment (repartition(src) + persist) NEGATIVE here — the fixed
    // 32-partition cache defeats AQE's partition coalescing on the
    // join output, and the (dst, label) partial-count duplication that
    // follows costs more than the saved per-round edge re-exchange
    // (walls 3.65→4.04 / 3.34→4.31 s on g06/g14, exchanges 15→10 but
    // bytes flat). The sssp/bfs loops win that trade because their
    // partial aggregates carry 8-byte mins, not per-label rows.
    val e = edges.select(col("src"), col("dst")).lineageCut(eager = false)
    var labels = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .lineageCut(eager = false)
    for (_ <- 0 until rounds) {
      labels = e.join(labels, e("src") === labels("id"))
        .groupBy(e("dst").as("nid"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("nid").as("id"))
        .agg((max(struct(col("c"), (col("label") * -1).as("neg")))
          .getField("neg") * -1).as("label"))
        .lineageCut(eager = false)
    }
    labels
  }

  /** Fixed-round k-core peel over an undirected graph given as BOTH
    * directions of its edge list (src, dst): every round drops the
    * nodes whose degree fell below `k` and the edges touching them
    * (Seidman 1983 coreness; the Batagelj–Zaveršnik peel expressed as
    * bulk rounds). Returns the survival curve — one row per round
    * 0..`rounds` with the surviving node and directed-edge counts —
    * rather than a per-node frame, so the gate output stays O(rounds)
    * regardless of graph size. The round count is FIXED (not
    * convergence-gated): the result is a pure function of graph + k +
    * rounds, which is what lets an independent engine replay it as a
    * CTE chain bit-for-bit; a converged peel simply repeats its last
    * row, which the curve makes visible.
    *
    * Scale shape: each round is one keyed degree aggregation + two
    * semi-joins (src-side, dst-side) against the surviving-node set —
    * all shuffles keyed by node id, nothing driver-side. The edge frame
    * advances through LAZY localCheckpoints so the live plan stays
    * O(1) deep across rounds (the bfsHops/connectedComponents lineage
    * rotation) while the whole peel still executes as ONE job;
    * superseded checkpoint blocks are reclaimed by the ContextCleaner. Per-round cost is O(|E_i|) on the SHRINKING edge
    * set — peeling gets cheaper as it converges, and the counts ride
    * along as lazy aggregates unioned into one final action (no
    * per-round driver collect). */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // the per-round edge sets are cheap checkpointed scans, so the
    // whole curve aggregates in ONE job: tag each round's survivors
    // with its round number, union, and run a single grouped count —
    // 2 exchanges total instead of one single-partition agg per round
    def tag(e: DataFrame, round: Int): DataFrame =
      e.select(lit(round.toLong).as("round"), col("src"))
    // LAZY localCheckpoints: lineage still truncates per round (each
    // round references e three times — degree agg + two semi-joins —
    // and the tagged union references every round's frame), but with
    // eager=false NOTHING runs until the one final curve aggregation:
    // the whole peel executes as a single job whose per-round edge sets
    // cache as they are first computed, instead of `rounds` eager
    // driver-synchronized materialization jobs.
    var e = edges.select(col("src"), col("dst")).lineageCut(eager = false)
    var tagged = tag(e, 0)
    for (r <- 1 to rounds) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
      e = e.join(keep, col("src") === col("id"), "left_semi")
        .join(keep, col("dst") === col("id"), "left_semi")
        .lineageCut(eager = false)
      tagged = tagged.unionByName(tag(e, r))
    }
    // a peeled-to-empty round has no survivor rows to count, which
    // would DROP its curve row — re-anchor every round on a literal
    // frame so (round, 0, 0) survives
    val spark = edges.sparkSession
    import spark.implicits._
    val anchor = (0L to rounds.toLong).toDF("round")
    anchor.join(
        tagged.groupBy(col("round"))
          .agg(count_distinct(col("src")).as("nodes"),
            count(lit(1)).as("edges")),
        Seq("round"), "left")
      .select(col("round"),
        coalesce(col("nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("edges"), lit(0L)).as("n_dir_edges"))
  }

  /** Fixed-round k-truss peel (Cohen 2008) over a CANONICAL undirected
    * edge list (u < v): every round computes per-edge triangle support
    * over the SURVIVING edges and drops edges supported by fewer than
    * k-2 triangles — the cohesion filter one notch stronger than
    * k-core (a k-core survives on degree alone; a k-truss edge must sit
    * in k-2 triangles, so loosely-attached hubs peel away). Returns the
    * survival curve (round, n_edges) for rounds 0..`rounds` — O(rounds)
    * output regardless of graph size; a converged peel repeats its last
    * row (the kcorePeel fixed-round replayability contract).
    *
    * Scale shape per round: one triangle enumeration on the canonical
    * a<b<c self-join (each triangle built once), one explode to its 3
    * edges + keyed count = support, one semi-join filter — all keyed
    * shuffles on edge endpoints. Edges advance through LAZY
    * localCheckpoints (the kcorePeel rotation) and the whole curve
    * aggregates in one job. Triangle enumeration cost is the classical
    * sum-of-min-degrees bound; for skew-heavy graphs swap the canonical
    * join for triangleStats' degree-orientation — same peel contract. */
  def trussPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    def tag(e: DataFrame, round: Int): DataFrame =
      e.select(lit(round.toLong).as("round"), col("u"))
    var e = edges.select(col("u"), col("v")).lineageCut(eager = false)
    var tagged = tag(e, 0)
    for (r <- 1 to rounds) {
      val tri = e.as("x")
        .join(e.as("y"), col("x.v") === col("y.u"))
        .join(e.as("z"),
          col("z.u") === col("x.u") && col("z.v") === col("y.v"))
        .select(col("x.u").as("a"), col("x.v").as("b"), col("y.v").as("c"))
      val sup = tri.select(
          explode(array(
            struct(col("a").as("u"), col("b").as("v")),
            struct(col("b").as("u"), col("c").as("v")),
            struct(col("a").as("u"), col("c").as("v")))).as("ed"))
        .groupBy(col("ed.u").as("su"), col("ed.v").as("sv"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= k - 2)
        .select(col("su").as("u"), col("sv").as("v"))
      // edges in no triangle have support 0 < k-2: the semi join drops
      // them because they never appear in `sup`
      e = e.join(sup, Seq("u", "v"), "left_semi").lineageCut(eager = false)
      tagged = tagged.unionByName(tag(e, r))
    }
    val anchor = (0L to rounds.toLong).toDF("round")
    anchor.join(
        tagged.groupBy(col("round")).agg(count(lit(1)).as("n")),
        Seq("round"), "left")
      .select(col("round"), coalesce(col("n"), lit(0L)).as("n_edges"))
  }

  /** HyperBall (Boldi & Vigna 2013): per-node t-hop ball-size estimates
    * from mergeable HLL sketches — the algorithm that computes
    * neighborhood functions, effective diameter, and closeness/harmonic
    * centrality on graphs where exact per-node reachable sets are
    * quadratically infeasible (it is how "four degrees of separation"
    * was measured on a 700M-node graph). Output: (hop, id, est) for
    * hop 0..`hops`, est = HLL estimate of |B(id, hop)|.
    *
    * Scale shape: state is ONE sketch per node (4 KB at lgK=12, 2^lgK
    * registers), and each round is ONE shuffle join (sketches × edges
    * on dst) + ONE keyed hll_union_agg by src — identical movement to a
    * PageRank round, with sketch bytes instead of doubles. Rounds
    * advance through LAZY localCheckpoints (the kcorePeel rotation):
    * per-hop estimate frames are cheap checkpointed scans, so the whole
    * curve aggregates in one final job. Determinism: DataSketches HLL
    * has no RNG — same inputs give bit-identical sketches, so gates can
    * pin estimate bands exactly; below the sparse→dense promotion
    * (~2^lgK entries) the estimate is EXACT, which is what makes the
    * fixture-scale oracle comparison strict rather than statistical. */
  def hyperBall(edges: DataFrame, hops: Int, lgK: Int = 12): DataFrame = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    // cuts on base/ids: each is referenced twice (ids + self-loops,
    // seed + self-loops), and a lazy checkpoint materializes each once
    // instead of re-running the upstream plan per reference
    val base = edges.select(col("src"), col("dst"))
      .lineageCut(eager = false)
    // seed over src UNION dst: sink nodes (dst-only, no out-edges) must
    // still get a singleton sketch — they appear in the output with
    // |B(id,t)| = 1 for all t, and their sketch is what in-neighbors
    // union in. Seeding from src alone silently drops sinks on any
    // non-symmetrized directed graph.
    val ids = base.select(col("src").as("id"))
      .unionByName(base.select(col("dst").as("id"))).distinct()
      .lineageCut(eager = false)
    // adjacency WITH one self-loop per node:
    //   B(id,t) = B(id,t−1) ∪ ⋃_{id→n} B(n,t−1)
    // The self term rides the same join + union-aggregate as the
    // neighbor terms, so the old per-round LEFT join — and the two
    // extra sketch-frame exchanges it paid (sk re-exchanged by id, nbr
    // by nid; HLL union is a register-wise max, so folding the self
    // sketch into the aggregate is merge-order-free and yields the
    // identical register state) — disappears. Measured at sf0.1
    // (lgK=9, |V|=16k; OPTIMIZATION_r19.md): per-2-round shuffle
    // 50.6 → 28.8 MB, the removed left-join exchanges.
    //
    // Deliberately NOT repartition(dst)+persist'ed: a cache pins the
    // shuffle-partition count, and the per-round partial hll_union_agg
    // then duplicates up to one partially-merged sketch per (src ×
    // map-partition) — measured 126.8 MB in round 2 against 21.9 MB
    // when the join output keeps AQE's coalesced partitioning. The
    // edge re-exchange per round is (src, dst) longs — cheap next to
    // sketch duplication.
    val e = base
      .unionByName(ids.select(col("id").as("src"), col("id").as("dst")))
      .lineageCut(eager = false)
    var sk = ids.groupBy(col("id"))
      .agg(expr(s"hll_sketch_agg(id, $lgK)").as("sk"))
      .lineageCut(eager = false)
    def estFrame(t: Int, f: DataFrame): DataFrame =
      f.select(lit(t.toLong).as("hop"), col("id"),
        expr("hll_sketch_estimate(sk)").as("est"))
    var out = estFrame(0, sk)
    for (t <- 1 to hops) {
      sk = e.join(sk, e("dst") === sk("id"))
        .groupBy(e("src"))
        .agg(expr("hll_union_agg(sk)").as("sk"))
        .select(col("src").as("id"), col("sk"))
        .lineageCut(eager = false)
      out = out.unionByName(estFrame(t, sk))
    }
    out
  }
}
