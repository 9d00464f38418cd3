package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def undirected(pairs: (Long, Long)*) = {
    val und = pairs.toDF("a", "b")
    und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
  }

  test("pageRank: ranks sum to 1 and the hub outranks the spokes") {
    // star graph: node 0 linked to 1..5 (bidirectional)
    val edges = undirected((1L to 5L).map(i => (0L, i)): _*)
    val r = GraphOps.pageRank(edges, iters = 10).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"sum=${r.values.sum}")
    assert(r(0L) > r(1L) * 3, s"hub=${r(0L)} spoke=${r(1L)}")
    // spokes are symmetric
    assert((2L to 5L).forall(i => r(i) == r(1L)))
  }

  test("pageRank on a cycle is uniform regardless of iteration count") {
    val n = 6L
    val edges = undirected((0L until n).map(i => (i, (i + 1) % n)): _*)
    val r = GraphOps.pageRank(edges, iters = 3).collect().map(_.getDouble(1))
    assert(r.length == n)
    assert(r.forall(v => math.abs(v - 1.0 / n) < 1e-12))
  }

  test("triangleStats counts K4 exactly") {
    // complete graph on 4 nodes: 6 edges, 4 triangles, 12 wedges,
    // clustering 1.0
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val row = GraphOps.triangleStats(und).collect().head
    assert(row.getLong(0) == 4)          // n_nodes
    assert(row.getLong(1) == 6)          // n_edges
    assert(row.getLong(2) == 12)         // n_wedges
    assert(row.getLong(3) == 4)          // n_triangles
    assert(row.getDouble(4) == 1.0)      // 3*4/12
  }

  test("triangleStats: triangle with a pendant edge") {
    // nodes 1-2-3 form a triangle; 4 hangs off node 1.
    // degrees: 1->3, 2->2, 3->2, 4->1; wedges = 3+1+1+0 = 5
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("u", "v")
    val row = GraphOps.triangleStats(und).collect().head
    assert(row.getLong(0) == 4 && row.getLong(1) == 4)
    assert(row.getLong(2) == 5 && row.getLong(3) == 1)
    assert(row.getDouble(4) == 3.0 * 1 / 5)
  }

  test("bfsHops: min-hop distances on a path with a shortcut") {
    // path 1-2-3-4-5 plus shortcut 1-4: node 4 is 1 hop away, 5 is 2
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val hops = GraphOps.bfsHops(edges, start = 1L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
  }

  test("connectedComponents labels a 64-node path in logarithmic rounds") {
    // the adversarial case for min-label propagation: diameter 63 would
    // need 63 propagation rounds; star contraction must stay logarithmic
    val und = (0L until 63L).map(i => (i, i + 1)).toDF("u", "v")
    val (labels, rounds) = GraphOps.ccWithRounds(und, maxRounds = 30)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 64)
    assert(got.forall(_._2 == 0L), s"non-root labels: ${got.filter(_._2 != 0L).take(3).toSeq}")
    assert(rounds <= 12, s"took $rounds rounds for diameter 63")
  }

  test("connectedComponents throws when maxRounds ends short of a star forest") {
    // one round cannot contract a 64-node path; returning its edge set
    // anyway would give some node two labels
    val und = (0L until 63L).map(i => (i, i + 1)).toDF("u", "v")
    val e = intercept[IllegalStateException](
      GraphOps.ccWithRounds(und, maxRounds = 1))
    assert(e.getMessage.contains("maxRounds = 1"), e.getMessage)
  }

  test("connectedComponents: stars whose hub is not the minimum") {
    // hub 5 with leaves 1-4 and 6-9, and hub 9 with leaves 1-8. The
    // star-forest test only holds on small-star output (u > v): on the
    // canonical u < v input the hub-9 star already passes it, and
    // stopping there would label every node 9. Every label must be 1.
    for (hub <- Seq(5L, 9L)) {
      val und = (1L to 9L).filter(_ != hub).map(i => (hub, i)).toDF("u", "v")
      val got = GraphOps.connectedComponents(und).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(got.length == 9 && got.map(_._1).toSet == (1L to 9L).toSet,
        s"hub $hub: ${got.toSeq}")
      assert(got.forall(_._2 == 1L), s"hub $hub: ${got.toSeq}")
    }
  }

  test("connectedComponents: a star around its minimum takes one round") {
    // round 1 turns it into the same star pointing at the hub, which is
    // already a star forest — no confirming round
    val und = (2L to 9L).map(i => (i, 1L)).toDF("u", "v")
    spark.catalog.clearCache()
    val (labels, rounds) = GraphOps.ccWithRounds(und, maxRounds = 30)
    assert(rounds == 1, s"took $rounds rounds")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 9L).map(_ -> 1L).toMap)
    assert(spark.sharedState.cacheManager.isEmpty, "a frame was left cached")
  }

  test("g04_connected_components plan-size pin at sf0.001") {
    // exchanges summed over every query execution the query triggers
    // (Probe's rep-1 PlanMetrics bracket): 32 with groupBy-min + join
    // star steps, a signature action per round and a persisted node
    // set; 14 with window-min star steps, the star-forest stop and
    // labels read off the forest
    val (_, exchanges, _) = graft.tools.Probe.measure(spark,
      "g04_connected_components", reps = 1, dir = sfTiny).axes
    assert(exchanges > 0 && exchanges <= 14, s"exchanges = $exchanges")
  }

  test("connectedComponents separates components and keeps min labels") {
    // K3 {1,2,3}, an edge {10,11}, and a chain 20-21-22 (plus a dup and
    // a reversed edge to exercise canonicalization)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (11L, 10L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("u", "v")
    val labels = GraphOps.connectedComponents(und).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("bfsHops stops at maxHops and never revisits") {
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val hops = GraphOps.bfsHops(edges, start = 1L, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("connectedComponents matches union-find on seeded random graphs") {
    // property check beyond the fixed fixtures: across sparse, critical
    // (~n/2 edges, many mid-size components) and dense regimes, the
    // distributed star contraction must agree exactly with a trusted
    // driver-side union-find
    val rng = new scala.util.Random(42)
    for ((n, m) <- Seq((60, 20), (60, 35), (60, 120))) {
      val edges = Seq.fill(m)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val und = edges.toDF("u", "v")
      val rows = GraphOps.connectedComponents(und)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val got = rows.toMap
      // toMap would hide a node carrying two labels
      assert(rows.length == got.size, s"(n=$n m=$m) duplicate ids")

      // union-find with path compression; roots relabeled to component min
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      // self-loops are canonicalized away by the operator: a node with
      // only self-loop edges is not part of the graph
      val real = edges.filter(e => e._1 != e._2)
      real.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(ra) = rb
      }
      val nodes = real.flatMap(e => Seq(e._1, e._2)).distinct
      val minOfRoot = nodes.groupBy(id => find(id.toInt))
        .map { case (r, ids) => r -> ids.min }
      val want = nodes.map(id => id -> minOfRoot(find(id.toInt))).toMap
      assert(got == want,
        s"(n=$n m=$m) diff: ${(got.toSet diff want.toSet).take(5)}")
    }
  }

  test("labelPropagation matches a reference simulation on random graphs") {
    // same discipline as the components property check: the distributed
    // rounds must equal a straightforward in-memory simulation with the
    // identical (count desc, label asc) tiebreak
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val n = 12 + rng.nextInt(20)
      val m = n + rng.nextInt(2 * n)
      val pairs = (0 until m).map { _ =>
        val a = rng.nextInt(n); var b = rng.nextInt(n)
        while (b == a) b = rng.nextInt(n)
        (a.toLong, b.toLong)
      }.distinct
      val edges = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
      val rounds = 1 + rng.nextInt(3)

      var want = edges.map(_._1).distinct.map(i => i -> i).toMap
      for (_ <- 0 until rounds) {
        want = edges.groupBy(_._2).map { case (dst, es) =>
          val freq = es.map(e => want(e._1))
            .groupBy(identity).map { case (l, xs) => (l, xs.size) }
          dst -> freq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      val got = GraphOps.labelPropagation(edges.toDF("src", "dst"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want,
        s"(trial $trial n=$n m=${edges.size} rounds=$rounds) " +
          s"diff: ${(got.toSet diff want.toSet).take(5)}")
    }
  }

  test("bfsHops: deep run returns a truncated plan and exact hops") {
    // the r7 verdict's cache-hygiene fix, pinned: a 40-deep path with a
    // generous maxHops must (a) stay correct, (b) hand back a frame whose
    // plan is a single checkpointed scan — NOT the H-deep union chain the
    // old persist-only loop accumulated (which re-analyzed every round
    // and pinned ~2H frames at hop H)
    val n = 40L
    val edges = undirected((0L until n).map(i => (i, i + 1)): _*)
    val res = GraphOps.bfsHops(edges, start = 0L, maxHops = 100)
    assert(res.queryExecution.logical.nodeName == "LogicalRDD",
      s"expected a checkpoint-truncated plan, got:\n" +
        res.queryExecution.logical.numberedTreeString)
    val hops = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops.size == n + 1)
    assert((0L to n).forall(i => hops(i) == i), s"wrong hops: $hops")
  }

  test("pageRank at 30 iterations keeps a bounded plan") {
    // lineage is localCheckpoint-truncated every 8 rounds, so plan size
    // is O(CkptEvery), not O(iters): without truncation a 30-round
    // foldLeft chains ~30 join+agg blocks (hundreds of plan lines)
    val n = 6L
    val edges = undirected((0L until n).map(i => (i, (i + 1) % n)): _*)
    val r = GraphOps.pageRank(edges, iters = 30)
    val planLines = r.queryExecution.logical.numberedTreeString.linesIterator.size
    assert(planLines < 120, s"plan grew with iterations: $planLines lines")
    val ranks = r.collect().map(_.getDouble(1))
    assert(ranks.length == n)
    assert(ranks.forall(v => math.abs(v - 1.0 / n) < 1e-12))
  }

  test("pageRankDangling matches a driver-side simulation on a graph with sinks") {
    // 1->2, 1->3, 2->3, 4->1: node 3 is a sink (no out-edges) — the case
    // plain pageRank's precondition excludes. Replay the exact update
    // r'(n) = t/N + d*(sum contrib + DM/N) in scala and compare.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L)).toDF("src", "dst")
    val iters = 5
    val got = GraphOps.pageRankDangling(edges, iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 4L -> Seq(1L))
    val nodes = Seq(1L, 2L, 3L, 4L)
    val (d, t, n) = (0.85, 0.15, nodes.size)
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(out.contains).map(rank).sum
      rank = nodes.map { v =>
        val in = out.toSeq.flatMap { case (src, ds) =>
          ds.filter(_ == v).map(_ => rank(src) / ds.size)
        }.sum
        v -> (t / n + d * (in + dm / n))
      }.toMap
    }
    assert(got.keySet == rank.keySet)
    // decimal-exact spark sum vs double scala sum: allow float-level slack
    rank.foreach { case (id, want) =>
      assert(math.abs(got(id) - want) < 1e-12, s"node $id: ${got(id)} vs $want")
    }
    // the redistribute term conserves total mass at 1
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass=${got.values.sum}")
  }

  test("incrementalComponents equals full recompute on random edge batches") {
    // the g08 gate's property, exercised across regimes: label the base
    // 80% of edges, feed the rest as the new batch (including edges that
    // bridge components and edges with brand-new endpoints), and the
    // incremental labels must equal a full contraction over ALL edges
    val rng = new scala.util.Random(11)
    for ((n, m) <- Seq((40, 25), (40, 60), (60, 30))) {
      val pairs = Seq.fill(m)(
        (rng.nextInt(n).toLong, rng.nextInt(n + 10).toLong))
        .filter(p => p._1 != p._2)
      val (batch, base) = pairs.partition(p => (p._1 + p._2) % 5 == 0)
      if (base.nonEmpty && batch.nonEmpty) {
        val baseLabels = GraphOps.connectedComponents(base.toDF("u", "v"))
        val got = GraphOps.incrementalComponents(baseLabels, batch.toDF("u", "v"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = GraphOps.connectedComponents(pairs.toDF("u", "v"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want,
          s"(n=$n m=$m) diff: ${(got.toSet diff want.toSet).take(5)}")
      }
    }
  }

  test("labelPropagation: known answers on triangle and path") {
    def undirected(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    // triangle: every node adopts label 1 within 2 rounds
    val tri = GraphOps.labelPropagation(undirected(1L -> 2L, 2L -> 3L, 1L -> 3L),
        rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // path 1-2-3 after 2 rounds: ends join the far end's label via the
    // middle; hand-computed fixpoint-in-progress state
    val path = GraphOps.labelPropagation(undirected(1L -> 2L, 2L -> 3L),
        rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(path == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  // g05 runs WITH RECURSIVE through Spark's own frontend at depth 4.
  // Pins the structural shape (robust to fixture regeneration, which
  // reshuffles exact counts between rounds): the anchor is a single
  // node, the recursion genuinely advances (>= 2 hop levels on the
  // tiny fixture), min-hop levels are contiguous from 0, and the node
  // total stays within the <=30-customer x <=20-supplier subgraph cap
  // the query's WHERE imposes by construction.
  test("g05 recursive SQL: depth-4 walk shape holds on the tiny fixture") {
    val rows = graft.queries.Registry.queries("g05_recursive_sql")(spark, sfTiny)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(0L) == 1L, s"anchor must be a single node: $rows")
    val maxHop = rows.keys.max
    assert(maxHop >= 2, s"recursion did not advance: $rows")
    assert(rows.keySet == (0L to maxHop).toSet,
      s"min-hop levels must be contiguous: $rows")
    assert(rows.values.sum <= 50, s"subgraph cap breached: $rows")
    assert(rows.values.forall(_ > 0))
  }

  test("boundedSssp prefers the cheaper multi-hop path over the direct edge") {
    // 1 -(5)-> 3 directly, but 1 -(1)-> 2 -(1)-> 3 costs 2
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L))
      .toDF("src", "dst", "w")
    val d = GraphOps.boundedSssp(edges, start = 1L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L), s"got $d")
  }

  test("boundedSssp round bound limits path length, not correctness inside it") {
    // chain 1->2->3->4, unit weights; 2 rounds settle exactly 3 nodes
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val d2 = GraphOps.boundedSssp(edges, start = 1L, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L), s"got $d2")
    // a cheap long path only wins once enough rounds can see it:
    // 1 -(10)-> 4 direct vs 1->2->3->4 costing 3 over three edges
    val edges2 = edges.union(Seq((1L, 4L, 10L)).toDF("src", "dst", "w"))
    val one = GraphOps.boundedSssp(edges2, start = 1L, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(4L) == 10L, s"got $one")
    val three = GraphOps.boundedSssp(edges2, start = 1L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(three(4L) == 3L, s"got $three")
  }

  test("kcorePeel: pendant chain peels off K4 in cascading rounds") {
    // K4 on 1-4 plus a chain 4-5-6. k=2 peel: round 1 drops the
    // degree-1 tail node 6, which EXPOSES 5 at degree 1 for round 2 —
    // the cascade a single-pass degree filter would miss. The K4 core
    // then survives unchanged (round 3 repeats round 2's row).
    val edges = undirected((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
    val curve = GraphOps.kcorePeel(edges, k = 2, rounds = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(curve === Map(0L -> ((6L, 16L)), 1L -> ((5L, 14L)),
      2L -> ((4L, 12L)), 3L -> ((4L, 12L))), s"got $curve")
  }

  test("kcorePeel: peeling to an empty graph reports zero rows, not none") {
    // a path graph has no 2-core; the fixed-round curve must bottom
    // out at (0, 0) rather than losing its rows
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L))
    val curve = GraphOps.kcorePeel(edges, k = 2, rounds = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(curve(0L) == ((4L, 6L)))
    assert(curve(3L) == ((0L, 0L)), s"got $curve")
  }

  test("personalizedPageRank: mass stays near the seeds, islands get zero") {
    // 1 -> 3, 2 -> 3 (3 is a sink: its mass returns to the seed), and a
    // disconnected island 4 -> 5 that no seed mass can ever reach
    val edges = Seq((1L, 3L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val r = GraphOps.personalizedPageRank(edges, seeds, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > 0.0, "the seed keeps teleport mass")
    assert(r(3L) > 0.0, "the seed's neighbor receives link mass")
    assert(r(2L) == 0.0, "a non-seed source never receives anything")
    assert(r(4L) == 0.0 && r(5L) == 0.0, s"island must stay at zero: $r")
    val total = r.values.sum
    assert(total > 0.9 && total <= 1.0 + 1e-9,
      s"mass conserves to ~1 (teleport + dangling return), got $total")
    // absent-seed ids are ignored; an all-absent seed set is an error
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(edges,
        Seq(Tuple1(99L)).toDF("id"), iters = 1).collect()
    }
  }
  test("hyperBall: sparse-mode estimates are exactly the ball sizes") {
    // path graph 0-1-2-3-4-5 (bidirectional): |B(v,t)| is known in
    // closed form, and at these cardinalities the HLL sketches are in
    // sparse mode, so the estimates must be EXACT — the property that
    // makes the g12 gate's band deterministic at fixture scale
    val edges = undirected((0L to 4L).map(i => (i, i + 1)): _*)
    val est = GraphOps.hyperBall(edges, hops = 2).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("id")) -> r.getAs[Long]("est"))
      .toMap
    for (v <- 0L to 5L) {
      assert(est((0L, v)) == 1L, s"hop0 ball of $v")
      val b1 = 1L + (if (v > 0) 1 else 0) + (if (v < 5) 1 else 0)
      assert(est((1L, v)) == b1, s"hop1 ball of $v: got ${est((1L, v))}")
      val b2 = (math.max(0L, v - 2) to math.min(5L, v + 2)).size.toLong
      assert(est((2L, v)) == b2, s"hop2 ball of $v: got ${est((2L, v))}")
    }
  }
  test("trussPeel: 4-truss keeps cliques, peels bridges and tails") {
    // two 4-cliques {0,1,2,3} and {3,4,5,6} sharing vertex 3, plus a
    // pendant path 6-7-8. Every clique edge sits in 2 triangles within
    // its clique (4-truss support), the path edges sit in none, and the
    // cliques only SHARE a vertex (no cross triangles) — so round 1
    // drops exactly the 2 path edges and the curve then holds flat
    val clique = (ids: Seq[Long]) =>
      for (i <- ids.indices; j <- i + 1 until ids.size)
        yield (ids(i), ids(j))
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(3L, 4L, 5L, 6L))
      ++ Seq((6L, 7L), (7L, 8L))).toDF("u", "v")
    val curve = GraphOps.trussPeel(edges, k = 4, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(curve == Map(0L -> 14L, 1L -> 12L, 2L -> 12L),
      s"expected 14 -> 12 -> 12, got $curve")
  }

  test("hyperBall: sink nodes get sketches and feed predecessors' balls") {
    // directed chain 0->1->2: 2 is a sink (dst-only). It must appear in
    // the output with |B(2,t)| = 1, and 1's hop-1 ball must include it —
    // seeding sketches from src alone would drop both (ADVICE r11).
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val est = GraphOps.hyperBall(edges, hops = 2).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("id")) -> r.getAs[Long]("est"))
      .toMap
    assert(est((0L, 2L)) == 1L && est((1L, 2L)) == 1L &&
      est((2L, 2L)) == 1L, "sink's own ball stays a singleton")
    assert(est((1L, 1L)) == 2L, "1's hop-1 ball reaches the sink")
    assert(est((2L, 0L)) == 3L, "0's hop-2 ball spans the whole chain")
  }

  test("reliable-checkpoint conf: same labels through the durable cut path") {
    // a checkpoint dir on the context routes every lineage cut through
    // Dataset.checkpoint (fault-tolerant blocks) instead of
    // localCheckpoint — values must be identical; only durability moves
    val edges = undirected((1L, 2L), (2L, 3L), (5L, 6L), (7L, 7L))
    def cc(): Map[Long, Long] =
      GraphOps.connectedComponents(
        edges.select(col("src").as("u"), col("dst").as("v"))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def lp(): Map[Long, Long] =
      GraphOps.labelPropagation(edges, rounds = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val (ccLocal, lpLocal) = (cc(), lp())
    spark.sparkContext.setCheckpointDir(
      SparkSpec.tempDir("graft-ckpt").toString)
    try {
      assert(cc() == ccLocal)
      // the same rule serves labelPropagation's rotation
      assert(lp() == lpLocal)
      val written = new java.io.File(
          java.net.URI.create(spark.sparkContext.getCheckpointDir.get))
        .list().filter(_.startsWith("rdd-"))
      assert(written.nonEmpty, "no reliable checkpoint was written")
    } finally org.apache.spark.CheckpointDirs.clear(spark.sparkContext)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
