package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum, xxhash64}
import java.nio.file.{Files, Paths}

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * emits ONE machine-parseable JSON line (also written to bench.json).
  *
  * Honesty rules learned from rounds 1-8:
  *  - a warmup pass at sf0.001 runs first so JIT/session startup isn't
  *    billed to whichever query happens to run first;
  *  - the action is a noop-format write, not count() — count() lets Spark
  *    prune every projection, which would time a cheaper plan than the
  *    query declares;
  *  - failures are NOT swallowed: per-query error strings are reported in
  *    the JSON and the process exits nonzero;
  *  - reps are INTERLEAVED: the suite runs as three full passes and each
  *    query reports its min ACROSS passes. Round 8 proved why: its three
  *    back-to-back reps per query all sat inside the same host-pressure
  *    window, so one sustained contention stretch fabricated 56
  *    "regressions" in one contiguous alphabetical span — every judge
  *    A/B in isolation refuted them. Interleaving means a pressure
  *    window hits each query once, not all reps;
  *  - a CALIBRATION SENTINEL (fixed pure-CPU job, no I/O, no shuffle)
  *    runs at each pass boundary and every 20 queries; its time series
  *    lands in bench.json, so a contaminated window is visible from the
  *    artifact itself, and wall-clock regressions whose reported min ran
  *    inside a hot window are labeled pressure-suspect instead of being
  *    reported as fact.
  */
object Bench {
  private val Passes = 3
  private val SentinelEvery = 20
  /** a sentinel firing above 2.5x the run's own floor marks its window
    * contaminated — sized to clear CPU/GC jitter on a quiet host (the
    * compute-bound probe below measured a 2.08x max/min spread on a
    * host already carrying load 4-5) while catching the 3-38x inflation
    * round 8's contention produced */
  private val HotFactor = 2.5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // fingerprint of the fixture GENERATION this run measured (file
    // paths + sizes + mtimes — the driver regenerates testdata with
    // fresh mtimes, so a regeneration flips the fingerprint even when
    // content is seed-identical). Stamped into bench.json and the
    // printed line; the tracker below and merge_bench_baseline.py
    // refuse WALL-TIME diffs across differing fingerprints (round 9:
    // four "regressions" were a 07:51 baseline diffed against 08:42
    // fixtures) while the plan axes stay comparable.
    val fixture = fixtureFingerprint(sfDir)
    // SPARK_GRAFT_ONLY=q43_preagg_join,q41_salted_join — dev-loop filter
    // for timing a subset; unset (the driver's mode) runs everything
    val queries = graft.queries.Registry.selected()
    val spark = GraftSession.getOrCreate("graft-bench")

    // plan axes (see PlanMetrics): stage-level shuffle bytes (covers
    // streaming micro-batches + child sessions) and per-execution
    // exchange/plan-node counts — far steadier than wall-clock
    val tally = PlanMetrics.register(spark)

    def runOnce(df: => DataFrame): Unit =
      try df.write.format("noop").mode("overwrite").save()
      // operators persist intermediate frames (dedup postings/buckets);
      // dropping them between queries keeps each measurement independent
      // — otherwise 79 queries' worth of leftover cache (including the
      // warmup pass's) evicts the frames the current query relies on
      finally spark.catalog.clearCache()

    // fixed pure-CPU probe: 64M rows through a 16-deep xxhash64 chain on
    // every session thread — no I/O, no shuffle, nothing data-dependent, so
    // its only variable is how much of the host the bench actually has.
    // The chain matters: single-hash probes at 8M/32M/96M rows all
    // measured ~0.12 s dominated by fixed job overhead whose jitter
    // spans 2x on its own; with compute dominating (~0.33 s quiet) the
    // firing time tracks CPU availability, not scheduler luck.
    def chain(c: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
      if (n == 0) c else chain(xxhash64(c), n - 1)
    def sentinelOnce(): Double = {
      val t0 = System.nanoTime()
      // summed as double: full-range longs overflow an ANSI bigint sum
      spark.range(0L, 64000000L, 1L, GraftSession.cpus.toInt)
        .select(sum(chain(col("id"), 16).cast("double")).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // warmup on the tiny SF: exercises every plan shape once (incl. the
    // sentinel's, so pass-1 firings aren't billed JIT cost)
    val warmDir = graft.queries.Registry.warmupDir(sfDir)
    queries.foreach { q =>
      try runOnce(q.setupAndRun(spark, warmDir)) catch { case _: Throwable => () }
    }
    sentinelOnce()

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // input-staging steps (st09's source split, io04's bucketed layout)
    // run ONCE, untimed, in pass 1 before the query's first rep — the
    // reported number is the steady-state query cost; the setup's own
    // cost is recorded so the full-pipeline figure stays observable
    val setupSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val shuffleBytes = scala.collection.mutable.LinkedHashMap[String, Long]()
    val exchangeCnt = scala.collection.mutable.LinkedHashMap[String, Long]()
    val nodeCnt = scala.collection.mutable.LinkedHashMap[String, Long]()
    // sentinel firings per pass; every rep remembers which window (pair
    // of consecutive firings in its pass) it ran inside
    val passSentinels = Array.fill(Passes)(
      scala.collection.mutable.ArrayBuffer[Double]())
    // per query: (sec, ok, pass, window) per pass, in pass order
    val reps = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[(Double, Boolean, Int, Int)]]()
    queries.foreach { q => reps(q.name) =
      scala.collection.mutable.ArrayBuffer[(Double, Boolean, Int, Int)]() }

    for (pass <- 0 until Passes) {
      passSentinels(pass) += sentinelOnce()
      queries.zipWithIndex.foreach { case (q, qi) =>
        val name = q.name
        if (qi > 0 && qi % SentinelEvery == 0)
          passSentinels(pass) += sentinelOnce()
        if (pass == 0) q.setup.foreach { su =>
          val s0 = System.nanoTime()
          try su(spark, sfDir) catch { case e: Throwable =>
            errors(name) = ("setup: " + Option(e.getMessage)
              .getOrElse(e.getClass.getName))
              .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
          }
          setupSecs(name) = (System.nanoTime() - s0) / 1e9
          System.err.println(f"[bench] $name setup (untimed): " +
            f"${setupSecs(name)}%.3f s")
        }
        // time the run function alone — warmup used the composed
        // setup+run; here setup already ran in pass 1. The snapshot
        // drains the listener bus, so neither the setup's events nor a
        // sentinel's (round 12 credited a sentinel's 11 plan nodes and 1
        // exchange to t05) land inside this query's bracket
        val window = passSentinels(pass).size - 1
        val before = if (pass == 0) tally.snapshot() else (0L, 0L, 0L)
        val t0 = System.nanoTime()
        val ok =
          try { runOnce(q.run(spark, sfDir)); true }
          catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        reps(name) += ((sec, ok, pass, window))
        if (pass == 0) {
          // ALWAYS drain — a failed rep may have half-run and emitted
          // events that would otherwise leak into the NEXT query's
          // bracket; only a clean rep's deltas are recorded
          val (b, ex, nd) = tally.drainAndRead(before)
          if (ok) {
            shuffleBytes(name) = b
            // nd == 0 means no batch QueryExecution reached the exec
            // listener (streaming micro-batches, child sessions) — omit
            // the entry so the gap is visible, never a misleading 0
            if (nd > 0) { exchangeCnt(name) = ex; nodeCnt(name) = nd }
          }
        }
      }
      passSentinels(pass) += sentinelOnce() // close the pass's last window
    }

    // ---- pressure analysis ------------------------------------------
    val allSentinels = passSentinels.toSeq.flatMap(_.toSeq)
    val sentinelMin = if (allSentinels.nonEmpty) allSentinels.min else 0.0
    val hotBar = sentinelMin * HotFactor
    val hotCount = allSentinels.count(_ > hotBar)
    def windowHot(pass: Int, w: Int): Boolean = {
      val ps = passSentinels(pass)
      ps(w) > hotBar || (w + 1 < ps.size && ps(w + 1) > hotBar)
    }
    // min over SUCCESSFUL runs only — a fast failure must not be
    // reported as the query's cost; if every run failed, report the
    // fastest elapsed anyway (the error field marks it invalid)
    val results = reps.toSeq.map { case (name, rs) =>
      val good = rs.filter(_._2)
      val pick = (if (good.nonEmpty) good else rs).minBy(_._1)
      name -> pick._1
    }
    // a query is pressure-suspect only if the rep that SUPPLIED its
    // reported min ran in a hot window — mins from clean windows stand
    // on their own regardless of what happened to the other passes
    val suspect = reps.toSeq.flatMap { case (name, rs) =>
      val good = rs.filter(_._2)
      val pick = (if (good.nonEmpty) good else rs).minBy(_._1)
      if (windowHot(pick._3, pick._4)) Some(name) else None
    }.toSet

    def fmt(v: Double): String = f"$v%.3f"
    def qJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val perQuery = if (results.nonEmpty) total / results.size else 0.0
    // per_query_mean is the comparable number across rounds: the query
    // count grows every round, and since round 2 the timed action is a
    // full-plan noop write (round 1 used count(), which let Spark prune
    // most of each projection's work)
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    // One representative per family for the PRINTED line. The driver keeps
    // only the last 2000 chars of stdout and parses the JSON line out of
    // that tail (BENCH_r02 proved a full 68-query line gets its head
    // truncated there), so the printed line must stay well under 2000
    // chars; the full per-query map still lands in bench.json.
    // g04/st09 are the two slowest families — without them the
    // driver-visible tail couldn't see a regression in exactly the
    // queries where one costs the most
    val headline = Set("q01_agg", "q04_join_factfact", "q07_window_rank",
      "q12_rollup", "q16_countdistinct", "q20_star_join", "q31_sql_frontend",
      "p01_tripmetrics_core", "t05_ngram_profile", "t09_curation_pipeline",
      "d03_minhash_lsh", "s01_cosine_topk", "e03_sessionize",
      "m01_struct_join", "h01_pricing_summary", "st01_stream_tumbling",
      "g04_connected_components", "st09_multibatch_replay",
      "t23_bm25", "s15_pq_adc")
    // untimed input-staging seconds per query, recorded alongside the
    // timed map so the full-pipeline cost stays auditable (the printed
    // headline line omits it to stay under the driver's tail budget)
    val setupJson = setupSecs.toSeq.map { case (k, v) =>
      "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // plan axes: shuffle MB, exchange count, plan node count per query
    // (wall-clock is the noisy axis; see the shuffle-volume gate below
    // for the one way shuffle MB moves on an unchanged plan)
    val shuffleJson = shuffleBytes.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + fmt(v / 1e6) }.mkString("{", ",", "}")
    val exchangeJson = exchangeCnt.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val nodeJson = nodeCnt.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // the sentinel series, per pass, plus the derived verdict inputs —
    // a reader of bench.json alone can see which stretch of the run was
    // contaminated and which reported mins to distrust
    val sentinelJson = passSentinels.map(
      _.map(fmt).mkString("[", ",", "]")).mkString("[", ",", "]")
    val suspectJson = suspect.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // cpus + sentinel_hot are stamped into the PRINTED line (r18 verdict:
    // the driver's scaling check couldn't correlate core count with walls,
    // and a pressure-hot run was indistinguishable from a clean one in the
    // 2000-char tail it keeps). "k/n" = hot sentinel firings / total.
    def line(rs: Seq[(String, Double)]): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qJson(rs)},"errors":$errJson,"n_queries":${results.size},"per_query_mean":${fmt(perQuery)},"sf":$sfNum,"fixture":"$fixture","cpus":${GraftSession.cpus},"sentinel_hot":"$hotCount/${allSentinels.size}"}"""
    Files.writeString(Paths.get("bench.json"),
      line(results).dropRight(1) +
        s""","setup_sec":$setupJson,"shuffle_mb":$shuffleJson,"exchanges":$exchangeJson,"plan_nodes":$nodeJson,"sentinel_sec":$sentinelJson,"sentinel_hot_bar":${fmt(hotBar)},"pressure_suspect":$suspectJson}""" + "\n")

    // ---- pressure verdict (printed BEFORE the regression lists so a
    // reader of the stderr log sees the run's credibility first) -------
    System.err.println(f"[bench] sentinel: $hotCount/${allSentinels.size} " +
      f"firings hot (> ${HotFactor}%.1fx floor ${fmt(sentinelMin)} s)" + (
        if (hotCount == 0) " — run clean, wall-clock regressions are real"
        else s" — host pressure detected; ${suspect.size} quer" +
          s"${if (suspect.size == 1) "y" else "ies"} report a min from a " +
          "hot window (listed in pressure_suspect); trust the shuffle/" +
          "plan axes and re-run suspects in isolation before believing " +
          "a wall-clock regression"))

    spark.stop()

    // regression tracking: diff per-query times against bench_baseline
    // .json (a committed FULL per-query map, refreshed manually from a
    // quiet-host run) falling back to the most recent round's
    // BENCH_r*.json — the driver file only carries the headline map.
    // Printed to stderr — the driver parses the LAST stdout line as JSON.
    //
    // Coverage guard (round-7 lesson: a committed SPARK_GRAFT_ONLY
    // dev-run artifact shrank the baseline to 2 queries and the "0
    // regression(s)" line silently checked 2 of 214): if the baseline
    // covers < 90% of this run's queries, warn loudly and diff against
    // the latest round file AS WELL, so a subset baseline can never
    // blind the tracker again.
    val comparisons: Seq[java.nio.file.Path] = baselineFile() match {
      case None => latestRoundFile().toSeq
      case Some(b) =>
        val covered = parseQueryTimes(Files.readString(b))
          .keySet.count(n => results.exists(_._1 == n))
        if (covered >= results.size * 0.9) Seq(b)
        else {
          System.err.println(s"[bench] WARNING: bench_baseline.json covers " +
            s"only $covered of ${results.size} queries in this run — it " +
            "looks like a committed dev-run artifact; regenerate it from a " +
            "full quiet-host Bench run. Also diffing the latest BENCH_r*.json.")
          Seq(b) ++ latestRoundFile()
        }
    }
    for (prev <- comparisons) {
      val prevJson = Files.readString(prev)
      // only compare like against like: the committed rounds run at
      // sf0.1, a dev loop at sf0.001 would diff meaninglessly
      val prevSf = "\"sf\":([0-9.]+)".r.findFirstMatchIn(prevJson)
        .map(_.group(1)).getOrElse("")
      // cross-GENERATION guard: wall numbers measured on a different
      // fixture generation are not comparable (data-dependent iteration
      // counts move with regenerated data even at the same SF — the
      // round-9 false-regression class). A prev file with no fingerprint
      // predates the stamp: diff, but say so.
      val prevFixture = "\"fixture\":\"([0-9a-f]+)\"".r
        .findFirstMatchIn(prevJson).map(_.group(1))
      val sameGeneration = prevFixture.forall(_ == fixture)
      val prevTimes =
        if (prevSf == sfNum && sameGeneration) parseQueryTimes(prevJson)
        else Map.empty[String, Double]
      if (!sameGeneration)
        System.err.println(s"[bench] vs ${prev.getFileName}: fixture " +
          s"generation differs (${prevFixture.get} vs $fixture) — wall-" +
          "time diffs are INVALID across data generations and are " +
          "skipped; the plan axes below remain valid. Rebuild the " +
          "baseline on the current fixtures (tools/merge_bench_baseline.py).")
      else if (prevFixture.isEmpty)
        System.err.println(s"[bench] vs ${prev.getFileName}: no fixture " +
          "fingerprint in the reference (predates the stamp) — wall " +
          "diffs may span a data regeneration; treat them as advisory.")
      // ENVELOPE-SKEW CALIBRATION (round-10 judge directive): the
      // baseline is a min-of-N envelope while this run is one pass, so
      // the whole suite typically sits a uniform few percent above it —
      // and that skew eats the per-query regression budget (round 10's
      // suite ran ~7% high and two queries crossed the bar on variance
      // alone; both refuted by isolated A/B). The suite MEDIAN ratio
      // captures the uniform skew (a real regression moves one query,
      // not the median); each query is compared against baseline x that
      // factor. Clamped to [1.0, 1.2]: never tighten the bar when this
      // run is globally faster, never absorb more than 20% — a skew
      // that large means the host is loaded and the run untrustworthy.
      val ratios = results.flatMap { case (n, t) =>
        prevTimes.get(n).filter(_ > 0).map(t / _) }.sorted
      val calibration =
        if (ratios.isEmpty) 1.0
        else math.min(1.2, math.max(1.0, ratios(ratios.size / 2)))
      val regressions = results.flatMap { case (name, t) =>
        prevTimes.get(name).collect {
          // only meaningful moves: >30% slower AND >0.1s absolute (above
          // local[32] GC/page-cache noise), after envelope calibration
          case p if t > p * calibration * 1.3 &&
            t - p * calibration > 0.1 => (name, p, t)
        }
      }.sortBy { case (_, p, t) => -(t - p) }
      val (pressured, credible) = regressions.partition(r => suspect(r._1))
      if (sameGeneration) {
        System.err.println(f"[bench] vs ${prev.getFileName}: " +
          f"suite median ratio ${if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)}%.3f, " +
          f"calibration $calibration%.3f; " +
          s"${regressions.size} wall regression(s) (>30% and >0.1s, calibrated), of " +
          s"which ${credible.size} credible / ${pressured.size} pressure-suspect")
        regressions.take(8).foreach { case (name, p, t) =>
          val tag = if (suspect(name)) " [pressure-suspect]" else ""
          System.err.println(f"[bench]   $name%-26s ${fmt(p)} -> ${fmt(t)} " +
            f"(${(t / p - 1) * 100}%.0f%% slower)$tag")
        }
      }
      // shuffle volume mostly moves only when the PLAN moved (same data,
      // same SF), but not always: a sketch aggregate's partial state
      // serializes to a size that depends on merge order, so the same
      // plan can shuffle a few KB more or less (g12_hyperball's per-round
      // hll_union_agg exchanges read 0.348-0.358 MB in total over three
      // identical sf0.001 runs). Growth past both bars is structural
      val prevShuffle =
        if (prevSf == sfNum) parseShuffleMb(prevJson)
        else Map.empty[String, Double]
      val planRegs = shuffleBytes.toSeq.flatMap { case (name, b) =>
        val mb = b / 1e6
        prevShuffle.get(name).collect {
          case p if mb > p * 1.1 && mb - p > 1.0 => (name, p, mb)
        }
      }.sortBy { case (_, p, mb) => -(mb - p) }
      if (prevShuffle.nonEmpty) {
        System.err.println(s"[bench] vs ${prev.getFileName}: " +
          s"${planRegs.size} shuffle-volume regression(s) (>10% and >1MB)")
        planRegs.take(5).foreach { case (name, p, mb) =>
          System.err.println(f"[bench]   $name%-26s $p%.1f -> $mb%.1f MB shuffled")
        }
      }
      // plan-SIZE axis: exchange counts are integers but NOT noise-free —
      // one borderline AQE decision flips a join between SMJ and BHJ, and
      // the round-11 isolated A/B measured s14 at 13 vs 15 exchanges on
      // the IDENTICAL binary and fixture (runtime coalesce variance). So
      // the allowance is ±2, matching merge_bench_baseline.py; growth
      // past that is structural
      val prevEx = if (prevSf == sfNum) parseExchanges(prevJson)
                   else Map.empty[String, Double]
      val exRegs = exchangeCnt.toSeq.flatMap { case (name, n) =>
        prevEx.get(name).collect {
          case p if n > p + 2.5 => (name, p.toLong, n)
        }
      }.sortBy { case (_, p, n) => -(n - p) }
      if (prevEx.nonEmpty) {
        System.err.println(s"[bench] vs ${prev.getFileName}: " +
          s"${exRegs.size} exchange-count regression(s) (increase > 2)")
        exRegs.take(5).foreach { case (name, p, n) =>
          System.err.println(f"[bench]   $name%-26s $p -> $n exchanges")
        }
      }
      val prevNodes = if (prevSf == sfNum) parsePlanNodes(prevJson)
                      else Map.empty[String, Double]
      val nodeRegs = nodeCnt.toSeq.flatMap { case (name, n) =>
        prevNodes.get(name).collect {
          case p if n > p * 1.25 && n - p > 5 => (name, p.toLong, n)
        }
      }.sortBy { case (_, p, n) => -(n - p) }
      if (prevNodes.nonEmpty) {
        System.err.println(s"[bench] vs ${prev.getFileName}: " +
          s"${nodeRegs.size} plan-node-count regression(s) (>25% and >5)")
        nodeRegs.take(5).foreach { case (name, p, n) =>
          System.err.println(f"[bench]   $name%-26s $p -> $n plan nodes")
        }
      }
    }

    // printed LAST so it sits at the very end of the captured tail
    println(line(results.filter(r => headline(r._1))))
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Fingerprint of a fixture directory's GENERATION: md5 over the
    * sorted (relative path, size, mtime-millis) of every regular file
    * under it, first 12 hex chars. Content-seed-identical regenerations
    * still flip it (fresh mtimes) — deliberately: the driver's
    * regeneration is exactly the event after which wall-time
    * comparisons must be refused. Pure metadata walk, no file reads. */
  private[graft] def fixtureFingerprint(dir: String): String = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return "nofixtures"
    val md = java.security.MessageDigest.getInstance("MD5")
    val stream = Files.walk(root)
    try {
      val entries = new java.util.ArrayList[String]()
      stream.filter(Files.isRegularFile(_)).forEach { p =>
        entries.add(root.relativize(p).toString + "|" + Files.size(p) +
          "|" + Files.getLastModifiedTime(p).toMillis)
      }
      java.util.Collections.sort(entries)
      entries.forEach(e => md.update(e.getBytes("UTF-8")))
    } finally stream.close()
    md.digest().map("%02x".format(_)).mkString.take(12)
  }

  /** the committed full-coverage baseline, if present. Unlike the
    * driver's BENCH_r*.json (headline subset only), this carries every
    * query — regenerate with a full sf0.1 Bench run on a quiet host and
    * commit the refreshed file. */
  private def baselineFile(): Option[java.nio.file.Path] =
    Some(Paths.get("bench_baseline.json")).filter(Files.exists(_))

  /** newest committed round benchmark (BENCH_r<NN>.json) in cwd, if any */
  private def latestRoundFile(): Option[java.nio.file.Path] = {
    val re = "BENCH_r(\\d+)\\.json".r
    val stream = Files.newDirectoryStream(Paths.get("."))
    try {
      var best: Option[(Int, java.nio.file.Path)] = None
      stream.forEach { p =>
        re.findFirstMatchIn(p.getFileName.toString).foreach { m =>
          val n = m.group(1).toInt
          if (best.forall(_._1 < n)) best = Some((n, p))
        }
      }
      best.map(_._2)
    } finally stream.close()
  }

  /** pull the flat {"name":sec,...} pairs out of a bench JSON line — the
    * format is machine-written with no nesting inside the named maps, so
    * a regex parse is exact here */
  private[graft] def parseQueryTimes(json: String): Map[String, Double] =
    parseNamedMap(json, "queries")

  private[graft] def parseShuffleMb(json: String): Map[String, Double] =
    parseNamedMap(json, "shuffle_mb")

  private[graft] def parseExchanges(json: String): Map[String, Double] =
    parseNamedMap(json, "exchanges")

  private[graft] def parsePlanNodes(json: String): Map[String, Double] =
    parseNamedMap(json, "plan_nodes")

  private def parseNamedMap(json: String, key: String): Map[String, Double] = {
    val body = ("\"" + key + "\":\\{([^}]*)\\}").r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    "\"([A-Za-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }
}
