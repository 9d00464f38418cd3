package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.DedupOps

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private val corpus = docs(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat", // near-dup of 1
    3L -> "completely different text with no shared shingles at all",
    4L -> "the quick brown fox jumps over the lazy dog", // exact dup of 1
    5L -> "one two three"                                // too short for many grams
  )

  test("exactDedupRanks groups identical content and ranks by doc_id") {
    val r = DedupOps.exactDedupRanks(corpus)
      .select("doc_id", "dup_rank", "is_canonical")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r(1L) == (1L, true))   // canonical of the 1/4 group
    assert(r(4L) == (2L, false))
    assert(r(2L) == (1L, true))   // unique contents are their own canonicals
    assert(r(3L) == (1L, true))
  }

  test("ngramJaccardPairs finds the near-dup pair with correct jaccard") {
    val pairs = DedupOps.ngramJaccardPairs(corpus, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1-2 share 6 of 7 trigrams each: J = 6/(7+7-6) = 0.75; 1-4 identical: J = 1.0
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 2 && math.abs(j - 0.75) < 1e-12 })
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 4 && j == 1.0 })
    assert(!pairs.exists { case (a, b, _) => a == 3 || b == 3 })
  }

  test("containmentPairs catches a doc embedded in a longer one") {
    // doc 10's 4 trigrams ALL appear in doc 11 (full containment) while
    // Jaccard is only 4/12 — the asymmetric case the operator exists for
    val c = docs(
      10L -> "alpha beta gamma delta epsilon zeta",
      11L -> ("prefix words first alpha beta gamma delta epsilon zeta " +
        "and then a long unrelated tail keeps the union large here"))
    val r = DedupOps.containmentPairs(c, n = 3, num = 4, den = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq((10L, 11L, 1000000000L)))
    assert(DedupOps.ngramJaccardPairs(c, 3, 0.5).count() == 0)
    // directionality: both sides reported iff both clear the threshold
    val twins = docs(20L -> "one two three four five",
      21L -> "one two three four five")
    val both = DedupOps.containmentPairs(twins, 3, 4, 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(both == Set((20L, 21L), (21L, 20L)))
  }

  test("minHashNearDups recalls exact and near dups, exact-verified") {
    val pairs = DedupOps.minHashNearDups(corpus, n = 3, k = 128, bands = 64,
      minJaccard = 0.5).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((2L, 4L)))
  }

  test("simHashNearDups finds exact dup (hamming 0) and near dup") {
    val pairs = DedupOps.simHashNearDups(corpus, maxHamming = 14,
      n = 3, minJaccard = 0.5).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 4L)))
  }

  test("band-math misconfigurations are rejected") {
    val sigs = DedupOps.minHashSignatures(corpus, 3, 16)
    intercept[IllegalArgumentException](DedupOps.minHashCandidates(sigs, 5, 3))
    intercept[IllegalArgumentException](
      DedupOps.minHashNearDups(corpus, 3, 16, 5, 0.5))
    intercept[IllegalArgumentException]( // radius beyond blocks - comboSize
      DedupOps.simHashNearDups(corpus, 15, 3, 0.5, blocks = 16, comboSize = 2))
    intercept[IllegalArgumentException]( // comboSize >= blocks
      DedupOps.simHashNearDups(corpus, 1, 3, 0.5, blocks = 4, comboSize = 4))
  }

  test("nearDupClusters returns an empty frame for an empty pair list") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DedupOps.nearDupClusters(empty).count() == 0)
  }

  test("nearDupClusters collapses transitive chains to one component") {
    // 1~2, 2~3 (no 1~3 pair) must land in ONE cluster labeled min=1;
    // 7~8 is a separate component; 9 is in no pair -> absent
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = DedupOps.nearDupClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("nearDupClusters: contraction and propagation agree on a forest") {
    // two chains, one triangle-with-tail, one isolated pair — labels
    // from both paths must be the identical min-reachable doc_id map
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L),         // chain
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L), // triangle + tail
      (30L, 31L)).toDF("doc_a", "doc_b")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val viaContraction = asMap(DedupOps.nearDupClusters(pairs))
    val viaPropagation = asMap(NearDupReference.clustersWithRounds(pairs)._1)
    assert(viaContraction == viaPropagation)
    assert(viaContraction == Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("nearDupClusters: adversarial 64-doc chain — contraction O(log n), " +
      "propagation ~diameter") {
    // a 64-doc template-family chain i~i+1: the worst case for min-label
    // propagation (the min label crawls one hop per round, so rounds ~
    // diameter 63) and the case the large-star/small-star contraction
    // was designed for (each round roughly halves path lengths)
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (contracted, contractionRounds) =
      DedupOps.nearDupClustersWithRounds(pairs)
    val (propagated, propagationRounds) =
      NearDupReference.clustersWithRounds(pairs)
    val cm = contracted.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val pm = propagated.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cm == pm && cm == (0L to 63L).map(_ -> 0L).toMap)
    assert(contractionRounds <= 10,
      s"contraction should need O(log 64) rounds, took $contractionRounds")
    assert(propagationRounds >= 30,
      s"propagation on a 64-chain should need ~diameter rounds, " +
        s"took $propagationRounds")
    assert(contractionRounds * 3 < propagationRounds)
  }

  test("thresholdYieldCurve strictly decreases on a graded near-dup tail") {
    // five isolated base/edit pairs on disjoint vocabularies, the edit
    // replacing the last m of 22 words: word-3-gram jaccard =
    // (n-m-2)/(n+m-2), so m = 1,3,4,6,8 lands one pair in each band
    // 0.905 / 0.739 / 0.667 / 0.538 / 0.4 — the light-edit tail the
    // driver fixture lacks (its jaccard distribution is bimodal, which
    // is why the d19 gate's curve is legitimately flat there)
    val n = 22
    val rows = Seq(1 -> 1, 2 -> 3, 3 -> 4, 4 -> 6, 5 -> 8).flatMap {
      case (k, m) =>
        val base = (1 to n).map(i => s"p${k}w$i").mkString(" ")
        val edit = ((1 to n - m).map(i => s"p${k}w$i") ++
          (1 to m).map(i => s"p${k}x$i")).mkString(" ")
        Seq((k * 10L, base), (k * 10L + 1, edit))
    }
    val pairs = DedupOps.ngramJaccardPairs(rows.toDF("doc_id", "text"),
      n = 3, minJaccard = 0.5)
    val curve = DedupOps.thresholdYieldCurve(pairs, Seq(0.5, 0.6, 0.7, 0.8))
      .collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(curve == Map(0.5 -> ((4L, 8L)), 0.6 -> ((3L, 6L)),
      0.7 -> ((2L, 4L)), 0.8 -> ((1L, 2L))),
      s"curve must lose exactly one pair per grid step, got $curve")
  }

  test("chunkNearDupsAuto's arithmetic chunk count equals chunkVectors") {
    // the sizing rule must agree with the builder's window rule exactly:
    // lengths straddling the size boundary, below it, and far above it
    val docs2 = Seq(
      (1L, "x" * 499), (2L, "x" * 500), (3L, "x" * 501),
      (4L, "x" * 47), (5L, "x" * 2100), (6L, "")).toDF("doc_id", "text")
    val built = DedupOps.chunkVectors(docs2, size = 500, stride = 400,
      dims = 16).count()
    val arith = docs2.agg(sum(expr(
      "int(ceil(greatest(length(text) - 500, 0) / 400.0D)) + 1")))
      .head().getLong(0)
    assert(arith == built, s"arithmetic $arith != built $built")
    // empty input: SUM is NULL — the coalesce must fall through to
    // autoCells' floor instead of throwing on getLong (ADVICE r11)
    val none = DedupOps.chunkNearDupsAuto(
      docs2.filter(lit(false))).count()
    assert(none == 0L, s"empty corpus must yield zero dup pairs, got $none")
  }

  test("prefixFilterJaccardPairs equals the exact all-pairs join") {
    // near-dup family (light edits of one base), plus distinct noise
    // docs sharing common words — the shape where hot grams would blow
    // up a naive postings self-join but land OUTSIDE the rare-first
    // prefixes
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (Seq(
      (1L, base),
      (2L, base + " extra"),
      (3L, base.replace("delta", "DELTA")),
      (4L, "alpha beta unrelated words here that share stop grams alpha beta"),
      (5L, "completely different content with its own vocabulary set"),
      (6L, "another unrelated document full of common alpha beta filler")) ++
      (7L to 40L).map(i =>
        (i, s"noise doc $i alpha beta " + ("filler" + i + " ") * 8))
      ).toDF("doc_id", "text")
    val exact = DedupOps.ngramJaccardPairs(docs, n = 3, minJaccard = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPrefix = DedupOps
      .prefixFilterJaccardPairs(docs, n = 3, minJaccard = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain true near-dup pairs")
    assert(viaPrefix == exact,
      s"prefix-filtered join must be EXACT: got $viaPrefix vs $exact")
  }

  test("prefix filter keeps pairs sitting EXACTLY at the threshold") {
    // the ADVICE r12 double-ceiling bug, pinned: with t = 0.55 the double
    // product 0.55 * 20 = 11.000000000000002 rounds ceil() up to 12, one
    // past the mathematical ceiling — the PPJoin length filter then
    // demands b.sz >= 12 and prunes a pair whose Jaccard is exactly the
    // threshold. Fixture: B's 11 unigrams are a subset of A's 20, so
    // J = 11/20 = 0.55 == t exactly; the integer ceil-division bound must
    // keep it. (Under the old double bound B's prefix length was even
    // 11 - 12 + 1 = 0 — B contributed no postings at all.)
    val wordsA = (1 to 20).map(i => s"tok$i")
    val docs = (Seq(
      (1L, wordsA.mkString(" ")),
      (2L, wordsA.take(11).mkString(" "))) ++
      // noise so the df/rarest-first machinery has real work
      (3L to 12L).map(i => (i, s"noise$i " + (s"fill$i " * 5))))
      .toDF("doc_id", "text")
    val exact = DedupOps.ngramJaccardPairs(docs, n = 1, minJaccard = 0.55)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)),
      s"fixture must put exactly (1,2) at J == 0.55: $exact")
    val viaPrefix = DedupOps
      .prefixFilterJaccardPairs(docs, n = 1, minJaccard = 0.55)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPrefix == exact,
      s"threshold-boundary pair pruned: got $viaPrefix want $exact")
  }

  test("symspellPairs: FastSS completeness at k=1, ED=2 excluded") {
    // every ED<=1 relation class: substitution (cat/cut), deletion/
    // insertion (cat/cart, cat/at), identical-length swap counts as 2
    // (cat/act is ED 2 via one sub? no: c<->a swap = 2 subs) — excluded
    val strs = Seq("cat", "cut", "cart", "at", "act", "dog", "dot", "xyz")
      .toDF("str")
    val got = DedupOps.symspellPairs(strs)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // brute-force ground truth over all pairs
    val all = Seq("cat", "cut", "cart", "at", "act", "dog", "dot", "xyz")
    def ed(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for (a <- all; b <- all if a < b && ed(a, b) <= 1)
      yield (a, b)).toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
    assert(want.contains(("at", "cat")) && want.contains(("cat", "cut")) &&
      !want.contains(("act", "cat")), "fixture must exercise all classes")
  }

  test("prefix filter generates far fewer candidates than all-pairs") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    val posts = DedupOps.shinglePostings(docs, 3)
      .select("doc_id", "gram_id")
    // replicate the operator's candidate stage standalone
    import org.apache.spark.sql.expressions.Window
    val dfreq = posts.groupBy("gram_id").agg(count(lit(1)).as("df"))
    val sizes = posts.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("gram_id").asc)
    val pre = posts.join(dfreq, "gram_id")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("sz") - ceil(col("sz") * 0.6) + 1)
      .select(col("doc_id"), col("gram_id"), col("sz"))
    val nCand = pre.as("a")
      .join(pre.as("b"),
        col("a.gram_id") === col("b.gram_id") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") >= ceil(col("b.sz") * 0.6) &&
          col("b.sz") >= ceil(col("a.sz") * 0.6))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val nDocs = docs.count()
    val allPairs = nDocs * (nDocs - 1) / 2
    assert(nCand * 5 < allPairs,
      s"prefix candidates $nCand not < 20% of all-pairs $allPairs")
  }

  test("chunkNearDups finds a cross-doc chunk dup and never all-pairs") {
    // docs 1 and 2 share an identical long passage (one chunk window's
    // worth); doc 3 is alphabet noise with a disjoint char profile
    val shared = ("the quick brown fox jumps over the lazy dog " * 12)
    val docs = Seq(
      (1L, shared + "tail one"),
      (2L, shared + "completely different tail"),
      (3L, "zzzz 9999 xxxx qqqq " * 30)).toDF("doc_id", "text")
    val out = DedupOps.chunkNearDups(docs, size = 500, stride = 400,
        dims = 16, nCells = 2, t2 = 0.998)
      .collect()
    val totalChunks = out.map(_.getAs[Long]("n_chunks")).sum
    val cand = out.map(_.getAs[Long]("n_cand_pairs")).sum
    val dups = out.map(_.getAs[Long]("n_dup_pairs")).sum
    // identical first-window chunks of docs 1 and 2 must be flagged
    assert(dups >= 1, out.mkString(", "))
    // candidate set is cell-bounded: strictly fewer than all cross-doc
    // pairs would give (sum over cells of |cell|^2 < total^2 / 2)
    assert(cand < totalChunks * (totalChunks - 1) / 2,
      s"candidates not bounded: $cand of ${totalChunks} chunks")
  }

  test("substringDupPairs: anchored grams catch a span at DIFFERENT offsets") {
    // docs 1 and 2 share the verbatim span "sphinx of black quartz judge
    // my vow" but at different character offsets — the case fixed-stride
    // position sampling misses and word-anchoring must catch. Doc 3 has
    // no 12-char verbatim overlap with either.
    val shared = "sphinx of black quartz judge my vow"
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon"),
      (2L, s"one $shared two three four five six seven"),
      (3L, "completely different words with no long run at all here"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.substringDupPairs(docs, gramLen = 12,
        maxDocsPerGram = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"got $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L), s"got $pairs")
  }

  test("chunkVectors: chunk keys stay unique past 100k windows per doc") {
    // round-9 finding: the old radix (1e5) collided doc 0's chunk 100000
    // with doc 1's chunk 0 at ~40M chars; the 2^21 radix moves the bound
    // to ~839M chars at the default stride. Exercise >100k windows
    // cheaply with stride 1 on a 120k-char doc plus a neighbor doc whose
    // keys would have collided under the old radix.
    val big = "a" * 120000
    val docs = Seq((0L, big), (1L, "b" * 64)).toDF("doc_id", "text")
    val e = DedupOps.chunkVectors(docs, size = 8, stride = 1, dims = 4)
    val n = e.count()
    assert(n > 100000L, s"windows: $n")
    assert(e.select("ck").distinct().count() == n, "chunk keys collided")
  }

  test("autoCells follows the sqrt(N) IVF sizing rule") {
    assert(DedupOps.autoCells(0L) == 16)
    assert(DedupOps.autoCells(256L) == 16)      // floor keeps tiny corpora gated
    assert(DedupOps.autoCells(1000000L) == 1000)
    // 100x the corpus -> 10x the cells: per-cell occupancy (and so
    // within-cell pair work) grows sqrt(100)=10x, never 100x
    assert(DedupOps.autoCells(100000000L) == 10 * DedupOps.autoCells(1000000L))
  }

  test("chunkNearDupsAuto bounds per-cell candidates as the corpus grows") {
    // the spec pinning VERDICT Missing #3, on the real corpus: at 10x
    // the documents, sqrt(N) cells keep the max per-cell candidate-pair
    // count growing ~linearly (avg cell occupancy ~ sqrt(10)x, pairs ~
    // 10x) — a fixed cell count would grow it ~quadratically (~100x).
    // The slack (x20 + 100) absorbs occupancy skew while still failing
    // hard on the quadratic shape this guards against.
    def maxCand(dir: String): Long =
      DedupOps.chunkNearDupsAuto(
          spark.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "text"))
        .agg(org.apache.spark.sql.functions.max("n_cand_pairs"))
        .head.getLong(0)
    val small = maxCand("/root/testdata/sf0.001")
    val large = maxCand("/root/testdata/sf0.01")
    assert(large <= small * 20 + 100,
      s"per-cell candidates grew superlinearly: $small -> $large")
  }

  test("substringDupPairs: anchors survive runs of 1-char words") {
    // the round-9 advisory: a fixed 12-word window spans only 23 chars
    // when words are single chars, silently dropping anchors; the
    // derived window (gramLen/2 + 1 words) must catch a repeated span
    // made entirely of 1-char words
    val span = "a b c d e f g h i j k l m n o p q r s t"  // 39 chars
    val docs = Seq(
      (1L, s"xx yy $span zz"),
      (2L, s"prefix words here $span suffix"),
      (3L, "none of the shared material appears in this document at all"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.substringDupPairs(docs, gramLen = 32,
        maxDocsPerGram = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"got $pairs")
  }

  test("substringDupPairs: the gram-frequency cap drops corpus boilerplate") {
    // every doc opens with the same 20-char boilerplate; with the cap
    // below the doc count the boilerplate gram is excluded and no pairs
    // survive, so a universal header cannot go quadratic
    val docs = (1L to 6L).map(i =>
      (i, s"common header text here unique$i tail$i")).toDF("doc_id", "text")
    val pairs = DedupOps.substringDupPairs(docs, gramLen = 20,
      maxDocsPerGram = 4).collect()
    assert(pairs.isEmpty, pairs.mkString(", "))
  }

  test("char_hist == the interpreted HOF formulation, byte for byte") {
    graft.expressions.VectorExpressions.registerAll(spark)
    val dims = 16
    val hof = (0 until dims).map(j =>
      s"size(filter(cs, c -> ascii(c) % $dims = $j))").mkString(
        "transform(array(", ",", "), x -> cast(x as long))")
    // adversarial inputs: mixed case, digits, punctuation, whitespace,
    // empty, and multi-byte UTF-8 (é, 中) that the byte-wise scan must
    // exclude exactly like the single-char string comparison did
    val rows = Seq("Hello World 123", "", "   ", "ALLCAPS", "0a1b2c3",
      "punct!@#$%^&*()", "café 中文 mix9z",
      "zzzz9999aaaa0000").toDF("chunk")
    val both = rows.select(
      expr(s"""transform(array(${(0 until dims).map(j =>
        s"size(filter(filter(split(lower(chunk), ''), c -> (c >= 'a' AND c <= 'z') OR (c >= '0' AND c <= '9')), c -> ascii(c) % $dims = $j))").mkString(",")}), x -> cast(x as long))""").as("old"),
      call_function("char_hist", lower(col("chunk")), lit(dims)).as("neu"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"old=${r.getSeq[Long](0)} new=${r.getSeq[Long](1)}")
    }
    val _ = hof // silence unused (documents the replaced shape)
  }

  test("vec_dot_long / vec_l2sq_long == the HOF folds") {
    graft.expressions.VectorExpressions.registerAll(spark)
    // in-domain values only: chunk vectors are counts <= chunk size, so
    // products can't overflow (under ANSI the HOF fold would RAISE on
    // overflow where the native loop wraps — out of domain either way)
    val df = Seq(
      (Seq(1L, 2L, 3L, -4L), Seq(5L, -6L, 7L, 8L)),
      (Seq(0L, 0L), Seq(0L, 0L)),
      (Seq(500L, 499L, 1L), Seq(3L, 500L, 250000L)))
      .toDF("a", "b")
    val r = df.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)").as("dh"),
      call_function("vec_dot_long", col("a"), col("b")).as("dn"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)").as("lh"),
      call_function("vec_l2sq_long", col("a"), col("b")).as("ln"))
      .collect()
    r.foreach { row =>
      assert(row.getLong(0) == row.getLong(1))
      assert(row.getLong(2) == row.getLong(3))
    }
  }

  test("vec_dot_long / vec_l2sq_long: length mismatch -> NULL, like the HOF") {
    graft.expressions.VectorExpressions.registerAll(spark)
    // zip_with pads the shorter array with nulls, which null the fold;
    // the native expressions must diverge the same way rather than
    // silently truncating to the common prefix
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L))).toDF("a", "b")
    val r = df.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)").as("dh"),
      call_function("vec_dot_long", col("a"), col("b")).as("dn"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)").as("lh"),
      call_function("vec_l2sq_long", col("a"), col("b")).as("ln"))
      .collect()
    r.foreach { row =>
      assert(row.isNullAt(0) && row.isNullAt(1), "dot: HOF and native must both be NULL")
      assert(row.isNullAt(2) && row.isNullAt(3), "l2sq: HOF and native must both be NULL")
    }
  }

  test("d20 banding curve: nested halvings give monotone candidate sets") {
    // the four bandings (2x8, 4x4, 8x2, 16x1) are nested halvings of the
    // SAME 16 signature columns: a collision on an r=8 band implies
    // collisions on both of its r=4 halves, so candidate sets are nested
    // by construction and both counts must be nondecreasing in bands —
    // the structural property that makes the tuning table readable as an
    // S-curve (more bands never loses a candidate, only adds junk)
    val rows = SparkEntry.queries("d20_banding_curve")(spark, sfTiny)
      .orderBy("bands").collect()
      .map(r => (r.getAs[Long]("bands"), r.getAs[Long]("n_cand_pairs"),
        r.getAs[Long]("n_true_pairs")))
    assert(rows.map(_._1).toSeq == Seq(2L, 4L, 8L, 16L))
    rows.sliding(2).foreach { case Array((_, c1, t1), (b2, c2, t2)) =>
      assert(c2 >= c1 && t2 >= t1,
        s"candidate nesting violated at bands=$b2: cand $c1->$c2, true $t1->$t2")
    }
    rows.foreach { case (b, c, t) =>
      assert(t <= c, s"true pairs exceed candidates at bands=$b")
    }
  }

  test("d21 line dedup: every surviving line is globally unique") {
    // the C4 contract: after corpus-level line dedup, each distinct line
    // survives EXACTLY once across the whole corpus (its first carrier),
    // so the concatenated kept text is duplicate-free — including the two
    // injected boilerplate lines, which must survive on one doc only
    val out = SparkEntry.queries("d21_line_dedup")(spark, sfTiny).collect()
    val kept = out.flatMap(r => r.getAs[String]("clean_text")
      .split("\n").filter(_.nonEmpty))
    assert(kept.length == kept.distinct.length,
      "a line survived dedup more than once")
    assert(kept.length == out.map(_.getAs[Long]("n_kept")).sum)
    val news = kept.count(_ == "subscribe to our newsletter for daily updates now")
    val copy = kept.count(_ == "all rights reserved contact the site administrator today")
    assert(news == 1 && copy == 1,
      s"boilerplate must survive on exactly one carrier, got $news/$copy")
  }

  test("substringDedupSpans: one carrier keeps a planted span, all other " +
      "occurrences (cross-doc and within-doc) are excised") {
    // span of 9 words (> anchorWords won't matter; gramLen 16 ->
    // anchorWords 9); planted verbatim in docs 10/20/30 at different
    // word offsets and TWICE in doc 40
    val span = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val fix = docs(
      10L -> s"unique lead-in words here $span and unique tail ten",
      20L -> s"$span with other following content entirely different",
      30L -> s"totally different opening then $span closes this doc",
      40L -> s"$span repeated inside one document $span tail marker",
      50L -> "no shared content in this document at all whatsoever")
    val out = DedupOps.substringDedupSpans(fix, gramLen = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 10 is the corpus-wide first occurrence (min doc_id) -> keeps
    assert(out(10L)._2 == 0L, s"carrier must keep the span: ${out(10L)}")
    assert(out(10L)._3.contains("alpha bravo charlie"))
    // every later occurrence loses the span's anchored words
    for (id <- Seq(20L, 30L)) {
      assert(out(id)._2 > 0L, s"doc $id must lose words: ${out(id)}")
      assert(!out(id)._3.contains("alpha bravo charlie delta echo"),
        s"doc $id must not retain the span: ${out(id)._3}")
    }
    // within-doc repeat: doc 40's SECOND occurrence also removed
    assert(out(40L)._2 > 0L)
    assert(!out(40L)._3.contains(
      "india repeated inside one document alpha"),
      s"doc 40 second occurrence must go: ${out(40L)._3}")
    // the untouched doc survives byte-identical
    assert(out(50L) ==
      ((9L, 0L, "no shared content in this document at all whatsoever")))
    // removal never invents words: clean_text words are a subset kept
    // in original order
    for ((id, (_, _, txt)) <- out) {
      val orig = fix.filter(col("doc_id") === id)
        .head().getString(1).split(" ")
      val clean = if (txt.isEmpty) Array.empty[String] else txt.split(" ")
      var oi = 0
      for (w <- clean) {
        while (oi < orig.length && orig(oi) != w) oi += 1
        assert(oi < orig.length, s"doc $id: '$w' out of order vs original")
        oi += 1
      }
    }
  }

  test("substringDedupSpans: a removal window truncated by the doc end " +
      "counts only real words (r18 row-local assembly)") {
    // gramLen 16 -> anchorWords 9. With 8-char words, the anchor at the
    // third word reaches 16 chars from just TWO remaining words, so its
    // covered window [i, i+9) extends past the array — the clamp must
    // count {2, 3} removed, never the padded 9.
    val fix = docs(
      1L -> "xx yy AAAAAAAA BBBBBBBB",
      2L -> "zz ww AAAAAAAA BBBBBBBB")
    val out = DedupOps.substringDedupSpans(fix, gramLen = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 is the corpus-wide first occurrence and keeps everything
    assert(out(1L) == ((4L, 0L, "xx yy AAAAAAAA BBBBBBBB")), s"got ${out(1L)}")
    // doc 2 loses exactly the two real words the shared gram anchors
    assert(out(2L) == ((4L, 2L, "zz ww")), s"got ${out(2L)}")
  }

  test("d22 SemDeDup: each planted twin pair keeps exactly one member") {
    // identical vectors land in the same cell with identical d2, so the
    // id tiebreak decides: the twin (higher id) survives, the original
    // is dropped — and nothing WITHOUT a duplicate is ever dropped
    val out = SparkEntry.queries("d22_semdedup")(spark, sfTiny).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_dups"),
        r.getAs[Boolean]("is_kept")))
    val byId = out.map(t => t._1 -> t).toMap
    val originals = out.filter(t => t._1 < 100000 && t._1 % 10 == 0)
    assert(originals.nonEmpty)
    originals.foreach { case (id, nd, kept) =>
      val (_, ndT, keptT) = byId(id + 100000)
      assert(nd >= 1 && ndT >= 1, s"twin pair $id not detected as dups")
      assert(!kept && keptT,
        s"pair $id: expected original dropped / twin kept, got $kept/$keptT")
    }
    out.filter(_._2 == 0).foreach { case (id, _, kept) =>
      assert(kept, s"vec $id has no duplicates but was dropped")
    }
  }
}
