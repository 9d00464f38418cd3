package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Distributed deduplication operators for document corpora.
  *
  * Four families, in increasing scale-sophistication:
  *  - exact: content-hash ranking (one shuffle, keyed by hash);
  *  - n-gram Jaccard: shingle-postings self-join — exact pairwise
  *    similarity, cost ~ sum over grams of df(gram)^2; at corpus scale
  *    run it only as the verifier on a candidate pair list;
  *  - MinHash + LSH banding: signature agg (one shuffle) + band-bucket
  *    join — candidate generation is linear in corpus size, the 100 TB
  *    path; candidates are exact-verified so precision is exact and the
  *    band/row config bounds the recall loss (r=2, b=64 ⇒ a J=0.6 pair
  *    is missed with prob (1-0.36)^64 ≈ 4e-13);
  *  - SimHash: 64-bit signature, banded into 64/bands-bit keys
  *    (pigeonhole: hamming <= bands-1 is guaranteed a shared band) plus a
  *    token-count log2 bucket as a secondary join key so band buckets stay
  *    bounded at large N (near-dups have near-equal lengths; each doc is
  *    emitted into its own and the next bucket, so pairs one boundary
  *    apart still collide).
  *
  * All signatures are built from xxhash64 (stable across runs/executors),
  * so results are deterministic — required by the driver's repeated
  * verify runs. No UDFs: signature math is shiftright/pmod/bitwise
  * expressions, codegen-friendly.
  *
  * Cache ownership: the near-dup operators persist their postings/bucket
  * frames (MEMORY_AND_DISK, spillable) because each feeds multiple plan
  * branches of ONE returned query — and a lazy operator cannot know when
  * its caller's action has run, so it cannot unpersist. The CALLER owns
  * the cache lifecycle: run the action, then `spark.catalog.clearCache()`
  * (what Bench/Verify do between queries) or track and unpersist the
  * frames individually in a long-lived session.
  */
object DedupOps {

  /** lowercase-hex content hash for exact dedup — md5 so the oracle can
    * recompute it (DuckDB ships md5; xxhash64 it does not). */
  def contentHash(textCol: Column): Column = md5(textCol.cast("binary"))

  /** Per-doc exact-dedup verdict: duplicate rank within each identical-
    * content group (ordered by doc_id) and a canonical flag. Keyed by the
    * content hash — one shuffle, no skew beyond true duplicate groups. */
  def exactDedupRanks(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    docs.select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .withColumn("dup_rank", row_number().over(w).cast("long"))
      .withColumn("is_canonical", col("dup_rank") === 1)
  }

  /** distinct (doc_id, gram_id) postings; gram identity is the full
    * 64-bit xxhash64 of the token n-tuple — a 31-bit id would collide
    * pervasively at corpus scale and inflate Jaccard. The bounded-domain
    * mod happens only inside the MinHash affine step where it is actually
    * required.
    *
    * The hash is taken over the n token columns directly (multi-arg
    * xxhash64), NOT over a concatenated gram string: building the string
    * ran an interpreted concat lambda per shingle and shuffled ~20-byte
    * strings through the distinct — hashing the tuple keeps the whole
    * pipeline codegen'd and shuffles 8-byte ids (measured ~35% off the
    * postings stage at sf0.1). Tokens cannot contain the separator (they
    * are split ON spaces), so tuple identity == string identity. */
  def shinglePostings(docs: DataFrame, n: Int): DataFrame =
    shinglePostingsFromToks(docs.withColumn("toks", tokens("text")), n)

  /** postings over an ALREADY-tokenized frame (doc_id, toks) — callers
    * whose funnel tokenized the corpus anyway (t48's quality metrics)
    * persist toks once and feed it here, instead of paying a second
    * full tokenize pass inside [[shinglePostings]]. Identical output:
    * toks must be exactly `tokens(text)`. */
  def shinglePostingsFromToks(docs: DataFrame, n: Int): DataFrame = {
    val tokCols = (0 until n).map(k =>
      expr(s"element_at(toks, CAST(i + $k AS INT))"))
    docs
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${n - 1})")).as("i"))
      .select(col("doc_id"), xxhash64(tokCols: _*).as("gram_id"))
      .distinct()
  }

  private def jaccardOf(common: Column, sa: Column, sb: Column): Column =
    common.cast("double") / (sa + sb - common)

  /** exact n-gram Jaccard >= minJaccard for a given candidate pair list
    * (doc_a < doc_b) — the verifier every approximate family funnels
    * through, so precision is always exact — against an already-built
    * (and ideally persisted) postings frame, which lets the candidate
    * generator and the verifier share ONE shingle pipeline instead of
    * scanning+tokenizing the corpus twice per near-dup query. */
  def verifyJaccardOnPosts(cands: DataFrame, posts: DataFrame,
                           minJaccard: Double): DataFrame = {
    val sizes = posts.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    cands.as("c")
      .join(posts.as("a"), col("c.doc_a") === col("a.doc_id"))
      .join(posts.as("b"),
        col("c.doc_b") === col("b.doc_id") && col("a.gram_id") === col("b.gram_id"))
      .groupBy(col("c.doc_a").as("doc_a"), col("c.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccardOf(col("common"), col("sa.sz"), col("sb.sz")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Prefix-filtered EXACT similarity join (the AllPairs/PPJoin family:
    * Chaudhuri et al. 2006, Xiao et al. 2008) — the deterministic
    * alternative to MinHash LSH when the dedup contract forbids missed
    * pairs: result is EXACTLY the pairs with Jaccard >= `minJaccard`
    * (no probabilistic recall), but candidate generation never goes
    * all-pairs. The filter: under one GLOBAL token order (rarest gram
    * first — df ASC, gram_id tiebreak), two sets with J >= t must share
    * a gram within each set's first |d| - ceil(t*|d|) + 1 grams (if
    * J(a,b) >= t then |a∩b| >= t*|a|, so a's last ceil(t*|a|) - 1 grams
    * alone cannot hold the whole intersection) — so the candidate join
    * runs on the PREFIX postings only, and the rarest-first order makes
    * those postings the shortest ones in the corpus. The PPJoin length
    * filter (t*max(|a|,|b|) <= min(|a|,|b|), integer-exact here) prunes
    * inside the join condition before the pair ever materializes.
    *
    * Scale shape: one df aggregation (keyed by gram), one per-doc rank
    * window (keyed by doc), a self-join on PREFIX postings (sum of
    * prefix-df^2, << full-postings df^2 — spec-pinned under 20% of
    * all-pairs on the fixture), then the shared exact verifier on the
    * surviving candidates. Hot grams land at the END of the global
    * order, so the quadratic term runs over rare grams by construction
    * — the skew story LSH solves probabilistically, solved exactly.
    *
    * Cache contract: the shingle-postings frame is persisted here and,
    * per the class doc, OWNED BY THE CALLER — run your action, then
    * `spark.catalog.clearCache()` (Bench/Verify do) or unpersist from the
    * storage tab; repeated library calls without either accumulate pinned
    * postings blocks (same contract as [[containmentPairs]]). */
  def prefixFilterJaccardPairs(docs: DataFrame, n: Int,
                               minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0 && minJaccard < 1.0,
      s"minJaccard must be in (0,1), got $minJaccard")
    val posts = shinglePostings(docs, n).select("doc_id", "gram_id")
      // doc_id-partitioned (the r19 minHashNearDups layout): the
      // verifier's two posting joins and the size aggregation key by
      // doc_id; the gram-keyed consumers (df aggregation, prefix
      // self-join) re-exchange either way, with the same partial
      // duplication as the old (doc, gram)-hash layout
      .repartition(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verifyJaccardOnPosts(
      prefixFilterCandidatePairs(posts, minJaccard), posts, minJaccard)
  }

  /** candidate stage of [[prefixFilterJaccardPairs]], exposed so the
    * crossover probe (and specs) can count candidates without paying
    * for verification. `posts` = (doc_id, gram_id) postings. */
  private[graft] def prefixFilterCandidatePairs(
      posts: DataFrame, minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ceil(t * sz) computed EXACTLY: double arithmetic overshoots the
    // mathematical ceiling when t*sz is an integer but the double product
    // rounds up (t=0.55, sz=100 -> ceil(55.000000000000007) = 56), which
    // would shorten the prefix / tighten the length filter and silently
    // drop pairs sitting exactly at the threshold — breaking the EXACT
    // contract. The threshold is quantized to 6 decimals (num/10^6, the
    // resolution anyone states a Jaccard threshold at) and the bound is
    // integer ceil-division: ceil(sz*num/den) = (sz*num + den-1) div den.
    // sz*num stays inside 64 bits for any per-doc shingle count < 9.2e12.
    // Quantization TRUNCATES (floor), never rounds: rounding UP (e.g. a
    // stated 0.5499996 -> 550000) would tighten the candidate bounds and
    // silently drop pairs in [minJaccard, num/den) — a false negative the
    // exact verifier cannot recover. Flooring only LOOSENS the bounds
    // (extra candidates), and verifyJaccardOnPosts removes the extras, so
    // the EXACT contract holds for thresholds stated at any precision.
    val den = 1000000L
    val num = (minJaccard * den).toLong
    def ceilT(szCol: String) = expr(s"(($szCol * $num) + ${den - 1}) div $den")
    val df = posts.groupBy("gram_id").agg(count(lit(1)).as("df"))
    val sizes = posts.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("gram_id").asc)
    val pre = posts.join(df, "gram_id")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("sz") - ceilT("sz") + 1)
      .select(col("doc_id"), col("gram_id"), col("sz"))
    val cands = pre.as("a")
      .join(pre.as("b"),
        col("a.gram_id") === col("b.gram_id") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") >= ceilT("b.sz") &&
          col("b.sz") >= ceilT("a.sz"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
  }

  /** Edit-distance-1 join via deletion neighborhoods (FastSS 2007 /
    * SymSpell): every distinct string generates itself + its |s|
    * single-deletion variants; ED<=1 pairs MUST share a variant
    * (substitution at i — both i-deletions equal; insert/delete — one
    * side's deletion equals the other verbatim), so one equi-join on
    * the variant key yields candidates LINEAR in corpus x length,
    * never all-pairs, and exact levenshtein verifies. Input: a `str`
    * column (assumed distinct, non-empty). Output: (a, b, dist) with
    * a < b, dist <= 1. */
  def symspellPairs(strs: DataFrame): DataFrame = {
    val vars = strs.select(col("str"), explode(expr(
      """concat(array(str),
           transform(sequence(1, length(str)),
             i -> concat(substring(str, 1, i - 1),
                         substring(str, i + 1, length(str)))))"""))
      .as("var"))
    vars.as("a").join(vars.as("b"),
        col("a.var") === col("b.var") && col("a.str") < col("b.str"))
      .select(col("a.str").as("a"), col("b.str").as("b"))
      .distinct()
      .withColumn("dist", levenshtein(col("a"), col("b")).cast("long"))
      .filter(col("dist") <= 1)
  }

  /** exact pairwise n-gram Jaccard >= minJaccard over all doc pairs.
    * At 100 TB run this only on LSH candidates (see minHashCandidates) —
    * kept as its own operator because it IS the exact verifier. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, minJaccard: Double): DataFrame = {
    // persisted: feeds both self-join branches plus the sizes agg
    val posts = shinglePostings(docs, n).select("doc_id", "gram_id")
      // NOT gram-partitioned: measured in r19 — the d03/d04 cache-layout
      // treatment applied here (repartition(gram_id) for the self-join)
      // ADDED 4.4 MB on every consumer with exchange counts flat: the
      // self-join's exchange is already computed once (ReuseExchange on
      // identical cached sides), so the explicit repartition only adds
      // its own write and pins 32 partitions, inflating the pair-count
      // partial aggregation's per-partition duplication.
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = posts.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = posts.as("a")
      .join(posts.as("b"),
        col("a.gram_id") === col("b.gram_id") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccardOf(col("common"), col("sa.sz"), col("sb.sz")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Dedup yield vs threshold from ONE pair pass (the d19 tuning
    * curve): the expensive shingle join runs once at the LOOSEST grid
    * point (the caller's minJaccard on `pairs`), then the broadcast
    * threshold grid fans each pair out to every grid point it clears
    * and a single keyed aggregation rolls the curve up — a
    * filter+union per threshold would recompute the pair generation
    * per grid point. Output: (threshold, n_pairs, n_docs_touched).
    * On a corpus with a graded near-dup tail the curve strictly
    * decreases (spec-pinned on a light-edit ladder); a flat curve is
    * the diagnostic saying the threshold choice is insensitive. */
  def thresholdYieldCurve(pairs: DataFrame,
                          thresholds: Seq[Double]): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val th = thresholds.toDF("threshold")
    pairs.join(broadcast(th), col("jaccard") >= col("threshold"))
      .select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("threshold"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        count_distinct(col("doc_id")).as("n_docs_touched"))
  }

  /** directed n-gram containment: (contained, container) pairs where at
    * least num/den of the contained side's shingles appear in the other
    * doc — the asymmetric criterion that catches doc-inside-doc
    * duplication (quote expansion, boilerplate wrapping) which Jaccard
    * under-scores when sizes differ. The threshold compares integers
    * (common·den >= size·num), and the reported ratio is integer
    * parts-per-1e9, so there is no float anywhere. Same all-pairs shape
    * as ngramJaccardPairs: the ground-truth verifier — at scale feed it
    * LSH candidates instead of the full cross product.
    *
    * Cache contract: the shingle-postings frame is persisted here and,
    * per the class doc, OWNED BY THE CALLER — run your action, then
    * `spark.catalog.clearCache()` (Bench/Verify do) or unpersist via the
    * frame's storage tab; repeated library calls without either will
    * accumulate pinned postings. */
  def containmentPairs(docs: DataFrame, n: Int,
                       num: Int, den: Int): DataFrame = {
    val posts = shinglePostings(docs, n).select("doc_id", "gram_id")
      // NOT gram-partitioned — same r19 measurement as
      // [[ngramJaccardPairs]]: the self-join exchange is already shared
      // via ReuseExchange, so the explicit repartition only adds bytes
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = posts.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val stats = posts.as("a")
      .join(posts.as("b"),
        col("a.gram_id") === col("b.gram_id") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("sa.sz").as("sa"), col("sb.sz").as("sb"))
    def side(contained: String, container: String, sz: String) =
      stats.filter(col("common") * den >= col(sz) * num)
        .select(col(contained).as("contained_doc"),
          col(container).as("container_doc"),
          expr(s"CAST(common * CAST(1000000000 AS BIGINT) div $sz AS BIGINT)")
            .as("c_e9"))
    side("doc_a", "doc_b", "sa").unionByName(side("doc_b", "doc_a", "sb"))
  }

  /** per-doc MinHash signature: k min-hashes over shingle ids as k
    * column-wise min aggregates — codegen'd HashAggregateExec with
    * primitive buffers, which holds up at any group-per-partition
    * cardinality (the corpus-scale case). The equivalent one-pass
    * graft.expressions.MinHashAgg (same hash family, bit-identical
    * signatures) exists for SQL callers and wide-k/few-group shapes,
    * but its ObjectHashAggregate path sort-falls-back past 128 groups
    * per partition. */
  def minHashSignatures(docs: DataFrame, n: Int, k: Int): DataFrame =
    minHashSignaturesFromPosts(shinglePostings(docs, n), k)

  /** signature builder over an existing postings frame (see
    * verifyJaccardOnPosts for why sharing the postings matters) */
  def minHashSignaturesFromPosts(posts: DataFrame, k: Int): DataFrame = {
    import graft.expressions.MinHashAgg.{M, hashFamily}
    val withId = posts.withColumn("gid31", pmod(col("gram_id"), lit(M)))
    val (as, bs) = hashFamily(k)
    val mins = (0 until k).map { i =>
      min(pmod(lit(as(i)) * col("gid31") + lit(bs(i)), lit(M))).as(s"mh_$i")
    }
    withId.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: docs sharing any (band, band-signature) bucket. */
  def minHashCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val nSig = sigs.columns.count(_.startsWith("mh_"))
    require(bands * rowsPerBand == nSig,
      s"bands($bands) * rowsPerBand($rowsPerBand) must equal signature size($nSig)")
    val bandCols = (0 until bands).map { bnd =>
      val rows = (0 until rowsPerBand).map(r => col(s"mh_${bnd * rowsPerBand + r}"))
      struct(lit(bnd).as("band"), xxhash64(rows: _*).as("sig"))
    }
    // persisted for the same reason as simHashCandidates: the self-join
    // would otherwise recompute the k-column signature aggregation once
    // per branch; cached rows are just (doc_id, bucket)
    val buckets = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), xxhash64(col("bk.band"), col("bk.sig")).as("bucket"))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, exact-verified: LSH candidates
    * (linear-ish) -> exact Jaccard on candidates only (the 100 TB
    * shape: no all-pairs join ever materializes). */
  def minHashNearDups(docs: DataFrame, n: Int, k: Int, bands: Int,
                      minJaccard: Double): DataFrame = {
    require(k % bands == 0, s"bands($bands) must divide k($k)")
    // ONE shingle pipeline feeds both the signature agg and the verifier.
    // The cache is doc_id-partitioned (§2.4): every consumer keys by
    // doc_id — the k-min signature aggregation, the verifier's two
    // posting joins (doc_id is a subset of their (doc, gram) keys, so
    // doc-clustering satisfies them), and the size aggregation — so the
    // layout removes the signature agg's exchange AND its partial-agg
    // duplication (one 128-min row per doc per map partition holding
    // that doc's postings; with doc-partitioning, exactly one).
    val posts = shinglePostings(docs, n)
      .repartition(col("doc_id"))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = minHashCandidates(
      minHashSignaturesFromPosts(posts, k), bands, k / bands)
    verifyJaccardOnPosts(cands, posts.select("doc_id", "gram_id"), minJaccard)
  }

  /** 64-bit SimHash per doc over distinct word n-gram features: bit k of
    * the signature is the sign of sum over features of (+-1 for bit k).
    * Features are shingles, not unigrams, on purpose: docs drawn from a
    * shared vocabulary produce strongly correlated unigram signatures
    * (measured here: background pair hamming down to ~12, indistinguish-
    * able from true near-dups), while the shingle space is large enough
    * that unrelated docs sit at hamming ~32. Also carries the distinct-
    * feature count (length bucketing key for banding). Built over an
    * existing postings frame (`shinglePostings`). */
  def simHashSignaturesFromPosts(posts: DataFrame): DataFrame = {
    // distinct features via the shared postings op: explode + shuffle
    // distinct beats per-row array_distinct by ~10x (the latter is an
    // O(len²) interpreted string comparison inside a single task)
    val toks = posts.select(col("doc_id"), col("gram_id").as("th"))
    // SWAR bit-count: lane j of sum l_j accumulates popcounts of bits
    // j, j+16, j+32, j+48 in four 16-bit lanes of one long — 16 packed
    // sums instead of 64 scalar ones (4x fewer agg buffers, same
    // signatures). Lanes saturate at 65535 features/doc — far beyond any
    // shingled document; chunk pathological docs upstream.
    val laneMask = 0x0001000100010001L
    val lanes = (0 until 16).map { j =>
      sum(shiftright(col("th"), j).bitwiseAND(lit(laneMask))).as(s"l_$j")
    }
    val sums = toks.groupBy("doc_id")
      .agg(lanes.head, lanes.tail :+ count(lit(1)).as("n_tok"): _*)
    // bit k set iff more than half the features have bit k set
    // (2*count > n — identical to the sign-of-±1-sum formulation)
    val sig = (0 until 64).map { k =>
      val c = shiftright(col(s"l_${k % 16}"), 16 * (k / 16))
        .bitwiseAND(lit(0xFFFFL))
      when(c * 2 > col("n_tok"), shiftleft(lit(1L), k)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), sig.as("simhash"), col("n_tok"))
  }

  /** SimHash candidate pairs with hamming <= maxHamming, via a
    * combinatorial multi-index (the block-permutation scheme of Manku,
    * Jain & Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07,
    * re-expressed as a Spark equality join): the 64-bit signature is cut
    * into `blocks` slices; each doc is bucketed once per `comboSize`-
    * subset of slices, keyed by the hash of those slice values. A pair
    * within hamming h has >= blocks-h clean slices, so some subset of
    * size comboSize is clean whenever h <= blocks-comboSize — guaranteed
    * recall at radius blocks-comboSize with bucket keys comboSize slices
    * wide. A log2 token-count bucket rides along as a secondary key
    * (emitted at L and L+1 so one boundary crossing still collides);
    * raising comboSize is the web-scale knob: exponentially smaller
    * buckets for combinatorially more probes.
    *
    * Codegen note (measured): building the probe keys as an inline
    * `explode(array(key_1 … key_240))` inlines every slice expression
    * into one generated method — for (16,2) that is 240 xxhash64 calls
    * and Janino dies with "Code grows beyond 64 KB", so the WHOLE stage
    * silently falls back to interpreted eval (candidate gen measured 4.1s
    * vs 0.5s at sf0.1, plus a multi-second failed-compile). Instead the
    * (comboIndex, slice positions, lenBucket delta) probe table is ONE
    * constant array literal exploded per row, and the bucket key is a
    * single xxhash64 over values looked up via codegen'd element_at — the
    * generated code is constant-size no matter how many combos, which is
    * exactly what the web-scale comboSize knob needs. */
  def simHashCandidates(sigs: DataFrame, maxHamming: Int, blocks: Int = 16,
                        comboSize: Int = 2): DataFrame = {
    require(comboSize >= 1 && comboSize < blocks,
      s"comboSize($comboSize) must be in [1, blocks)")
    require(maxHamming <= blocks - comboSize,
      s"recall guarantee needs maxHamming($maxHamming) <= blocks($blocks) - comboSize($comboSize)")
    val base = 64 / blocks
    val rem = 64 % blocks
    val widths = Seq.tabulate(blocks)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val lenBucket = floor(log2(col("n_tok") + 1)).cast("long")
    // probe table: one row per (combo, lenBucket delta), each carrying
    // the (shift offset, bit mask) of its slices — a pure literal, so
    // Generate replays a constant array instead of evaluating
    // 2*C(blocks,comboSize) hash expressions per input row, and the
    // slice values are re-derived from `simhash` AFTER the explode (the
    // exploded row carries only doc_id/simhash/lb, not a slice array
    // that Generate would copy once per probe)
    val probes = typedLit(for {
      (combo, ci) <- (0 until blocks).combinations(comboSize).toSeq.zipWithIndex
      dl <- 0 to 1
    } yield (ci.toLong, combo.map(offsets).toSeq,
             combo.map(i => (1L << widths(i)) - 1).toSeq, dl.toLong))
    val bucket = expr("xxhash64(p._1, " +
      (1 to comboSize).map(j =>
        s"shiftright(simhash, element_at(p._2, $j)) & element_at(p._3, $j)")
        .mkString(", ") + ", lb + p._4)")
    // persisted: the self-join's two branches get fresh expression ids,
    // so without this Spark recomputes the full signature pipeline
    // (shingle + 17-agg + probe explode) once per side; the cached
    // frame is (doc_id, simhash, bucket) — ~nCombos*2 rows/doc, spillable
    val banded = sigs
      .select(col("doc_id"), col("simhash"), lenBucket.as("lb"),
        explode(probes).as("p"))
      .select(col("doc_id"), col("simhash"), bucket.as("bucket"))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // measured note: a groupBy(bucket)+collect_list+combination-expansion
    // formulation (computing `banded` once) was tried and is ~50% slower
    // here — the struct-payload shuffle plus interpreted HOF pair
    // expansion outweighs recomputing the signature pipeline per side
    banded.as("a")
      .join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming) // cheap row filter BEFORE the
      .distinct()                           // distinct's shuffle
  }

  /** Connected components over a near-dup pair list: every doc in a pair
    * gets the minimum doc_id reachable through pairs as its cluster id —
    * the survivor-selection step after near-dup detection (keep one doc
    * per cluster, not per pair: A~B, B~C must collapse to ONE cluster
    * even when A~C was never emitted).
    *
    * The large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) via
    * [[GraphOps.connectedComponents]]: O(log n) rounds on ANY graph
    * shape, which is what survives adversarial near-dup inputs
    * (template families forming long chains, where min-label
    * propagation's round count is the component DIAMETER). The spec
    * pins its labels and round count against a propagation reference
    * in the test tree. */
  def nearDupClusters(pairs: DataFrame): DataFrame =
    nearDupClustersWithRounds(pairs)._1

  /** (labels, rounds) — rounds exposed so the adversarial-chain spec can
    * assert contraction's O(log n) against propagation's O(diameter). */
  private[graft] def nearDupClustersWithRounds(
      pairs: DataFrame): (DataFrame, Int) = {
    val und = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val (labels, rounds) = GraphOps.ccWithRounds(und, maxRounds = 30)
    (labels.select(col("id").as("doc_id"),
      col("component").as("cluster_id")), rounds)
  }

  /** SimHash near-dups, exact-verified by n-gram Jaccard (same contract
    * as minHashNearDups: approximate recall, exact precision). */
  def simHashNearDups(docs: DataFrame, maxHamming: Int, n: Int,
                      minJaccard: Double, blocks: Int = 16,
                      comboSize: Int = 2): DataFrame = {
    // ONE shingle pipeline feeds both the signature agg and the
    // verifier; doc_id-partitioned for the same reason as
    // [[minHashNearDups]] — every consumer (lane-sum signature agg,
    // verifier joins, size agg) keys by doc_id, so the layout removes
    // the signature agg's exchange and its partial-agg duplication.
    val posts = shinglePostings(docs, n)
      .repartition(col("doc_id"))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verifyJaccardOnPosts(
      simHashCandidates(simHashSignaturesFromPosts(posts), maxHamming,
        blocks, comboSize).select("doc_a", "doc_b"),
      posts.select("doc_id", "gram_id"), minJaccard)
  }

  // ------------------------------------------------------------------
  // Chunk-level SEMANTIC dedup — the RAG-ingest shape: dedup at
  // retrieval granularity (t21's sliding windows), not doc granularity.
  // Every chunk gets an integer embed-proxy (character-class frequency
  // vector), chunks are IVF-assigned to coarse cells, and near-dup
  // scoring touches SAME-CELL cross-doc pairs only — candidate work is
  // sum over cells of |cell|^2, never |chunks|^2. Everything is exact
  // integer arithmetic (L2 assignment, dot products, and a squared
  // threshold gate with no sqrt), so the DuckDB oracle replays it
  // value-for-value.
  // ------------------------------------------------------------------

  /** Chunk-key radix: ck = doc_id * ChunkKeyRadix + window index. 2^21
    * windows per doc (~839M chars at the default stride 400) before two
    * docs' key ranges can overlap, with doc_id headroom to 2^42 — wide
    * enough that the "key collides for huge docs" failure mode moves
    * from plausible (the old 1e5 radix collided at 40M chars) to a
    * documented corpus constraint. Kept as one multiply (not a struct
    * key) so the oracle replays it with the same integer arithmetic. */
  val ChunkKeyRadix: Long = 1L << 21

  /** sliding chunk windows (t21's geometry) with a `dims`-dim integer
    * frequency vector per chunk: v[j] = count of alphanumeric chars with
    * ascii % dims == j. Row-local: explode + per-row array math, no
    * shuffle. ck = doc_id * ChunkKeyRadix + window index (see its doc
    * for the collision bound).
    *
    * The vector is built by the native `char_hist` expression — ONE
    * codegen'd pass over the chunk bytes. The original formulation
    * (`dims` × `size(filter(split(s,''), ...))` interpreted HOF passes,
    * each materializing a per-char string array) was the d15/d17 cost
    * driver; semantics are identical (spec-pinned byte-for-byte against
    * the HOF form) and the oracle replay is unchanged. */
  def chunkVectors(docs: DataFrame, size: Int, stride: Int,
                   dims: Int): DataFrame = {
    graft.expressions.VectorExpressions.registerAll(docs.sparkSession)
    docs
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
                sequence(0, int(ceil(greatest(length(text) - $size, 0)
                                     / $stride.0D))),
                i -> substring(text, i * $stride + 1, $size))"""))
          .as(Seq("seq", "chunk")))
      .select(col("doc_id"),
        (col("doc_id") * lit(ChunkKeyRadix) + col("seq")).as("ck"),
        call_function("char_hist", lower(col("chunk")), lit(dims)).as("v"))
      .select(col("doc_id"), col("ck"), col("v"),
        call_function("vec_dot_long", col("v"), col("v")).as("n2"))
  }

  /** Cell-count sizing rule for the IVF-celled families (this file's
    * chunk dedup, SimilarityOps' IVF search): C = max(16, ceil(sqrt(N)))
    * cells for N vectors. Assignment cost is N*C (every vector scores
    * every broadcast centroid) while within-cell pairing is
    * sum(|cell|^2) ~ N^2/C, so C ~ sqrt(N) balances the two at
    * O(N^1.5) total — the standard IVF nlist heuristic (Jégou et al.
    * 2011 pick nlist ~ sqrt(N)). A fixed test-scale cell count shipped
    * to a 100x corpus makes pairing quadratic; callers that know N
    * should pass autoCells(N), and chunkNearDupsAuto does the count
    * itself. The floor of 16 keeps tiny corpora on the gated default. */
  def autoCells(nVectors: Long): Int =
    math.max(16, math.ceil(math.sqrt(math.max(nVectors, 0L).toDouble)).toInt)

  /** chunkNearDups with the cell count derived from the chunk count via
    * [[autoCells]]. The sizing count is ARITHMETIC, not a second build:
    * chunks per doc = ceil(max(len-size,0)/stride)+1 (the exact window
    * rule chunkVectors implements, spec-pinned equal to its count()),
    * so N comes from one narrow scan of text lengths — no explode, no
    * char_hist, no cache. This replaced two earlier shapes: a full
    * chunk-vector count() (round 10's "extra full job" finding) and a
    * persist-and-share variant whose cache write cost MORE than the
    * now-native-expression build it saved (round-11 bench: d17
    * 1.04→1.38 s with the cache, back under with arithmetic N). */
  def chunkNearDupsAuto(docs: DataFrame, size: Int = 500, stride: Int = 400,
                        dims: Int = 16, t2: Double = 0.998): DataFrame = {
    // coalesce: SUM over an empty frame is NULL, which must fall through
    // to autoCells' floor of 16 (the pre-arithmetic count() shape did)
    val n = docs.agg(coalesce(sum(expr(
      s"int(ceil(greatest(length(text) - $size, 0) / $stride.0D)) + 1")),
      lit(0L)))
      .head().getLong(0)
    chunkNearDups(docs, size, stride, dims, autoCells(n), t2)
  }

  /** Per-cell chunk-dedup audit: (cell, n_chunks, n_cand_pairs,
    * n_dup_pairs). Cells are the `nCells` lowest-ck chunk vectors
    * (deterministic seeds, the s07 convention — production k-means
    * trains them offline); a pair is a dup when cosine^2 >= t2,
    * checked as dot >= 0 AND dot^2 >= t2 * |a|^2 * |b|^2 — exact
    * integer/double comparison, identical on every engine. Size
    * `nCells` per [[autoCells]] — the gated default 16 is the
    * test-scale setting, not a production one. */
  def chunkNearDups(docs: DataFrame, size: Int = 500, stride: Int = 400,
                    dims: Int = 16, nCells: Int = 16,
                    t2: Double = 0.998): DataFrame =
    chunkNearDupsOn(chunkVectors(docs, size, stride, dims), nCells, t2)

  /** [[chunkNearDups]] over a prebuilt (possibly cached) chunk-vector
    * frame — the shared tail that lets chunkNearDupsAuto reuse the
    * frame its sizing count materialized. */
  private[graft] def chunkNearDupsOn(e: DataFrame, nCells: Int,
                                     t2: Double): DataFrame = {
    val seeds = e.orderBy(col("ck")).limit(nCells)
      .select(col("ck").as("cell"), col("v").as("cv"))
    // broadcast-expand + partial-aggregated argmin (map-side combine
    // collapses the nCells-way expansion before any shuffle); L2 over
    // integer vectors — exact, ties to the lowest cell id
    val assigned = e.crossJoin(broadcast(seeds))
      .withColumn("d2", call_function("vec_l2sq_long", col("v"), col("cv")))
      .groupBy(col("ck"))
      .agg(min(struct(col("d2"), col("cell"))).getField("cell").as("cell"),
        first(col("doc_id")).as("doc_id"), first(col("v")).as("v"),
        first(col("n2")).as("n2"))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("cell"), col("ck").as("ck_a"),
      col("doc_id").as("doc_a"), col("v").as("va"), col("n2").as("na2"))
      .as("cd_a")
    val b = assigned.select(col("cell"), col("ck").as("ck_b"),
      col("doc_id").as("doc_b"), col("v").as("vb"), col("n2").as("nb2"))
      .as("cd_b")
    val pairs = a.join(b, col("cd_a.cell") === col("cd_b.cell") &&
        col("ck_a") < col("ck_b") && col("doc_a") =!= col("doc_b"))
      .withColumn("dot", call_function("vec_dot_long", col("va"), col("vb")))
      .select(col("cd_a.cell").as("cell"),
        (col("dot") >= 0 &&
          (col("dot") * col("dot")).cast("double") >=
            lit(t2) * (col("na2") * col("nb2")).cast("double")).as("is_dup"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_cand_pairs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_pairs"))
    assigned.groupBy("cell").agg(count(lit(1)).as("n_chunks"))
      .join(pairs, Seq("cell"), "left")
      .select(col("cell"), col("n_chunks"),
        coalesce(col("n_cand_pairs"), lit(0L)).as("n_cand_pairs"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"))
  }

  /** Exact-substring duplicate detection by WORD-ANCHORED character
    * k-grams — the bulk-parallel approximation of suffix-array substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", find verbatim spans repeated across
    * documents): every doc emits the first `gramLen` characters of the
    * text starting at each WORD boundary; two docs sharing any anchored
    * gram share a verbatim k-char span. Anchoring is CONTENT-DEFINED —
    * the sample positions move with the text, so a span repeated at
    * different offsets in two docs anchors the same grams in both
    * (fixed-stride position sampling does NOT have this property: the
    * two copies sample at different span-relative offsets and never
    * collide). Every repeated span of >= gramLen chars that starts at
    * a word boundary is detected exactly; longer spans are detected
    * wherever any interior word boundary leaves gramLen chars of span.
    *
    * Scale shape: the gram emit is row-local (split + posexplode +
    * slice + substring, no shuffle); ONE shuffle keys the postings by
    * gram; grams above `maxDocsPerGram` docs are dropped before pairing
    * — the LSH bucket-cap discipline, so boilerplate shared by half the
    * corpus cannot go quadratic. Returns (doc_a, doc_b, n_shared) with
    * doc_a < doc_b. At 100 TB, hash grams to 8 bytes before the shuffle
    * (xxhash64) to cut shuffle width; kept as strings here so the
    * independent-engine replay gates the candidate set itself. */
  def substringDupPairs(docs: DataFrame, gramLen: Int,
                        maxDocsPerGram: Int): DataFrame = {
    require(gramLen >= 2 && maxDocsPerGram >= 2)
    // window derived from gramLen: w words joined by single spaces span
    // at least 2w-1 chars (worst case all 1-char words), so w =
    // gramLen/2 + 1 always covers gramLen chars; the substring truncates
    // the tail back to exactly gramLen. (A fixed window narrower than
    // this silently dropped anchors inside 1-char-word runs.)
    val anchorWords = gramLen / 2 + 1
    // r18: the distinct gram postings feed FOUR plan branches (the df
    // bound plus both sides of the pair self-join, each via the
    // semi-join) — unpersisted, the split/posexplode/substring string
    // pass re-ran per branch (guide §1.2). Persist once; and downstream
    // of the length filter only gram IDENTITY matters, so the postings
    // carry xxhash64(gram) — 8-byte ids through the df aggregation and
    // the pair join instead of 32-char strings (§2.3 narrower types;
    // the shinglePostings discipline).
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        posexplode(col("ws")).as(Seq("i", "w")))
      .select(col("doc_id"),
        substring(concat_ws(" ",
          slice(col("ws"), col("i") + 1, lit(anchorWords))),
          1, gramLen).as("gram"))
      .filter(length(col("gram")) === gramLen)
      .select(col("doc_id"), xxhash64(col("gram")).as("gid"))
      .distinct()
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounded = grams.groupBy(col("gid"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDocsPerGram)
      .select(col("gid"))
    val posting = grams.join(bounded, Seq("gid"), "left_semi")
    posting.select(col("gid"), col("doc_id").as("doc_a"))
      .join(posting.select(col("gid"), col("doc_id").as("doc_b")), "gid")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Span-level exact-substring dedup REMOVAL — the actual deliverable
    * of Lee et al. 2022 (cf. reference pipeline's doc-level drop): where
    * [[substringDupPairs]] reports which doc PAIRS share verbatim spans,
    * production curation removes the repeated span from every occurrence
    * but ONE carrier and keeps the rest of each document. Anchoring is
    * the same content-defined scheme (word-boundary grams of `gramLen`
    * chars); the carrier of each repeated gram is its corpus-wide FIRST
    * occurrence (min (doc_id, word_index) — deterministic and
    * replayable), covering within-doc self-repetition too. Removal is at
    * WORD granularity: a removed anchor at word index i excises words
    * [i, i + anchorWords), the window its gram was sampled from; nested/
    * overlapping removals union through a per-word covered flag.
    *
    * No `maxDocsPerGram` cap here ON PURPOSE: the cap exists in the pair
    * operator to stop quadratic bucket joins, but removal never pairs —
    * each occurrence explodes into at most `anchorWords` covered word
    * indices, so cost stays LINEAR in total anchors however common the
    * span (the boilerplate shared by half the corpus is exactly what
    * this screen should strip everywhere but once).
    *
    * Scale shape: the first-carrier and occurrence count come from
    * groupBy(gram).agg(min(struct(doc_id, i)), count) — MAP-SIDE
    * aggregable, so a gram shared by half the corpus reaches its
    * reducer as one partial row per map partition (a window over
    * partitionBy(gram) would instead buffer every occurrence of the
    * hot gram in ONE task — the straggler/OOM this shape exists to
    * avoid; min over the (doc_id, i) struct is exactly the
    * rank-1-by-(doc_id, i) row). Anchors then join back on gram —
    * the aggregate output is already hash-partitioned on gram, so
    * only the anchors side exchanges, and the probe side STREAMS
    * through the join (no per-gram buffering). One doc-keyed rollup
    * whose collect_list is bounded by the doc's own word count —
    * d21's contract shape. Returns (doc_id, n_words, n_removed,
    * clean_text) for EVERY input doc.
    *
    * Cache/collect: none — a straight-line plan, caller composes. */
  def substringDedupSpans(docs: DataFrame, gramLen: Int): DataFrame = {
    require(gramLen >= 2)
    val anchorWords = gramLen / 2 + 1
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(col("ws").isNotNull)
    // r18: anchors feed two branches (first-carrier agg + removal join)
    // — persisted so the split/posexplode/substring pass runs once
    // (guide §1.2); downstream only gram IDENTITY matters, so postings
    // carry xxhash64(gram) ids, not 32-char strings (§2.3).
    val anchors = ws
      .select(col("doc_id"), col("ws"),
        posexplode(col("ws")).as(Seq("i", "w")))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        size(col("ws")).cast("long").as("nw"),
        substring(concat_ws(" ",
          slice(col("ws"), col("i") + 1, lit(anchorWords))),
          1, gramLen).as("gram"))
      .filter(length(col("gram")) === gramLen)
      .select(col("doc_id"), col("i"), col("nw"),
        xxhash64(col("gram")).as("gid"))
      // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first occurrence keeps the span; every later occurrence of a
    // >=2-occurrence gram is a removal site. min(struct) under struct's
    // lexicographic field order IS the (doc_id, i)-first row, and both
    // it and the count partial-aggregate map-side — the hot-gram-safe
    // form of rank-1 + count-over.
    val firsts = anchors.groupBy(col("gid"))
      .agg(min(struct(col("doc_id"), col("i"))).as("first"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("gid"), col("first"))
    val removals = anchors.join(firsts, Seq("gid"))
      .filter(col("doc_id") =!= col("first.doc_id") ||
        col("i") =!= col("first.i"))
      // covered indices clamp to the doc's word count: a gram sampled
      // near the end of a long-worded doc can reach gramLen chars with
      // fewer than anchorWords words left, and an index past the array
      // must not count as a removed word (the old words-join dropped
      // such indices implicitly)
      .select(col("doc_id"),
        explode(sequence(col("i"),
          least(col("i") + (anchorWords - 1), col("nw") - 1))).as("wi"))
      .distinct()
    // r18 final assembly is ROW-LOCAL (guide §2.3 — shuffle keys, not
    // payloads): the removed word-index SET per doc (bounded by the
    // doc's own word count) joins back to the one-row-per-doc word
    // arrays, and the excision is an index-filter HOF over the array —
    // replacing the old explode-every-word shuffle + per-doc
    // collect_list + sort_array, which moved the whole corpus's words
    // through an exchange to rebuild arrays Spark already had.
    val rmSets = removals.groupBy(col("doc_id"))
      .agg(collect_set(col("wi")).as("rms"))
    ws.join(rmSets, Seq("doc_id"), "left")
      .withColumn("rms",
        coalesce(col("rms"), array().cast("array<bigint>")))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(col("rms")).cast("long").as("n_removed"),
        array_join(filter(col("ws"),
          (w, i) => !array_contains(col("rms"), i.cast("long"))), " ")
          .as("clean_text"))
  }
}
