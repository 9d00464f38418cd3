package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.TextFunctions._

/** Text-analysis surface over the `documents` table: token statistics,
  * heuristic language ID, quality scoring, rolling-hash fingerprinting,
  * corpus n-gram profile. All single-pass, shuffle only where an
  * aggregation genuinely needs one — per-document metrics are pure
  * projections that scale embarrassingly at 100 TB.
  */
object TextOps {

  private val stopSql = EnglishStopwords.map(w => s"'$w'").mkString(", ")

  /** Okapi BM25 (k1=1.2, b=0.75) ranking of every document against the
    * distinct tokens of `queryDocId`, top `topN` with a 1-based `rk`.
    * Output: (doc_id, score_q, score, rk).
    *
    * Scale shape (the t23 notes): query terms and their document
    * frequencies are a TINY frame joined broadcast, so the postings
    * table (doc_id, term, tf) is filtered to query terms inside its own
    * scan partitions with no term-keyed shuffle; the one real shuffle
    * keys by doc_id, and the top-N is a TakeOrdered, never a global
    * sort (the rank window runs AFTER the limit, over topN rows). Per-
    * term scores are quantized by floor(x*1e9 + 0.5) and summed as
    * exact integers so the ranking is aggregation-order-free and
    * replayable by the DuckDB oracle bit-for-bit. */
  def bm25Ranked(docs: DataFrame, queryDocId: Long, topN: Int): DataFrame = {
    val toks = docs.withColumn("toks", tokens("text"))
    val tf = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.select(col("doc_id"), tokenCount("toks").as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = toks.filter(col("doc_id") === queryDocId)
      .select(explode(col("toks")).as("term")).distinct()
    val dfq = df.join(broadcast(qterms), "term")
    tf.join(broadcast(dfq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(
          log((col("n_docs") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * (lit(1.2) + lit(1.0)) /
            (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
              lit(0.75) * col("dl") / col("avgdl"))))
          * lit(1e9) + lit(0.5)).as("tsq"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tsq")).as("score_q"),
        (sum(col("tsq")).cast("double") / lit(1e9)).as("score"))
      .orderBy(col("score_q").desc, col("doc_id").asc)
      .limit(topN)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score_q").desc, col("doc_id").asc)).cast("long"))
  }

  val qs: Seq[Q] = Seq(

    // ---- token statistics (pure projection, no shuffle) -----------------
    Q("t01_token_stats",
      (s, d) => Tables.documents(s, d)
        .withColumn("toks", tokens("text"))
        .select(col("doc_id"),
          tokenCount("toks").as("n_tokens"),
          distinctTokenCount("toks").as("n_distinct"),
          length(trim(col("text"))).cast("long").as("n_chars_trim"),
          (length(replace(trim(col("text")), lit(" "), lit("")))
            .cast("double") / tokenCount("toks")).as("avg_token_len")),
      Some("""
        SELECT doc_id,
          len(string_split_regex(trim(text), ' +')) AS n_tokens,
          len(list_distinct(string_split_regex(trim(text), ' +'))) AS n_distinct,
          CAST(LENGTH(trim(text)) AS BIGINT) AS n_chars_trim,
          CAST(LENGTH(REPLACE(trim(text), ' ', '')) AS DOUBLE)
            / len(string_split_regex(trim(text), ' +')) AS avg_token_len
        FROM documents""")),

    // ---- heuristic language ID (n-gram/marker-word scoring) -------------
    Q("t02_langid",
      (s, d) => Tables.documents(s, d)
        .withColumn("toks", tokens("text"))
        .withColumn("en_score", wordlistCount("toks", EnglishStopwords))
        .select(col("doc_id"), col("en_score"),
          (col("en_score").cast("double") / tokenCount("toks")).as("en_ratio"),
          when(col("en_score") > 0, lit("en")).otherwise(lit("und"))
            .as("predicted_lang")),
      Some(s"""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') toks FROM documents)
        SELECT doc_id,
          len(list_filter(toks, x -> x IN ($stopSql))) AS en_score,
          CAST(len(list_filter(toks, x -> x IN ($stopSql))) AS DOUBLE) / len(toks) AS en_ratio,
          CASE WHEN len(list_filter(toks, x -> x IN ($stopSql))) > 0
               THEN 'en' ELSE 'und' END AS predicted_lang
        FROM t""")),

    // ---- quality scoring -------------------------------------------------
    Q("t03_quality",
      (s, d) => Tables.documents(s, d)
        .withColumn("toks", tokens("text"))
        .withColumn("len_score",
          least(col("n_chars").cast("double") / 500.0, lit(1.0)))
        .withColumn("stop_ratio",
          wordlistCount("toks", EnglishStopwords).cast("double") / tokenCount("toks"))
        .withColumn("diversity",
          distinctTokenCount("toks").cast("double") / tokenCount("toks"))
        .select(col("doc_id"), col("len_score"), col("stop_ratio"), col("diversity"),
          (col("len_score") * 0.4 + col("stop_ratio") * 0.2 + col("diversity") * 0.4)
            .as("quality")),
      Some(s"""
        WITH t AS (SELECT doc_id, n_chars, string_split_regex(trim(text), ' +') toks FROM documents)
        SELECT doc_id,
          LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS len_score,
          CAST(len(list_filter(toks, x -> x IN ($stopSql))) AS DOUBLE) / len(toks) AS stop_ratio,
          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity,
          LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
            + CAST(len(list_filter(toks, x -> x IN ($stopSql))) AS DOUBLE) / len(toks) * 0.2
            + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.4 AS quality
        FROM t""")),

    // ---- rolling-hash document fingerprint ------------------------------
    Q("t04_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), rollingHashFingerprint("text").as("fingerprint")),
      Some("""
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
        FROM documents""")),

    // ---- corpus-level n-gram profile (top-20 bigrams) -------------------
    Q("t05_ngram_profile",
      (s, d) => Tables.documents(s, d)
        .withColumn("toks", tokens("text"))
        .select(explode(wordNgrams("toks", 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram").asc)
        .limit(20),
      Some("""
        WITH t AS (SELECT string_split_regex(trim(text), ' +') toks FROM documents),
        g AS (SELECT g.gram FROM t,
              unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) g(gram))
        SELECT gram, COUNT(*) AS n FROM g GROUP BY gram
        ORDER BY n DESC, gram ASC LIMIT 20""")),

    // ---- BPE-ish subword token counting ---------------------------------
    //      letter runs, single digits, and punctuation as separate tokens
    //      (the pre-tokenization shape BPE vocabularies are trained over);
    //      alternation branches are first-char-disjoint so Java regex and
    //      RE2 agree on every match
    Q("t06_bpe_tokens",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        size(split(trim(col("text")), " +")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))
          .cast("long").as("subword_tokens")),
      Some("""
        SELECT doc_id,
          len(string_split_regex(trim(text), ' +')) AS ws_tokens,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
            AS subword_tokens
        FROM documents""")),

    // ---- corpus metadata statistics (per labeled lang x source) ---------
    Q("t07_corpus_stats",
      (s, d) => Tables.documents(s, d)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          min(col("doc_id")).as("first_doc")),
      Some("""
        SELECT lang, source, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
          MIN(doc_id) AS first_doc
        FROM documents GROUP BY lang, source""")),

    // ---- language-ID confusion matrix vs the labeled lang column -------
    Q("t08_langid_accuracy",
      (s, d) => Tables.documents(s, d)
        .withColumn("toks", tokens("text"))
        .withColumn("predicted",
          when(wordlistCount("toks", EnglishStopwords) > 0, lit("en"))
            .otherwise(lit("und")))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n")),
      Some(s"""
        SELECT lang,
          CASE WHEN len(list_filter(string_split_regex(trim(text), ' +'),
                 x -> x IN ($stopSql))) > 0
               THEN 'en' ELSE 'und' END AS predicted,
          COUNT(*) AS n
        FROM documents GROUP BY 1, 2""")),

    // ---- capstone: the composed training-data-prep pipeline -------------
    //      quality gate -> exact-dedup survivors -> per-lang token budget;
    //      each stage is an operator verified on its own above, composed
    //      here into the end-to-end curation query a data pipeline runs
    Q("t09_curation_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val scored = docs
          .withColumn("toks", tokens("text"))
          .withColumn("quality",
            least(col("n_chars").cast("double") / 500.0, lit(1.0)) * 0.4 +
              (wordlistCount("toks", EnglishStopwords).cast("double") /
                tokenCount("toks")) * 0.2 +
              (distinctTokenCount("toks").cast("double") / tokenCount("toks")) * 0.4)
          .filter(col("quality") >= 0.5)
        // survivor selection inline (window over the gated frame) — a
        // join back to exactDedupRanks(scored) would scan and re-score
        // the corpus twice and add a shuffle for the same result
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(tokenCount("toks")).as("total_tokens"),
            sum(col("n_chars")).as("total_chars"))
      },
      Some(s"""
        WITH scored AS (
          SELECT doc_id, lang, n_chars, text,
            string_split_regex(trim(text), ' +') AS toks,
            LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
              + CAST(len(list_filter(string_split_regex(trim(text), ' +'),
                  x -> x IN ($stopSql))) AS DOUBLE)
                / len(string_split_regex(trim(text), ' +')) * 0.2
              + CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
                  AS DOUBLE)
                / len(string_split_regex(trim(text), ' +')) * 0.4 AS quality
          FROM documents),
        gated AS (SELECT * FROM scored WHERE quality >= 0.5),
        canonical AS (
          SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER
              (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM gated)
          WHERE rn = 1)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM gated JOIN canonical USING (doc_id)
        GROUP BY lang""")),

    // ---- TF-IDF term scoring, top-5 terms per doc -----------------------
    //      idf is the rational N/df (not log(N/df)): transcendentals are
    //      not bit-reproducible across engines, while the ranking they
    //      induce is identical (log is monotone) — so the oracle can hash
    //      the scores exactly. The shape is the distributed part: one
    //      shuffle for tf, one vocabulary-keyed shuffle for df, broadcast
    //      scalar N, per-doc top-k window — no step materializes more
    //      than the postings.
    Q("t10_tfidf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val tf = docs.withColumn("toks", tokens("text"))
          .select(col("doc_id"), explode(col("toks")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term").asc)
        tf.filter(col("doc_id") < 20)
          .join(df, "term").crossJoin(broadcast(n))
          .withColumn("tfidf",
            col("tf").cast("double") * col("n_docs") / col("df"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("tfidf"), col("rk"))
      },
      Some("""
        WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +'))
                     AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 CAST(tf.tf AS DOUBLE) * nd.n_docs / df.df AS tfidf
               FROM tf JOIN df USING (term), nd WHERE tf.doc_id < 20)
        SELECT doc_id, term, tf, df, tfidf, rk FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rk FROM sc)
        WHERE rk <= 5""")),

    // ---- benchmark-contamination check ----------------------------------
    //      eval set = docs with doc_id % 97 = 0 (stand-in for a held-out
    //      benchmark); for every training doc, the fraction of its
    //      distinct 3-gram shingles that appear anywhere in the eval set.
    //      The eval shingle set is small by construction -> broadcast
    //      join, so the check costs one scan of the training postings at
    //      any corpus size. Top-20 most-contaminated docs.
    Q("t11_contamination",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val evalGrams = graft.operators.DedupOps
          .shinglePostings(docs.filter(col("doc_id") % 97 === 0), 3)
          .select(col("gram_id")).distinct()
        val trainPosts = graft.operators.DedupOps
          .shinglePostings(docs.filter(col("doc_id") % 97 =!= 0), 3)
          .select("doc_id", "gram_id")
          // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sizes = trainPosts.groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"))
        val overlap = trainPosts.join(broadcast(evalGrams), "gram_id")
          .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
        sizes.join(overlap, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
            (coalesce(col("n_contaminated"), lit(0L)).cast("double") /
              col("n_shingles")).as("contamination"))
          .orderBy(col("contamination").desc, col("doc_id").asc)
          .limit(20)
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') toks
                   FROM documents),
        g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                AS gram FROM t),
        eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        tp AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
        sz AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tp GROUP BY 1),
        ov AS (SELECT tp.doc_id, COUNT(*) AS n_contaminated
               FROM tp JOIN eg USING (gram) GROUP BY 1)
        SELECT sz.doc_id, sz.n_shingles,
          CAST(COALESCE(ov.n_contaminated, 0) AS BIGINT) AS n_contaminated,
          CAST(COALESCE(ov.n_contaminated, 0) AS DOUBLE) / sz.n_shingles
            AS contamination
        FROM sz LEFT JOIN ov USING (doc_id)
        ORDER BY contamination DESC, doc_id ASC LIMIT 20""")),

    // ---- intra-document repetition score (quality signal) ---------------
    //      duplicate-bigram fraction + the count of the most repeated
    //      bigram, per doc.
    //      grouped-count formulation, not per-row HOFs: an in-row
    //      "count each distinct bigram" lambda is O(b^2) interpreted
    //      work per document (measured ~8s at sf0.1 vs ~1s for this
    //      explode+groupBy, which stays codegen'd end-to-end); the
    //      shuffle is keyed by (doc_id, bigram) so it also load-balances
    //      pathological giant documents instead of pinning one task
    Q("t12_repetition",
      (s, d) => Tables.documents(s, d)
        .withColumn("toks", tokens("text"))
        .select(col("doc_id"), explode(wordNgrams("toks", 2)).as("bi"))
        .groupBy("doc_id", "bi").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          max("cnt").as("top_bigram_count"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"))
            .as("dup_ratio"),
          col("top_bigram_count")),
      Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') toks
                   FROM documents),
        b AS (SELECT doc_id, list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1]) AS bi
              FROM t WHERE len(toks) >= 2)
        SELECT doc_id,
          len(bi) AS n_bigrams,
          len(list_distinct(bi)) AS n_distinct,
          1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi) AS dup_ratio,
          CAST(list_max(list_transform(list_distinct(bi),
            x -> len(list_filter(bi, y -> y = x)))) AS BIGINT)
            AS top_bigram_count
        FROM b""")),

    // ---- vocabulary build: top-30 corpus terms with min-count gate ------
    //      term frequency + doc frequency + corpus-coverage fraction —
    //      the tokenizer-vocabulary construction pass. One shuffle keyed
    //      by term (map-side combined), broadcast total, top-k cut.
    Q("t13_vocab",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val terms = Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("doc_id"), explode(col("toks")).as("term"))
        val counts = terms.groupBy("term")
          .agg(count(lit(1)).as("cnt"),
            count_distinct(col("doc_id")).as("df"))
        val total = terms.agg(count(lit(1)).as("total_tokens"))
        // top-30 via orderBy+limit (TakeOrderedAndProject — no global
        // window over the full vocabulary); the rank window then runs on
        // the 30 surviving rows only. The partition key is constant-
        // valued (pmod(cnt,1) = 0 on the gated rows, cnt >= 10) but NOT
        // optimizer-foldable — lit(0) and cnt*0 both get simplified out
        // of the spec, re-creating the empty-partition WindowExec and
        // its single-partition warning; pmod survives.
        val w = Window.partitionBy(pmod(col("cnt"), lit(1)))
          .orderBy(col("cnt").desc, col("term").asc)
        counts.filter(col("cnt") >= 10)
          .crossJoin(broadcast(total))
          .withColumn("coverage",
            col("cnt").cast("double") / col("total_tokens"))
          .orderBy(col("cnt").desc, col("term").asc).limit(30)
          .withColumn("rk", row_number().over(w).cast("long"))
          .select(col("term"), col("cnt"), col("df"), col("coverage"), col("rk"))
      },
      Some("""
        WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +'))
                     AS term FROM documents),
        c AS (SELECT term, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
              FROM t GROUP BY 1),
        tot AS (SELECT COUNT(*) AS total_tokens FROM t)
        SELECT term, cnt, df,
          CAST(cnt AS DOUBLE) / total_tokens AS coverage, rk
        FROM (SELECT c.*, tot.total_tokens,
                CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC)
                  AS BIGINT) AS rk
              FROM c, tot WHERE cnt >= 10)
        WHERE rk <= 30""")),

    // ---- sequence packing: fixed token-budget pack assignment -----------
    //      docs are laid out per lang in doc_id order and bucketed by
    //      START offset: pack_id = floor(start / budget), so packs hold
    //      ~budget tokens, docs are never split or dropped, and the
    //      assignment is the deterministic shuffle-once form of
    //      training-batch packing (greedy first-fit is order-dependent
    //      and inherently serial). Start-offset bucketing means an
    //      over-budget doc spills past its pack's budget and the ids
    //      after it skip ahead (pack_id is NOT dense) — consumers key by
    //      (lang, pack_id), never by position.
    Q("t14_token_packs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 4096L
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("doc_id"), col("lang"), tokenCount("toks").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("pack_id",
            floor((col("cum") - col("n_tok")) / budget).cast("long"))
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("pack_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang,
            len(string_split_regex(trim(text), ' +')) AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tok,
            SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t)
        SELECT lang, CAST(FLOOR((cum - n_tok) / 4096) AS BIGINT) AS pack_id,
          COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY 1, 2""")),

    // ---- quality-decile curriculum bins ---------------------------------
    //      the data-mix construction step: rank every doc by the t03
    //      quality score within its language, cut into deciles (ntile —
    //      one keyed shuffle), report per-bin counts and exact score
    //      bounds. min/max are order-insensitive so no decimal detour is
    //      needed; doc_id tiebreak makes the decile cut deterministic.
    Q("t15_quality_bins",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val scored = Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("doc_id"), col("lang"),
            (least(col("n_chars").cast("double") / 500.0, lit(1.0)) * 0.4 +
              wordlistCount("toks", EnglishStopwords).cast("double")
                / tokenCount("toks") * 0.2 +
              distinctTokenCount("toks").cast("double")
                / tokenCount("toks") * 0.4).as("quality"))
        scored
          .withColumn("decile", ntile(10).over(Window.partitionBy(col("lang"))
            .orderBy(col("quality").asc, col("doc_id").asc)).cast("long"))
          .groupBy(col("lang"), col("decile"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("quality")).as("min_q"), max(col("quality")).as("max_q"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, n_chars,
                     string_split_regex(trim(text), ' +') toks
                   FROM documents),
        sc AS (SELECT doc_id, lang,
                 LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
                   + CAST(len(list_filter(toks, x -> x IN ($stopSql)))
                       AS DOUBLE) / len(toks) * 0.2
                   + CAST(len(list_distinct(toks)) AS DOUBLE)
                       / len(toks) * 0.4 AS quality
               FROM t),
        b AS (SELECT lang, quality,
                NTILE(10) OVER (PARTITION BY lang
                  ORDER BY quality ASC, doc_id ASC) AS decile
              FROM sc)
        SELECT lang, CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_docs,
          MIN(quality) AS min_q, MAX(quality) AS max_q
        FROM b GROUP BY 1, 2""")),

    // ---- deterministic train/validation/test split ----------------------
    //      80/10/10 by md5(doc_id) — the IndexOps.portableHashSample
    //      recipe generalized to disjoint buckets. Membership is a pure
    //      function of the key: stable across runs, executors, engines,
    //      and data arrivals (a re-run or a late partition never moves a
    //      document between splits — the property a training pipeline
    //      needs for no train/test leakage). Pure projection + one
    //      aggregation; no shuffle before the 3-group reduce.
    //      0.8*16^6 = 0xcccccc, 0.9*16^6 = 0xe66666 (exact).
    Q("t16_train_test_split",
      (s, d) => {
        val h = md5(col("doc_id").cast("string").cast("binary"))
        val cut80 = "cccccc" + "0" * 26
        val cut90 = "e66666" + "0" * 26
        Tables.documents(s, d)
          .withColumn("split",
            when(h < lit(cut80), "train")
              .when(h < lit(cut90), "validation")
              .otherwise("test"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_doc_id"),
            max(col("doc_id")).as("max_doc_id"))
      },
      Some(s"""
        SELECT CASE
            WHEN md5(CAST(doc_id AS VARCHAR)) < 'cccccc${"0" * 26}'
              THEN 'train'
            WHEN md5(CAST(doc_id AS VARCHAR)) < 'e66666${"0" * 26}'
              THEN 'validation'
            ELSE 'test' END AS split,
          COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
        FROM documents GROUP BY 1""")),

    // ---- n-gram novelty of the held-out split ----------------------------
    //      how much of the test split's bigram vocabulary is UNSEEN in
    //      train — the distribution-shift / split-leakage check run
    //      before training (novelty ~0 means the split leaks, ~1 means
    //      the domains don't overlap). Deterministic md5 split (t16's
    //      80% cut), distinct bigram sets per (lang, split), one anti
    //      join keyed by (lang, gram): at 100 TB both sides are
    //      already-deduplicated vocabularies (sublinear in corpus size),
    //      and the counts-then-ratio arithmetic is exact until the final
    //      double division.
    Q("t17_ngram_novelty",
      (s, d) => {
        val h = md5(col("doc_id").cast("string").cast("binary"))
        val cut80 = "cccccc" + "0" * 26
        val grams = Tables.documents(s, d)
          .withColumn("is_train", h < lit(cut80))
          .withColumn("toks", tokens("text"))
          .select(col("lang"), col("is_train"),
            explode(wordNgrams("toks", 2)).as("gram"))
        val train = grams.filter(col("is_train"))
          .select("lang", "gram").distinct()
        val test = grams.filter(!col("is_train"))
          .select("lang", "gram").distinct()
        val novel = test.join(train, Seq("lang", "gram"), "left_anti")
          .groupBy("lang").agg(count(lit(1)).as("n_novel"))
        test.groupBy("lang").agg(count(lit(1)).as("n_test_grams"))
          .join(novel, Seq("lang"), "left")
          .select(col("lang"), col("n_test_grams"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            (coalesce(col("n_novel"), lit(0L)).cast("double")
              / col("n_test_grams")).as("novelty"))
      },
      Some(s"""
        WITH t AS (
          SELECT lang,
            md5(CAST(doc_id AS VARCHAR)) < 'cccccc${"0" * 26}' AS is_train,
            string_split_regex(trim(text), ' +') toks
          FROM documents),
        g AS (
          SELECT lang, is_train, g.gram FROM t,
            unnest(list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1])) g(gram)),
        tr AS (SELECT DISTINCT lang, gram FROM g WHERE is_train),
        te AS (SELECT DISTINCT lang, gram FROM g WHERE NOT is_train),
        nov AS (
          SELECT lang, COUNT(*) AS n_novel
          FROM te ANTI JOIN tr USING (lang, gram)
          GROUP BY lang)
        SELECT te.lang, COUNT(*) AS n_test_grams,
          COALESCE(ANY_VALUE(nov.n_novel), 0) AS n_novel,
          CAST(COALESCE(ANY_VALUE(nov.n_novel), 0) AS DOUBLE) / COUNT(*)
            AS novelty
        FROM te LEFT JOIN nov ON te.lang = nov.lang
        GROUP BY te.lang""")),

    // ---- PII-style masking pass ------------------------------------------
    //      the redaction transform a curation pipeline runs before
    //      training: every digit masked, with a per-source audit of how
    //      many documents were touched and the masked content hash (so
    //      the downstream exact-dedup keys are PII-stable). Pure
    //      projection + one keyed aggregation — shuffle-free until the
    //      audit rollup, scales as a map-only pass.
    Q("t18_pii_masking",
      (s, d) => Tables.documents(s, d)
        .select(col("source"),
          regexp_replace(col("text"), "[0-9]", "#").as("masked"),
          col("text"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("masked") =!= col("text"), 1)).as("n_redacted"),
          countDistinct(md5(col("masked").cast("binary")))
            .as("n_distinct_masked")),
      Some("""
        SELECT source, COUNT(*) AS n_docs,
          COUNT(CASE WHEN regexp_replace(text, '[0-9]', '#', 'g') <> text
            THEN 1 END) AS n_redacted,
          COUNT(DISTINCT md5(regexp_replace(text, '[0-9]', '#', 'g')))
            AS n_distinct_masked
        FROM documents GROUP BY source""")),

    // ---- source-pair vocabulary similarity --------------------------------
    //      which SOURCES are near-duplicates of each other (mirror
    //      detection): exact Jaccard between per-source token
    //      vocabularies. Vocabularies are deduplicated before the
    //      token-keyed self-join, so the pairwise work is bounded by
    //      |vocab| * C(sources-per-token, 2), never corpus size — the
    //      source-level twin of d02's per-document Jaccard.
    Q("t19_source_similarity",
      (s, d) => {
        val st = Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("source"), explode(col("toks")).as("tok"))
          .distinct()
        val sizes = st.groupBy("source").agg(count(lit(1)).as("sz"))
        st.as("a")
          .join(st.as("b"),
            col("a.tok") === col("b.tok")
              && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
          .agg(count(lit(1)).as("common"))
          .join(broadcast(sizes.select(col("source").as("sa"),
            col("sz").as("za"))), "sa")
          .join(broadcast(sizes.select(col("source").as("sb"),
            col("sz").as("zb"))), "sb")
          .filter(col("common").cast("double")
            / (col("za") + col("zb") - col("common")) >= 0.3)
          .select(col("sa"), col("sb"), col("common"),
            (col("common").cast("double")
              / (col("za") + col("zb") - col("common"))).as("jaccard"))
      },
      Some("""
        WITH st AS (
          SELECT DISTINCT source, t.tok
          FROM documents,
            unnest(string_split_regex(trim(text), ' +')) t(tok)),
        sz AS (SELECT source, COUNT(*) AS sz FROM st GROUP BY source),
        pr AS (
          SELECT a.source AS sa, b.source AS sb, COUNT(*) AS common
          FROM st a JOIN st b
            ON a.tok = b.tok AND a.source < b.source
          GROUP BY 1, 2)
        SELECT sa, sb, common,
          CAST(common AS DOUBLE) / (za.sz + zb.sz - common) AS jaccard
        FROM pr
        JOIN sz za ON pr.sa = za.source
        JOIN sz zb ON pr.sb = zb.source
        WHERE CAST(common AS DOUBLE) / (za.sz + zb.sz - common) >= 0.3""")),

    // ---- per-source quality telemetry -----------------------------------
    //      "which crawl sources are degrading": t03's composite quality
    //      score rolled up by source. The mean goes through the c04
    //      discipline — each row's score is quantized (floor q*1e9)
    //      BEFORE the sum, because summing raw doubles is order-
    //      sensitive and the oracle's aggregation order differs; the
    //      quantized integers sum exactly in decimal. The low-quality
    //      count compares each row's identical IEEE score, also
    //      order-free.
    Q("t20_source_quality",
      (s, d) => Tables.documents(s, d)
        .withColumn("toks", tokens("text"))
        .withColumn("q",
          least(col("n_chars").cast("double") / 500.0, lit(1.0)) * 0.4
            + wordlistCount("toks", EnglishStopwords).cast("double")
              / tokenCount("toks") * 0.2
            + distinctTokenCount("toks").cast("double")
              / tokenCount("toks") * 0.4)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(floor(col("q") * 1e9).cast("decimal(38,0)")).cast("double")
            / 1e9 / count(lit(1))).as("mean_quality"),
          sum((col("q") < 0.5).cast("long")).as("n_low_quality")),
      Some(s"""
        WITH t AS (SELECT source, n_chars,
                     string_split_regex(trim(text), ' +') toks
                   FROM documents),
        q AS (SELECT source,
                LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
                  + CAST(len(list_filter(toks, x -> x IN ($stopSql)))
                      AS DOUBLE) / len(toks) * 0.2
                  + CAST(len(list_distinct(toks)) AS DOUBLE)
                      / len(toks) * 0.4 AS q
              FROM t)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CAST(FLOOR(q * 1e9) AS DECIMAL(38,0))) AS DOUBLE)
            / 1e9 / COUNT(*) AS mean_quality,
          CAST(SUM(CASE WHEN q < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_low_quality
        FROM q GROUP BY 1""")),

    // ---- overlapping chunk windows (RAG / context-length splitting) ----
    //      every retrieval or fixed-context training pipeline splits
    //      documents into overlapping windows with STABLE addresses:
    //      chunk (doc_id, seq) covers chars [seq*stride, seq*stride+size)
    //      — row-local sequence+explode+substring, no shuffle until the
    //      final audit aggregate, so it scales as a pure map over any
    //      corpus. The gate pins the addressing arithmetic per source —
    //      chunk count, total covered chars, first-window count, and the
    //      summed head-slice lengths: an off-by-one anywhere in the
    //      window math moves chunk_chars/head_chars and the row goes
    //      red. Chunks per doc = ceil(max(n-size,0)/stride)+1, the
    //      standard "last window may be short, always >= 1" rule.
    Q("t21_chunk_windows",
      (s, d) => {
        val size = 500
        val stride = 400
        val chunks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            posexplode(expr(
              s"""transform(
                    sequence(0, int(ceil(greatest(length(text) - $size, 0)
                                         / $stride.0D))),
                    i -> substring(text, i * $stride + 1, $size))"""))
              .as(Seq("seq", "chunk")))
        chunks.groupBy(col("source"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(length(col("chunk"))).as("chunk_chars"),
            sum(when(col("seq") === 0, 1L).otherwise(0L)).as("n_first"),
            sum(length(substring(col("chunk"), 1, 16))).as("head_chars"))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, source, i AS seq,
            substring(text, CAST(i * 400 + 1 AS BIGINT), 500) AS chunk
          FROM documents
          CROSS JOIN LATERAL unnest(range(0,
            CAST(ceil(greatest(length(text) - 500, 0) / 400.0)
              AS BIGINT) + 1)) t(i))
        SELECT source, COUNT(*) AS n_chunks,
          COUNT(DISTINCT doc_id) AS n_docs,
          CAST(SUM(length(chunk)) AS BIGINT) AS chunk_chars,
          CAST(SUM(CASE WHEN seq = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_first,
          CAST(SUM(length(substring(chunk, 1, 16))) AS BIGINT) AS head_chars
        FROM c GROUP BY 1""")),

    // ---- BPE merge-table TRAINING over the corpus vocabulary ------------
    //      8 rounds of learn-the-most-frequent-pair (see BpeOps for the
    //      distributed shape: vocab-not-corpus, one pair-count shuffle +
    //      a one-row argmax collect + a row-local replace per round,
    //      localCheckpoint rotation). The oracle replays training as an
    //      explicit 8-stage CTE chain with the same deterministic
    //      tie-break — the learned table must match merge for merge,
    //      weight for weight.
    Q("t22_bpe_train",
      (s, d) => graft.operators.BpeOps.train(Tables.documents(s, d), rounds = 8),
      Some(graft.operators.BpeOps.bpeOracleSql(8))),

    // ---- BPE ENCODE with the learned merge table ------------------------
    //      the apply half of t22: train the 8-round merge table (a tiny
    //      driver-side model, like a fitted centroid set), then tokenize
    //      the WHOLE corpus with it — chained literal `replace` over the
    //      character sequence, entirely row-local (the merges ride into
    //      the plan as literals, broadcast by construction; zero
    //      shuffles until the final token-count aggregation). Reported
    //      as counts of the merged units (length >= 2 — single
    //      characters are by definition unmerged). This is the shape a
    //      curation pipeline runs after tokenizer training: the 100 TB
    //      encode pass is embarrassingly parallel, the model is O(vocab
    //      merges), and the corpus never re-shuffles.
    Q("t25_bpe_encode",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = graft.operators.BpeOps.train(docs, rounds = 8)
          .orderBy(col("merge_rank")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.BpeOps.encode(docs, merges)
          .select(explode(col("bpe_tokens")).as("token"))
          .filter(length(col("token")) >= 2)
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
      },
      Some(graft.operators.BpeOps.encodeOracleSql(8))),

    // ---- BPE BULK encode: the vocab-scale twin of t25 -------------------
    //      identical semantics (spec-pinned bit-equality with the
    //      literal-replace chain), different mechanics: the merge table
    //      rides to executors as ONE broadcast list folded in plain JVM
    //      string code, so the plan is constant-size at ANY vocab size —
    //      a 32k-merge production tokenizer costs the same single
    //      function call where t25's literal chain grows linearly and
    //      dies at the JVM 64KB codegen method limit. Gated against the
    //      SAME DuckDB replay as t25: the two paths must agree with the
    //      oracle AND (transitively) each other, which is exactly the
    //      regression any divergence in the bulk merger would trip.
    Q("t26_bpe_encode_bulk",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = graft.operators.BpeOps.train(docs, rounds = 8)
          .orderBy(col("merge_rank")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.BpeOps.encodeBulk(docs, merges)
          .select(explode(col("bpe_tokens")).as("token"))
          .filter(length(col("token")) >= 2)
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
      },
      Some(graft.operators.BpeOps.encodeOracleSql(8))),

    // ---- sequence packing by REAL tokenizer counts (t14's twin) ---------
    //      t14 packs by whitespace-token counts; a training-data builder
    //      ships packs sized by the ACTUAL tokenizer, because context
    //      budgets are spent in BPE tokens, not words. Same
    //      deterministic start-offset assignment (per lang in doc_id
    //      order, pack_id = floor(start/budget) — shuffle-once,
    //      order-independent, docs never split), but n_tok comes from
    //      encodeBulk with the t22-trained 8-round merge table: train is
    //      a tiny driver-side model, the encode pass is row-local with
    //      the merge table broadcast, and the only shuffles are the
    //      per-lang cumsum window and the final pack rollup. Counts ALL
    //      tokens (unmerged single chars cost context length too).
    Q("t30_bpe_token_packs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 4096L
        val docs = Tables.documents(s, d)
        val merges = graft.operators.BpeOps.train(docs, rounds = 8)
          .orderBy(col("merge_rank")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        graft.operators.BpeOps.encodeBulk(docs, merges)
          .select(col("doc_id"), col("lang"),
            size(col("bpe_tokens")).cast("long").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("pack_id",
            floor((col("cum") - col("n_tok")) / budget).cast("long"))
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("pack_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
      },
      Some(graft.operators.BpeOps.encodePackOracleSql(8, 4096L))),

    // ---- vocabulary growth curve (Heaps' law) ---------------------------
    //      how fast the distinct-token vocabulary grows as the corpus
    //      is consumed in doc_id order — the curve a tokenizer-training
    //      run reads to size its vocab and decide how much corpus the
    //      trainer actually needs. ONE pass (the d19 discipline): each
    //      token's FIRST document (min doc_id) is computed once, then
    //      the broadcast checkpoint grid counts tokens first seen at or
    //      before each checkpoint — never one distinct-scan per
    //      checkpoint. Output per checkpoint: cumulative docs, tokens,
    //      distinct vocab, and type/token ratio (integer parts-per-1e9).
    Q("t34_vocab_growth",
      (s, d) => {
        import s.implicits._
        val checkpoints = Seq(50L, 100L, 200L, 500L).toDF("cp")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens("text")).as("term"))
        val firstSeen = toks.groupBy(col("term"))
          .agg(min(col("doc_id")).as("first_doc"))
        val docTok = Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("doc_id"), tokenCount("toks").as("n_tok"))
        val vocabAt = firstSeen.join(broadcast(checkpoints),
            col("first_doc") < col("cp"))
          .groupBy(col("cp"))
          .agg(count(lit(1)).as("vocab"))
        val tokensAt = docTok.join(broadcast(checkpoints),
            col("doc_id") < col("cp"))
          .groupBy(col("cp"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        tokensAt.join(vocabAt, Seq("cp"))
          .select(col("cp"), col("n_docs"), col("n_tokens"), col("vocab"),
            // exact integer division (`div`) — a double divide + cast
            // could land one off DuckDB's `//` at representability edges
            expr("CAST(vocab * CAST(1000000000 AS BIGINT) div n_tokens AS BIGINT)")
              .as("ttr_e9"))
      },
      Some("""
        WITH toks AS (SELECT doc_id,
            unnest(string_split_regex(trim(text), ' +')) AS term
          FROM documents),
        fs AS (SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY 1),
        dt AS (SELECT doc_id,
            len(string_split_regex(trim(text), ' +')) AS n_tok
          FROM documents),
        cp AS (SELECT CAST(t AS BIGINT) AS cp
               FROM (VALUES (50), (100), (200), (500)) v(t)),
        va AS (SELECT cp.cp, COUNT(*) AS vocab
               FROM fs JOIN cp ON fs.first_doc < cp.cp GROUP BY 1),
        ta AS (SELECT cp.cp, COUNT(*) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS n_tokens
               FROM dt JOIN cp ON dt.doc_id < cp.cp GROUP BY 1)
        SELECT ta.cp, ta.n_docs, ta.n_tokens, CAST(va.vocab AS BIGINT)
            AS vocab,
          CAST(va.vocab * 1000000000 // ta.n_tokens AS BIGINT) AS ttr_e9
        FROM ta JOIN va ON ta.cp = va.cp""")),

    // ---- DSIR importance resampling (Xie et al. 2023) -------------------
    //      select raw documents whose hashed-n-gram distribution looks
    //      like a TARGET corpus (here: the 'en' slice) — the data-
    //      selection step run before pretraining when the target domain
    //      is small and the crawl is huge. Features = unigrams ∪
    //      bigrams hashed into 256 buckets (md5-derived, the portable-
    //      hash discipline); target and raw bag-of-buckets models get
    //      add-1 smoothing; a doc's log importance weight is the sum of
    //      its features' log(p_tgt/p_raw), and selection is Gumbel
    //      top-k on logw + G (G = -ln(-ln(u)), u md5-derived per doc,
    //      ':gumbel'-salted so it is independent of d18's keys) — the
    //      paper's sampling-without-replacement trick as pure column
    //      arithmetic. All floats are 1e9-quantized BEFORE summation
    //      (the t23 discipline) so aggregation is order-free and the
    //      oracle replays bit-exactly. Scale shape: the bucket model is
    //      a 256-row frame joined BROADCAST into the feature stream, so
    //      the only real shuffles are the two bounded bucket rollups
    //      and the per-doc sum; the final cut is a TakeOrdered, never a
    //      global sort. At 100 TB the target fit, raw fit, and scoring
    //      pass are each one scan — nothing grows with the corpus
    //      except the embarrassingly parallel feature stream.
    Q("t35_dsir_select",
      (s, d) => {
        val nb = 256
        val docs = Tables.documents(s, d)
        val feats = docs.withColumn("toks", tokens("text"))
          .select(col("doc_id"), col("lang"),
            explode(concat(col("toks"), wordNgrams("toks", 2))).as("f"))
          .withColumn("b", expr(
            "CAST(conv(substring(md5(CAST(f AS BINARY)), 1, 13), 16, 10) " +
              s"AS BIGINT) % $nb"))
          .select(col("doc_id"), col("lang"), col("b"))
        // ONE bucket-stats pass where there were three (target fit, raw
        // fit, grand totals): the en/raw counts come out of a single
        // conditional aggregation (guide §2.3 — aggregate before you
        // shuffle; §1.2 — don't recompute what one pass can carry), and
        // the totals are a rollup of the 256-row bucket frame instead of
        // a third full pass over the exploded feature stream. The bucket
        // frame is persisted because it feeds two consumers (totals +
        // ratios) and its LINEAGE is the whole tokenize/explode/md5
        // feature pass; the cached rows themselves are 256 longs.
        // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
        val bucketCounts = feats.groupBy(col("b"))
          .agg(count(lit(1)).as("cr"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val totals = bucketCounts.agg(
          sum(col("ct")).as("tot_t"), sum(col("cr")).as("tot_r"))
        val ratios = bucketCounts
          .crossJoin(broadcast(totals))
          .select(col("b"), floor(
            (log(col("ct") + 1) -
              log(col("tot_t") + nb) -
              log(col("cr") + 1) + log(col("tot_r") + nb)) * 1e9 + 0.5)
            .cast("long").as("lrq"))
        val h = md5(concat(col("doc_id").cast("string"), lit(":gumbel"))
          .cast("binary"))
        val gumbel = docs.select(col("doc_id"), col("lang"),
          floor(-log(-log(
            (conv(substring(h, 1, 13), 16, 10).cast("long") + lit(1L))
              .cast("double") / lit(4503599627370496.0))) * 1e9 + 0.5)
            .cast("long").as("gq"))
        feats.join(broadcast(ratios), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(sum(col("lrq")).as("logw_q"))
          .join(gumbel, Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("logw_q"),
            (col("logw_q") + col("gq")).as("key_q"))
          .orderBy(col("key_q").desc, col("doc_id").asc)
          .limit(100)
      },
      Some("""
        WITH t AS (SELECT doc_id, lang,
                     string_split_regex(trim(text), ' +') toks
                   FROM documents),
        f AS (SELECT doc_id, lang, unnest(list_concat(toks,
                list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1]))) AS f
              FROM t),
        fb AS (SELECT doc_id, lang,
                 CAST(CONCAT('0x', substring(md5(f), 1, 13)) AS BIGINT)
                   % 256 AS b
               FROM f),
        tc AS (SELECT b, COUNT(*) AS ct FROM fb WHERE lang = 'en'
               GROUP BY b),
        rc AS (SELECT b, COUNT(*) AS cr FROM fb GROUP BY b),
        tot AS (SELECT CAST((SELECT COUNT(*) FROM fb WHERE lang = 'en')
                  AS BIGINT) AS tot_t,
                CAST((SELECT COUNT(*) FROM fb) AS BIGINT) AS tot_r),
        lr AS (SELECT rc.b,
                 CAST(FLOOR((ln(COALESCE(tc.ct, 0) + 1) - ln(tot_t + 256)
                   - ln(rc.cr + 1) + ln(tot_r + 256)) * 1e9 + 0.5)
                   AS BIGINT) AS lrq
               FROM rc LEFT JOIN tc ON rc.b = tc.b, tot),
        w AS (SELECT doc_id, CAST(SUM(lrq) AS BIGINT) AS logw_q
              FROM fb JOIN lr ON fb.b = lr.b GROUP BY doc_id),
        g AS (SELECT doc_id, CAST(FLOOR(-ln(-ln(
                (CAST(CONCAT('0x', substring(
                    md5(CAST(doc_id AS VARCHAR) || ':gumbel'), 1, 13))
                  AS BIGINT) + 1) / 4503599627370496.0)) * 1e9 + 0.5)
                AS BIGINT) AS gq
              FROM t)
        SELECT w.doc_id, d.lang, w.logw_q, w.logw_q + g.gq AS key_q
        FROM w JOIN g ON w.doc_id = g.doc_id
        JOIN documents d ON w.doc_id = d.doc_id
        ORDER BY key_q DESC, w.doc_id ASC LIMIT 100""")),

    // ---- BPE round-trip integrity (lossless detokenization) ------------
    //      the invariant a tokenizer ships with: decode(encode(x)) == x.
    //      Train the merge table (8 rounds), bulk-encode the corpus, and
    //      check per doc that the tokens concatenated back together equal
    //      lower(text) minus spaces (space is the word boundary the
    //      character-level BPE spends during tokenization itself — every
    //      other byte must survive), plus the chars-per-1000-tokens
    //      compression diagnostic as an exact integer. Row-local after
    //      the (already-gated) training pass; the oracle replays train +
    //      encode + the round-trip equality byte-for-byte.
    Q("t38_bpe_roundtrip",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = graft.operators.BpeOps.train(docs, rounds = 8)
          .orderBy(col("merge_rank")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.BpeOps.encodeBulk(docs, merges)
          .select(col("doc_id"),
            size(col("bpe_tokens")).cast("long").as("n_tokens"),
            (array_join(col("bpe_tokens"), "") ===
              regexp_replace(lower(col("text")), " ", ""))
              .as("roundtrip_ok"),
            expr("""CAST(length(replace(lower(text), ' ', ''))
                    * CAST(1000 AS BIGINT) div size(bpe_tokens)
                    AS BIGINT)""").as("chars_per_kilo_token"))
      },
      Some(graft.operators.BpeOps.roundtripOracleSql(8))),

    // ---- exact n-gram benchmark contamination scan (GPT-3 App. C) ------
    //      the decontamination twin of t28: where t28 evicts NEAR-dups
    //      of test docs (MinHash bands), this is the exact-collision
    //      screen GPT-3/FineWeb run — flag every train doc sharing any
    //      13-gram with the benchmark set (source = 'src19'). The
    //      fixture has no natural cross-source 13-gram collisions
    //      (measured: 0/475), so the gate INJECTS them (the t32
    //      discipline): every 7th train doc gets the first 13 tokens of
    //      the lowest-id benchmark doc appended — both branches fire
    //      and both engines replay the injection. Scale shape: the
    //      dirty-gram set is TEST-set-sized, never corpus-sized — built
    //      once, broadcast, and probed by ONE corpus pass: the per-doc
    //      distinct grams explode_outer so every doc keeps a row, the
    //      broadcast LEFT join marks exact hits in the same stage, and a
    //      single doc-keyed aggregation carries BOTH the gram count and
    //      the dirty count (r18: the original two corpus passes — one
    //      for n_grams, one bloom-prefiltered join for the hits — paid
    //      tokenize + 13-gram assembly twice; a broadcast-hash probe is
    //      the same per-row O(1) as the bloom test, so folding the exact
    //      join into the counting pass halves the corpus work, guide
    //      §1.2/§2.3. bloomPreFilter remains the right pre-shuffle
    //      reducer when the exact set CANNOT broadcast — ds-family gates
    //      and BloomReductionSpec keep that path pinned); the corpus is
    //      never shuffled by gram.
    Q("t37_contamination_scan",
      (s, d) => {
        val n = 13
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("source") === "src19")
        // lowest-id benchmark doc LONG ENOUGH to own a 13-gram (the
        // fixture's shortest docs run 10 tokens)
        val snip = bench.filter(size(tokens("text")) >= n)
          .orderBy(col("doc_id")).limit(1)
          .select(array_join(slice(tokens("text"), 1, n), " ").as("snip"))
        val train = docs.filter(col("source") =!= "src19")
          .crossJoin(broadcast(snip))
          .select(col("doc_id"),
            concat(col("text"),
              when(col("doc_id") % 7 === 0, concat(lit(" "), col("snip")))
                .otherwise(lit(""))).as("raw"))
          .withColumn("toks", split(trim(col("raw")), " +"))
        val testGrams = bench.withColumn("toks", tokens("text"))
          .select(explode(wordNgrams("toks", n)).as("g")).distinct()
        // explode_outer: a doc too short to own any 13-gram keeps one
        // null-gram row, so it survives to the output with n_grams = 0
        // (count(g) skips the null) exactly as the old size()-pass did
        val exploded = train.select(col("doc_id"),
          explode_outer(array_distinct(wordNgrams("toks", n))).as("g"))
        exploded
          .join(broadcast(testGrams.withColumn("hit", lit(1))),
            Seq("g"), "left")
          .groupBy(col("doc_id"))
          .agg(count(col("g")).as("n_grams"),
            count(col("hit")).as("nd"))
          .select(col("doc_id"), col("n_grams"),
            col("nd").as("n_dirty_grams"),
            (col("nd") > 0).as("is_contaminated"))
      },
      Some("""
        WITH b AS (SELECT doc_id, string_split_regex(trim(text), ' +') toks
                   FROM documents WHERE source = 'src19'),
        s AS (SELECT array_to_string(toks[1:13], ' ') AS snip
              FROM b WHERE len(toks) >= 13 ORDER BY doc_id LIMIT 1),
        tg AS (SELECT DISTINCT unnest(list_transform(
                 range(1, len(toks) - 11),
                 i -> array_to_string(toks[i:i+12], ' '))) AS g
               FROM b),
        tr AS (SELECT d.doc_id,
                 d.text || CASE WHEN d.doc_id % 7 = 0
                   THEN ' ' || (SELECT snip FROM s) ELSE '' END AS raw
               FROM documents d WHERE d.source <> 'src19'),
        tk AS (SELECT doc_id, string_split_regex(trim(raw), ' +') toks
               FROM tr),
        trg AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(toks) - 11),
                  i -> array_to_string(toks[i:i+12], ' ')))) AS g
                FROM tk),
        ng AS (SELECT doc_id,
                 CAST(len(list_distinct(list_transform(
                   range(1, len(toks) - 11),
                   i -> array_to_string(toks[i:i+12], ' ')))) AS BIGINT)
                   AS n_grams
               FROM tk),
        dirty AS (SELECT trg.doc_id, CAST(COUNT(*) AS BIGINT) AS nd
                  FROM trg JOIN tg ON trg.g = tg.g GROUP BY 1)
        SELECT ng.doc_id, ng.n_grams,
          CAST(COALESCE(dirty.nd, 0) AS BIGINT) AS n_dirty_grams,
          COALESCE(dirty.nd, 0) > 0 AS is_contaminated
        FROM ng LEFT JOIN dirty ON ng.doc_id = dirty.doc_id""")),

    // ---- trained quality probe (linear classifier, hashed features) -----
    //      the discriminative twin of t35's generative ratio: a linear
    //      probe TRAINED on the corpus by full-batch least-squares GD
    //      (8 steps, lr = 32 exact) to score "looks like the target
    //      domain" (label y = +1 for lang = 'en', -1 otherwise) from 64
    //      hashed unigram+bigram frequency buckets + bias — the
    //      CCNet/GPT-3 quality-classifier shape (Wenzek 2020 §4.3,
    //      Brown 2020 A.2) with the c10 replay discipline. Features are
    //      LENGTH-NORMALIZED counts (c_b / T per doc): unnormalized
    //      counts make the top eigendirection "document length" and the
    //      probe learns nothing (measured AUC 0.49); normalized, the
    //      same 8 GD steps reach AUC 0.68 on the fixture (spec-pinned
    //      > 0.6). The training-scale trick: the Gram matrix G = Σxxᵀ
    //      and moment b = Σyx are 1e9-quantized integer sums (the c10
    //      covariance pattern) accumulated map-side-combined in one
    //      distributed pass each; the 65×65 model then iterates
    //      DRIVER-side (c10's documented model-sized collect), every
    //      step re-quantized so both engines walk the same IEEE path.
    //      Scoring: score_q = Σ floor(w_b · x_b · 1e9 + 0.5) with w on
    //      the 1e9 grid — order-free integer rollup under broadcast-
    //      literal weights. At 100 TB: two Gram passes + one scoring
    //      pass, model size constant.
    Q("t36_quality_probe",
      (s, d) => {
        val nb = 64 // feature buckets 1..64; bucket 0 = bias
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val bucket = expr(
          "CAST(conv(substring(md5(CAST(f AS BINARY)), 1, 13), 16, 10) " +
            s"AS BIGINT) % $nb + 1")
        // the per-doc feature total is CLOSED-FORM — |toks| unigrams +
        // |toks|-1 bigrams + the bias row = 2·|toks| exactly — so it
        // rides the rows as an integer-valued double column instead of
        // a corpus-wide partitionBy(doc_id) window (r18: that window
        // paid a full sort+exchange to recompute a number the schema
        // already determines; both forms are exact, same IEEE division)
        val counts = docs.withColumn("toks", tokens("text"))
          .select(col("doc_id"), col("lang"),
            (size(col("toks")) * 2).cast("double").as("t"),
            explode(concat(col("toks"), wordNgrams("toks", 2))).as("f"))
          .withColumn("b", bucket)
          .groupBy(col("doc_id"), col("lang"), col("t"), col("b"))
          .agg(count(lit(1)).cast("double").as("c"))
          .unionByName(docs.withColumn("toks", tokens("text"))
            .select(col("doc_id"), col("lang"),
              (size(col("toks")) * 2).cast("double").as("t"),
              lit(0L).as("b"), lit(1.0).as("c")))
        val fx = counts
          .select(col("doc_id"), col("lang"), col("b"),
            (col("c") / col("t")).as("x"))
          // cache lifecycle: CALLER-owned — clearCache()/unpersist after the action (DedupOps class doc)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val gram = fx.as("a").join(fx.as("c"), "doc_id")
          .groupBy(col("a.b").as("i"), col("c.b").as("j"))
          .agg(sum(floor(col("a.x") * col("c.x") * lit(1e9) + lit(0.5))
            .cast("long")).as("gq"))
          .collect() // (nb+1)^2 = 4225 cells — model-sized, like c10
          .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt),
            r.getLong(2))).toMap
        val bvec = fx
          .withColumn("y", when(col("lang") === "en", 1.0).otherwise(-1.0))
          .groupBy(col("b"))
          .agg(sum(floor(col("x") * col("y") * lit(1e9) + lit(0.5))
            .cast("long")).as("bq"))
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        var w = Array.fill(nb + 1)(0.0)
        for (_ <- 1 to 8) {
          val gw = Array.tabulate(nb + 1) { i =>
            var acc = 0L
            var j = 0
            while (j <= nb) {
              acc += math.floor(
                gram.getOrElse((i, j), 0L) / 1e9 * w(j) * 1e9 + 0.5).toLong
              j += 1
            }
            acc
          }
          w = Array.tabulate(nb + 1) { i =>
            math.floor((w(i) +
              32.0 * (bvec.getOrElse(i, 0L) - gw(i)) / 1e9 / n) * 1e9
              + 0.5).toLong / 1e9
          }
        }
        fx.withColumn("wq", element_at(
            array(w.map(x => lit(math.floor(x * 1e9 + 0.5).toLong)): _*),
            col("b").cast("int") + 1))
          .groupBy(col("doc_id"), col("lang"))
          .agg(sum(floor(col("wq").cast("double") / 1e9 * col("x") *
            lit(1e9) + lit(0.5)).cast("long")).as("score_q"))
          .select(col("doc_id"), col("lang"), col("score_q"))
      },
      Some {
        def iter(t: Int): String = s"""
        gw$t AS (SELECT g.i,
                   CAST(SUM(CAST(FLOOR(g.gq / 1e9 * w.w * 1e9 + 0.5)
                     AS BIGINT)) AS BIGINT) AS gw
                 FROM g JOIN w${t - 1} w ON g.j = w.i GROUP BY 1),
        w$t AS MATERIALIZED (
          SELECT gw.i,
            CAST(FLOOR((w.w + 32.0 * (COALESCE(bv.bq, 0) - gw.gw) / 1e9
                / (SELECT n FROM nn)) * 1e9 + 0.5) AS BIGINT) / 1e9 AS w
          FROM gw$t gw JOIN w${t - 1} w ON gw.i = w.i
          LEFT JOIN bv ON gw.i = bv.i)"""
        s"""
        WITH t AS (SELECT doc_id, lang,
                     string_split_regex(trim(text), ' +') toks
                   FROM documents),
        cts AS (SELECT doc_id, lang,
                  CAST(CONCAT('0x', substring(md5(f), 1, 13)) AS BIGINT)
                    % 64 + 1 AS b,
                  CAST(COUNT(*) AS DOUBLE) AS c
                FROM (SELECT doc_id, lang, unnest(list_concat(toks,
                        list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1]))) AS f
                      FROM t)
                GROUP BY 1, 2, 3
                UNION ALL
                SELECT doc_id, lang, 0 AS b, 1.0 AS c FROM documents),
        fx AS MATERIALIZED (
          SELECT doc_id, lang, b,
            c / SUM(c) OVER (PARTITION BY doc_id) AS x
          FROM cts),
        g AS MATERIALIZED (
          SELECT a.b AS i, c.b AS j,
            CAST(SUM(CAST(FLOOR(a.x * c.x * 1e9 + 0.5) AS BIGINT))
              AS BIGINT) AS gq
          FROM fx a JOIN fx c ON a.doc_id = c.doc_id GROUP BY 1, 2),
        bv AS (SELECT b AS i,
                 CAST(SUM(CAST(FLOOR(x * (CASE WHEN lang = 'en'
                     THEN 1.0 ELSE -1.0 END) * 1e9 + 0.5) AS BIGINT))
                   AS BIGINT) AS bq
               FROM fx GROUP BY 1),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        w0 AS (SELECT unnest(range(0, 65)) AS i, CAST(0 AS DOUBLE) AS w),
        ${(1 to 8).map(iter).map(_.stripPrefix("\n")).mkString(",\n        ")},
        wq AS (SELECT i, CAST(FLOOR(w * 1e9 + 0.5) AS BIGINT) AS wq
               FROM w8)
        SELECT fx.doc_id, fx.lang,
          CAST(SUM(CAST(FLOOR(wq.wq / 1e9 * fx.x * 1e9 + 0.5) AS BIGINT))
            AS BIGINT) AS score_q
        FROM fx JOIN wq ON fx.b = wq.i
        GROUP BY 1, 2"""
      }),

    // ---- causal-LM example assembly accounting --------------------------
    //      the step AFTER packing: the per-lang doc stream (doc_id
    //      order) is concatenated with a 1-token EOD separator and
    //      sliced into fixed 512-token context windows — the op that
    //      turns a corpus into training examples. Everything is exact
    //      integer arithmetic off ONE per-lang cumsum window: total
    //      tokens, window count ceil(T/ctx), the last window's fill,
    //      and how many documents get SPLIT across a window boundary
    //      (floor(start/ctx) != floor((end-1)/ctx)) — the
    //      attention-fragmentation number a data builder watches when
    //      choosing ctx vs mean doc length. Scale: one keyed window +
    //      one rollup, no data movement beyond the lang shuffle.
    Q("t33_context_windows",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ctx = 512L
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("doc_id"), col("lang"),
            (tokenCount("toks") + 1L).as("n_tok")) // +1 EOD separator
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("split_doc",
            (floor((col("cum") - col("n_tok")) / ctx) =!=
              floor((col("cum") - 1) / ctx)).cast("long"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("total_tokens"),
            ceil(max(col("cum")).cast("double") / ctx).cast("long")
              .as("n_windows"),
            (max(col("cum")) - (ceil(max(col("cum")).cast("double") / ctx)
              .cast("long") - 1L) * ctx).as("last_fill"),
            sum(col("split_doc")).as("n_docs_split"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang,
            len(string_split_regex(trim(text), ' +')) + 1 AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tok,
            SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
          CAST(CEIL(CAST(MAX(cum) AS DOUBLE) / 512) AS BIGINT) AS n_windows,
          CAST(MAX(cum) - (CAST(CEIL(CAST(MAX(cum) AS DOUBLE) / 512)
            AS BIGINT) - 1) * 512 AS BIGINT) AS last_fill,
          CAST(SUM(CASE WHEN FLOOR((cum - n_tok) / 512)
            <> FLOOR((cum - 1) / 512) THEN 1 ELSE 0 END) AS BIGINT)
            AS n_docs_split
        FROM c GROUP BY 1""")),

    // ---- repetition quality filters (the Gopher rules) ------------------
    //      the MassiveText repetition screens (Rae et al. 2021,
    //      "Scaling Language Models: ... Gopher", table A1): documents
    //      dominated by a single repeated n-gram or by duplicated
    //      n-grams are template/boilerplate spam, not prose. Per doc:
    //      the most-frequent word-2-gram's occurrence fraction and the
    //      fraction of 3-gram occurrences belonging to duplicated
    //      3-grams; keep = top2 <= 80 permille AND dup3 <= 20 permille
    //      (integer-permille comparisons — no float at the decision
    //      boundary; thresholds sit at the fixture's p90/p99 so the
    //      gate exercises both branches). Scale shape: two row-bounded
    //      explode+count passes keyed by (doc_id, gram) — work linear
    //      in corpus tokens, no cross-doc joins at all.
    Q("t31_repetition_filter",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), tokens("text").as("toks"))
        def gramStats(n: Int) = base
          .select(col("doc_id"), explode(wordNgrams("toks", n)).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id"))
          .agg(max(col("cnt")).as(s"top$n"), sum(col("cnt")).as(s"n$n"),
            sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L))
              .as(s"dup$n"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(gramStats(2).select(col("doc_id"), col("top2"), col("n2")),
            Seq("doc_id"), "left")
          .join(gramStats(3).select(col("doc_id"), col("dup3"), col("n3")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n2"), lit(0L)).as("n2"),
            coalesce(col("top2"), lit(0L)).as("top2"),
            when(coalesce(col("n2"), lit(0L)) > 0,
              floor(col("top2") * lit(1e9) / col("n2")).cast("long"))
              .otherwise(0L).as("top2_frac_q"),
            coalesce(col("n3"), lit(0L)).as("n3"),
            coalesce(col("dup3"), lit(0L)).as("dup3"),
            when(coalesce(col("n3"), lit(0L)) > 0,
              floor(col("dup3") * lit(1e9) / col("n3")).cast("long"))
              .otherwise(0L).as("dup3_frac_q"),
            (coalesce(col("top2"), lit(0L)) * 1000 <=
              coalesce(col("n2"), lit(0L)) * 80 &&
              coalesce(col("dup3"), lit(0L)) * 1000 <=
                coalesce(col("n3"), lit(0L)) * 20).as("keep"))
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') toks
                   FROM documents),
        g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])) AS g
               FROM t WHERE len(toks) >= 2),
        c2 AS (SELECT doc_id, g, COUNT(*) cnt FROM g2 GROUP BY 1, 2),
        m2 AS (SELECT doc_id, MAX(cnt) top2, SUM(cnt) n2
               FROM c2 GROUP BY 1),
        g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
               FROM t WHERE len(toks) >= 3),
        c3 AS (SELECT doc_id, g, COUNT(*) cnt FROM g3 GROUP BY 1, 2),
        m3 AS (SELECT doc_id,
                 SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) dup3,
                 SUM(cnt) n3
               FROM c3 GROUP BY 1)
        SELECT d.doc_id,
          CAST(COALESCE(n2, 0) AS BIGINT) AS n2,
          CAST(COALESCE(top2, 0) AS BIGINT) AS top2,
          CAST(CASE WHEN COALESCE(n2, 0) > 0
            THEN FLOOR(top2 * 1e9 / n2) ELSE 0 END AS BIGINT)
            AS top2_frac_q,
          CAST(COALESCE(n3, 0) AS BIGINT) AS n3,
          CAST(COALESCE(dup3, 0) AS BIGINT) AS dup3,
          CAST(CASE WHEN COALESCE(n3, 0) > 0
            THEN FLOOR(dup3 * 1e9 / n3) ELSE 0 END AS BIGINT)
            AS dup3_frac_q,
          (COALESCE(top2, 0) * 1000 <= COALESCE(n2, 0) * 80
           AND COALESCE(dup3, 0) * 1000 <= COALESCE(n3, 0) * 20) AS keep
        FROM documents d LEFT JOIN m2 ON d.doc_id = m2.doc_id
          LEFT JOIN m3 ON d.doc_id = m3.doc_id""")),

    // ---- PII detection + redaction --------------------------------------
    //      every distribution-grade corpus pass scrubs contact PII.
    //      The fixture injects deterministic PII into each document
    //      (an email, a second email on doc_id%3, a phone except on
    //      doc_id%5, an IP — so counts VARY and both branches of every
    //      rule fire); the scrubber finds emails / NANP-style phones /
    //      IPv4s by RE2-compatible regex (no backrefs) and replaces
    //      them with typed placeholders. Row-local map, zero shuffles —
    //      the oracle rebuilds the same injected text and replays
    //      detection and redaction byte-for-byte, so the gate pins the
    //      exact regex semantics on both engines.
    Q("t32_pii_scrub",
      (s, d) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\b555-[0-9]{4}\\b"
        val ipRe = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
        val id = col("doc_id")
        val pii = concat(
          lit(" Contact user"), id.cast("string"), lit("@example.com"),
          when(id % 3 === 0,
            concat(lit(" cc admin"), id.cast("string"), lit("@mail.test")))
            .otherwise(lit("")),
          when(id % 5 =!= 0,
            concat(lit(" call 555-"),
              lpad((id % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          lit(" from 192.168."), (id % 256).cast("string"), lit("."),
          ((id * 7) % 256).cast("string"), lit("."))
        val raw = concat(col("text"), pii)
        Tables.documents(s, d)
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            // Scala-API regexp_extract_all, NOT expr(): a single-quoted
            // SQL literal would eat the \b escapes at parse time
            size(regexp_extract_all(col("raw"), lit(emailRe), lit(0)))
              .cast("long").as("n_email"),
            size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0)))
              .cast("long").as("n_phone"),
            size(regexp_extract_all(col("raw"), lit(ipRe), lit(0)))
              .cast("long").as("n_ip"),
            regexp_replace(
              regexp_replace(
                regexp_replace(col("raw"), emailRe, "[EMAIL]"),
                ipRe, "[IP]"),
              phoneRe, "[PHONE]").as("clean_text"))
      },
      Some("""
        WITH raw AS (SELECT doc_id,
          text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            || CASE WHEN doc_id % 3 = 0
                 THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@mail.test'
                 ELSE '' END
            || CASE WHEN doc_id % 5 <> 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
            || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.'
            || CAST((doc_id * 7) % 256 AS VARCHAR) || '.' AS raw
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(raw,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
            AS n_email,
          CAST(len(regexp_extract_all(raw, '\b555-[0-9]{4}\b')) AS BIGINT)
            AS n_phone,
          CAST(len(regexp_extract_all(raw,
            '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
          regexp_replace(
            regexp_replace(
              regexp_replace(raw,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '[EMAIL]', 'g'),
              '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
            '\b555-[0-9]{4}\b', '[PHONE]', 'g') AS clean_text
        FROM raw""")),

    // ---- BM25 retrieval (Okapi, k1=1.2 b=0.75) --------------------------
    //      the lexical twin of the s-family's ANN: score every document
    //      against a query (the distinct tokens of doc 1) over an
    //      on-the-fly inverted index, top-20. The scale shape: query
    //      terms and their document frequencies are a TINY frame —
    //      joined broadcast, so the postings table (doc_id, term, tf) is
    //      filtered to query terms in its own scan partitions with NO
    //      term-keyed shuffle; the one real shuffle keys by doc_id (the
    //      doc-length join + final sum share it), and the top-20 is a
    //      TakeOrdered, never a global sort. Per-term scores are
    //      quantized by floor(x*1e9 + 0.5) and summed as exact integers
    //      (ln() may differ by an ulp across engines; the quantum
    //      absorbs it and makes the doc score aggregation-order-free).
    Q("t23_bm25",
      (s, d) => bm25Ranked(Tables.documents(s, d), queryDocId = 1L,
        topN = 20).drop("rk"),
      Some("""
        WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +'))
                     AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        dl AS (SELECT doc_id, len(string_split_regex(trim(text), ' +')) AS dl
               FROM documents),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        st AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        qt AS (SELECT DISTINCT term FROM t WHERE doc_id = 1),
        sc AS (SELECT tf.doc_id,
                 CAST(FLOOR(
                   ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
                   (tf.tf * (1.2 + 1.0) /
                     (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)))
                   * 1e9 + 0.5) AS BIGINT) AS tsq
               FROM tf JOIN qt USING (term) JOIN df USING (term)
                 JOIN dl USING (doc_id), st)
        SELECT doc_id, CAST(SUM(tsq) AS BIGINT) AS score_q,
          CAST(SUM(tsq) AS DOUBLE) / 1e9 AS score
        FROM sc GROUP BY doc_id
        ORDER BY score_q DESC, doc_id ASC LIMIT 20""")),

    // ---- unigram-LM perplexity proxy (the CCNet-style quality filter) ---
    //      train an add-one-smoothed unigram model on the corpus itself,
    //      then score every document by mean negative log-likelihood per
    //      token — the curation signal that ranks fluent text low and
    //      gibberish high. Scale shape: one term-keyed shuffle to count
    //      the vocabulary, one term-keyed join of postings x counts (the
    //      vocabulary is NOT broadcast — at corpus scale it exceeds any
    //      broadcast budget), one doc-keyed sum; the two scalar model
    //      constants (vocab size, token total) ride along broadcast.
    //      Per-(doc,term) contributions are quantized by floor(x*1e9 +
    //      0.5) and summed as exact integers — ln() may differ by an
    //      ulp across engines, and the doc mean must not depend on
    //      aggregation order.
    Q("t24_perplexity_filter",
      (s, d) => {
        val toks = Tables.documents(s, d).withColumn("toks", tokens("text"))
        val inst = toks
          .select(col("doc_id"), explode(col("toks")).as("term"))
        val tf = inst.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val tc = inst.groupBy("term").agg(count(lit(1)).as("c"))
        val vt = tc.agg(count(lit(1)).as("v"), sum(col("c")).as("tt"))
        val dl = toks.select(col("doc_id"), tokenCount("toks").as("dl"))
        tf.join(tc, "term")
          .crossJoin(broadcast(vt))
          .select(col("doc_id"),
            floor(col("tf") *
              log((col("c") + lit(1.0)) / (col("tt") + col("v")))
              * lit(1e9) + lit(0.5)).as("tsq"))
          .groupBy(col("doc_id")).agg(sum(col("tsq")).as("sum_q"))
          .join(dl, "doc_id")
          .select(col("doc_id"), col("dl").as("n_tokens"),
            (-(col("sum_q").cast("double") / lit(1e9)) / col("dl"))
              .as("nll"))
      },
      Some("""
        WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +'))
                     AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        tc AS (SELECT term, COUNT(*) AS c FROM t GROUP BY 1),
        vt AS (SELECT COUNT(*) AS v, CAST(SUM(c) AS BIGINT) AS tt FROM tc),
        dl AS (SELECT doc_id, len(string_split_regex(trim(text), ' +')) AS dl
               FROM documents),
        sc AS (SELECT tf.doc_id,
                 CAST(FLOOR(tf.tf * ln((tc.c + 1.0) / (vt.tt + vt.v))
                   * 1e9 + 0.5) AS BIGINT) AS tsq
               FROM tf JOIN tc USING (term), vt)
        SELECT doc_id, dl.dl AS n_tokens,
          -(CAST(SUM(tsq) AS DOUBLE) / 1e9) / dl.dl AS nll
        FROM sc JOIN dl USING (doc_id)
        GROUP BY doc_id, dl.dl""")),

    // ---- bigram-LM perplexity (t24's conditional upgrade) ---------------
    //      add-one-smoothed P(cur|prev) = (c(prev,cur)+1)/(c(prev)+V)
    //      trained on the corpus itself, scoring every document by mean
    //      NLL per bigram — one CCNet step past the unigram filter:
    //      gibberish word ORDER now scores high even when the unigram
    //      mix looks fluent. Scale shape: bigram emission is row-local
    //      (zip_with over two slices, no index join); pair and prev
    //      counts are keyed shuffles; postings join counts BY PAIR KEY
    //      (a bigram table is quadratic in vocab — it must never be
    //      broadcast, the same t24 discipline); only the scalar (V) rides
    //      broadcast. Per-bigram NLLs are 1e-9-quantized and summed as
    //      exact integers (ln ulp absorbed), so the top-20 cut is
    //      deterministic. Single-token docs have no bigrams and drop out.
    Q("t27_bigram_perplexity",
      (s, d) => {
        val toks = Tables.documents(s, d).withColumn("toks", tokens("text"))
        val bi = toks.select(col("doc_id"), explode(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
                      slice(toks, 2, size(toks) - 1),
                      (p, c) -> struct(p AS prev, c AS cur))""")).as("b"))
          .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
        val pc = bi.groupBy("prev", "cur").agg(count(lit(1)).as("cpc"))
        val pv = bi.groupBy("prev").agg(count(lit(1)).as("cp"))
        val vz = toks.select(explode(col("toks")).as("term"))
          .agg(count_distinct(col("term")).as("vsz"))
        bi.join(pc, Seq("prev", "cur"))
          .join(pv, Seq("prev"))
          .crossJoin(broadcast(vz))
          .select(col("doc_id"),
            floor(log((col("cp") + col("vsz")).cast("double") /
                      (col("cpc") + lit(1)).cast("double"))
              * lit(1e9) + lit(0.5)).cast("long").as("nlq"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("nlq")).as("nll_q"),
            (sum(col("nlq")).cast("double") / lit(1e9) / count(lit(1)))
              .as("mean_nll"))
          .orderBy(col("mean_nll").desc, col("doc_id").asc)
          .limit(20)
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
                   FROM documents),
        bi AS (SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
               FROM t CROSS JOIN LATERAL unnest(range(1, len(tk))) u(i)),
        pc AS (SELECT prev, cur, COUNT(*) AS cpc FROM bi GROUP BY 1, 2),
        pv AS (SELECT prev, COUNT(*) AS cp FROM bi GROUP BY 1),
        vz AS (SELECT COUNT(DISTINCT term) AS vsz FROM (
                 SELECT unnest(string_split_regex(trim(text), ' +')) AS term
                 FROM documents)),
        sc AS (SELECT bi.doc_id, CAST(FLOOR(
                 ln(CAST(pv.cp + vz.vsz AS DOUBLE) /
                    CAST(pc.cpc + 1 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
                 AS nlq
               FROM bi JOIN pc USING (prev, cur) JOIN pv USING (prev), vz)
        SELECT doc_id, COUNT(*) AS n_bigrams,
          CAST(SUM(nlq) AS BIGINT) AS nll_q,
          CAST(SUM(nlq) AS DOUBLE) / 1e9 / COUNT(*) AS mean_nll
        FROM sc GROUP BY doc_id
        ORDER BY mean_nll DESC, doc_id ASC LIMIT 20""")),

    // ---- decontaminated train/test split --------------------------------
    //      t16's portable md5 split, HARDENED: any train document that is
    //      a near-duplicate (3-gram Jaccard >= 0.6, the d02 exact
    //      verifier) of a TEST document is evicted from train — the
    //      benchmark-leakage guard every serious pretraining mix runs
    //      (a test answer hiding in train, verbatim or lightly edited,
    //      inflates eval). Output: per split, sizes before/after and the
    //      eviction count. Scale shape: the split is a row-local md5
    //      projection; contamination pairs come from the bounded-bucket
    //      shingle join (never all-pairs at production settings); the
    //      eviction is one broadcast-able anti-set.
    Q("t28_decontam_split",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val h = md5(col("doc_id").cast("string").cast("binary"))
        val cut80 = "cccccc" + "0" * 26
        val cut90 = "e66666" + "0" * 26
        val sp = docs.withColumn("split",
          when(h < lit(cut80), "train")
            .when(h < lit(cut90), "validation")
            .otherwise("test"))
          .select(col("doc_id"), col("split"))
        val pairs = graft.operators.DedupOps
          .ngramJaccardPairs(docs, n = 3, minJaccard = 0.6)
          .select("doc_a", "doc_b")
        val labeled = pairs
          .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")),
            "doc_a")
          .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")),
            "doc_b")
        val evict = labeled
          .filter(col("sa") === "train" && col("sb") === "test")
          .select(col("doc_a").as("doc_id"))
          .union(labeled
            .filter(col("sb") === "train" && col("sa") === "test")
            .select(col("doc_b").as("doc_id")))
          .distinct()
        val removed = evict.join(sp, "doc_id")
          .groupBy("split").agg(count(lit(1)).as("n_removed"))
        sp.groupBy("split").agg(count(lit(1)).as("n_before"))
          .join(removed, Seq("split"), "left")
          .select(col("split"), col("n_before"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            (col("n_before") - coalesce(col("n_removed"), lit(0L)))
              .as("n_after"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') toks
                   FROM documents),
        g AS (SELECT doc_id,
                list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) grams
              FROM t),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                len(list_intersect(a.grams, b.grams)) AS common,
                len(a.grams) AS sa_n, len(b.grams) AS sb_n
              FROM g a JOIN g b ON a.doc_id < b.doc_id),
        nd AS (SELECT doc_a, doc_b FROM p
               WHERE CAST(common AS DOUBLE) / (sa_n + sb_n - common) >= 0.6),
        sp AS (SELECT doc_id, CASE
                 WHEN md5(CAST(doc_id AS VARCHAR)) < 'cccccc${"0" * 26}'
                   THEN 'train'
                 WHEN md5(CAST(doc_id AS VARCHAR)) < 'e66666${"0" * 26}'
                   THEN 'validation'
                 ELSE 'test' END AS split
               FROM documents),
        ev AS (SELECT DISTINCT doc_id FROM (
                 SELECT nd.doc_a AS doc_id FROM nd
                   JOIN sp a ON a.doc_id = nd.doc_a
                   JOIN sp b ON b.doc_id = nd.doc_b
                 WHERE a.split = 'train' AND b.split = 'test'
                 UNION ALL
                 SELECT nd.doc_b FROM nd
                   JOIN sp a ON a.doc_id = nd.doc_a
                   JOIN sp b ON b.doc_id = nd.doc_b
                 WHERE b.split = 'train' AND a.split = 'test')),
        rm AS (SELECT sp.split, COUNT(*) AS n_removed FROM ev
               JOIN sp USING (doc_id) GROUP BY 1)
        SELECT sp.split, COUNT(*) AS n_before,
          COALESCE(ANY_VALUE(rm.n_removed), 0) AS n_removed,
          COUNT(*) - COALESCE(ANY_VALUE(rm.n_removed), 0) AS n_after
        FROM sp LEFT JOIN rm ON sp.split = rm.split
        GROUP BY sp.split""")),

    // ---- HTML boilerplate extraction (the crawl entry point) ------------
    //      every pretraining corpus starts from crawled HTML; this gate
    //      wraps the documents' text in a deterministic synthetic page
    //      (head + script/style, a link-dense nav, the body paragraph,
    //      an optional "related links" farm on doc_id%3, a link+legal
    //      footer) and runs HtmlOps.extractText — jusText-shaped block
    //      segmentation with integer-permille link/stopword densities.
    //      The oracle rebuilds the SAME page in SQL and replays every
    //      block decision with DuckDB regexp/list lambdas, so the gate
    //      pins segmentation, tag stripping, both density rules, the
    //      long-block rescue, page-order reassembly, and the all-docs-
    //      retained contract (all-boilerplate pages come back empty,
    //      not missing). Row-local until one doc_id groupBy — a pure
    //      map at 100 TB.
    Q("t29_html_extract",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val boiler = when(col("doc_id") % 3 === 0,
          lit("""<div>Related: <a href="/a">one link</a> <a href="/b">two</a> <a href="/c">three</a></div>"""))
          .otherwise(lit(""))
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("""</title><style>body{color:#000}</style><script>var x = 1 < 2;</script></head><body>"""),
          lit("""<div class="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div>"""),
          lit("<p>"), col("text"), lit("</p>"), boiler,
          lit("""<div class="footer"><a href="/privacy">Privacy</a> | <a href="/terms">Terms</a> | Copyright 2024 Example Corp</div></body></html>"""))
        graft.operators.HtmlOps.extractText(
          docs.select(col("doc_id"), html.as("html")))
      },
      Some(s"""
        WITH h AS (SELECT doc_id,
          '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
          '</title><style>body{color:#000}</style><script>var x = 1 < 2;</script></head><body>' ||
          '<div class="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div>' ||
          '<p>' || text || '</p>' ||
          CASE WHEN doc_id % 3 = 0
            THEN '<div>Related: <a href="/a">one link</a> <a href="/b">two</a> <a href="/c">three</a></div>'
            ELSE '' END ||
          '<div class="footer"><a href="/privacy">Privacy</a> | <a href="/terms">Terms</a> | Copyright 2024 Example Corp</div></body></html>'
          AS html FROM documents),
        st AS (SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(html,
            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g') AS h
          FROM h),
        b0 AS (SELECT doc_id, unnest(arr) AS block,
                 unnest(range(1, len(arr) + 1)) AS pos
               FROM (SELECT doc_id, regexp_split_to_array(h,
                 '(?i)</?(?:p|div|li|ul|ol|h1|h2|h3|h4|h5|h6|br|table|tr|td|th|section|article|header|footer|nav|blockquote|aside|main|form)[^>]*>') AS arr
                 FROM st)),
        b AS (SELECT doc_id, pos,
                trim(regexp_replace(block, '(?s)<[^>]*>', '', 'g')) AS txt,
                COALESCE(list_sum(list_transform(
                  regexp_extract_all(block, '(?is)<a[^>]*>(.*?)</a>', 1),
                  x -> length(x))), 0) AS link_chars
              FROM b0),
        c AS (SELECT doc_id, pos, txt, link_chars,
                regexp_extract_all(txt, '[A-Za-z0-9]+') AS toks
              FROM b WHERE length(txt) > 0),
        k AS (SELECT doc_id, pos, txt,
                (link_chars * 1000 <= length(txt) * 200
                 AND len(toks) > 0
                 AND (len(list_filter(toks, x -> x IN ($stopSql))) * 1000
                        >= len(toks) * 150
                      OR length(txt) >= 100)) AS keep
              FROM c),
        a AS (SELECT doc_id,
                string_agg(CASE WHEN keep THEN txt END, chr(10)
                  ORDER BY pos) AS clean_text,
                SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_blocks_kept,
                SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS n_blocks_dropped
              FROM k GROUP BY doc_id)
        SELECT d.doc_id,
          COALESCE(a.clean_text, '') AS clean_text,
          CAST(COALESCE(a.n_blocks_kept, 0) AS BIGINT) AS n_blocks_kept,
          CAST(COALESCE(a.n_blocks_dropped, 0) AS BIGINT) AS n_blocks_dropped
        FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""")),

    // ---- token-budget selection WITHOUT a global sort --------------------
    //      the curation finale: "take the best documents until the token
    //      budget is spent" — semantically a prefix of the corpus ordered
    //      by (quality DESC, doc_id), i.e. exactly the plan shape
    //      (rangepartitioning exchange + running-sum window) the audit
    //      bans, because at 100 TB every row would flow through the sort.
    //      The scale-right two-phase form used here: (1) one keyed
    //      aggregation histograms token mass per quality bucket (the
    //      bucket key q9 div 4e6 is monotone in the integer quality
    //      surrogate q9 = floor(quality*1e9), so bucket-desc order
    //      refines selection order); the <=251-row histogram is the ONLY
    //      thing the driver sees, and walking it finds the boundary
    //      bucket; (2) buckets strictly above the boundary are selected
    //      by a pushed-down FILTER (no ordering at all), and only the
    //      boundary bucket's rows — corpus/nBuckets in expectation —
    //      flow through an exact running-sum window to spend the
    //      remaining budget. Identical to the full-sort semantics
    //      (the oracle IS the full cumsum) because within-bucket order
    //      is the same global tiebreak. A near-constant-quality corpus
    //      that degenerates the boundary bucket toward the whole corpus
    //      is handled by SelectOps.tokenBudgetSelect's RECURSIVE split:
    //      the boundary re-histograms at a finer q9 quantum, and once a
    //      single q9 value remains, on doc_id ranges (the unique
    //      tiebreak), so the terminal window input is bounded on ANY
    //      input — SelectOpsSpec pins that on an all-identical-quality
    //      corpus. Budget = 2/5 of corpus tokens (integer arithmetic
    //      both sides).
    Q("t39_token_budget_select",
      (s, d) => {
        val quality =
          least(col("n_chars").cast("double") / 500.0, lit(1.0)) * 0.4 +
            (wordlistCount("toks", EnglishStopwords).cast("double") /
              tokenCount("toks")) * 0.2 +
            (distinctTokenCount("toks").cast("double") /
              tokenCount("toks")) * 0.4
        // persisted: the operator's histogram levels + total agg + final
        // selection all re-read this frame. Cache lifecycle caller-owned
        // (the DedupOps contract): Bench/Verify clearCache() per action.
        val scored = Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("doc_id"), tokenCount("toks").cast("long").as("n_tok"),
            floor(quality * lit(1000000000.0)).cast("long").as("q9"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // coalesce: SUM over an empty corpus is NULL (the d19 lesson)
        val total = scored
          .agg(coalesce(sum(col("n_tok")), lit(0L)).as("t"))
          .collect()(0).getLong(0)
        graft.operators.SelectOps
          .tokenBudgetSelect(scored, budget = total * 2 / 5)
          .select(col("doc_id"), col("n_tok"), col("q9"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, n_chars,
                     string_split_regex(trim(text), ' +') toks
                   FROM documents),
        q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
                CAST(FLOOR((LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
                  + CAST(len(list_filter(toks, x -> x IN ($stopSql)))
                      AS DOUBLE) / len(toks) * 0.2
                  + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                      * 0.4) * 1000000000.0) AS BIGINT) AS q9
              FROM t),
        b AS (SELECT CAST(SUM(n_tok) AS BIGINT) * 2 // 5 AS budget FROM q),
        c AS (SELECT doc_id, n_tok, q9,
                SUM(n_tok) OVER (ORDER BY q9 DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM q)
        SELECT doc_id, n_tok, q9 FROM c
        WHERE cum <= (SELECT budget FROM b)""")),

    // ---- hashing-trick retrieval (Weinberger 2009) -----------------------
    //      model-free document embeddings: each term hashes to one of 64
    //      signed buckets (md5 bucket + independent md5 sign bit, the
    //      feature-hashing construction that keeps E[<x,y>] unbiased),
    //      weights are raw term frequencies, so every vector component —
    //      and every dot product — is an exact INTEGER. Retrieval
    //      against doc 1 is the sparse shape that scales: the corpus
    //      stays as (doc, bucket, w) postings, the 64-row query vector
    //      broadcasts, the dot product is one bucket-keyed join + one
    //      doc-keyed sum — no dense arrays, no all-pairs. Cosine is
    //      integer-dot over sqrt of integer norms, 1e9-quantized for the
    //      rank; top-10 is a TakeOrdered. This is the t23 BM25 plan with
    //      learned-free features — the cheapest possible dense-retrieval
    //      stand-in for pipelines that cannot run a model over 100 TB.
    Q("t40_hashed_retrieval",
      (s, d) => {
        val toks = Tables.documents(s, d).withColumn("toks", tokens("text"))
        val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val feat = tf
          .withColumn("bucket", expr(
            "CAST(conv(substring(md5(CAST(term AS BINARY)), 1, 15)," +
              " 16, 10) AS BIGINT) % 64"))
          .withColumn("sgn", expr(
            "CASE WHEN CAST(conv(substring(md5(CAST(concat(term, ':sign')" +
              " AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 2 = 0" +
              " THEN 1L ELSE -1L END"))
          .groupBy(col("doc_id"), col("bucket"))
          .agg(sum(col("sgn") * col("tf")).as("w"))
        val norms = feat.groupBy("doc_id")
          .agg(sum(col("w") * col("w")).as("n2"))
        val qv = feat.filter(col("doc_id") === 1L)
          .select(col("bucket"), col("w").as("qw"))
        val qn = norms.filter(col("doc_id") === 1L)
          .select(col("n2").as("qn2"))
        feat.join(broadcast(qv), "bucket")
          .groupBy("doc_id").agg(sum(col("w") * col("qw")).as("dot"))
          .filter(col("doc_id") =!= 1L)
          .join(norms, "doc_id")
          .crossJoin(broadcast(qn))
          .select(col("doc_id"), col("dot"),
            expr("CAST(FLOOR(dot / sqrt(CAST(n2 * qn2 AS DOUBLE))" +
              " * 1000000000D + 0.5D) AS BIGINT)").as("score_q9"))
          .orderBy(col("score_q9").desc, col("doc_id").asc)
          .limit(10)
      },
      Some("""
        WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text),
                     ' +')) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        ftb AS (SELECT doc_id,
                  CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT)
                    % 64 AS bucket,
                  CAST(SUM((CASE WHEN CAST(concat('0x',
                      substr(md5(term || ':sign'), 1, 15)) AS BIGINT)
                      % 2 = 0 THEN 1 ELSE -1 END) * tf) AS BIGINT) AS w
                FROM tf GROUP BY 1, 2),
        nm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
               FROM ftb GROUP BY 1),
        qv AS (SELECT bucket, w AS qw FROM ftb WHERE doc_id = 1),
        qn AS (SELECT n2 AS qn2 FROM nm WHERE doc_id = 1),
        dt AS (SELECT f.doc_id, CAST(SUM(f.w * qv.qw) AS BIGINT) AS dot
               FROM ftb f JOIN qv USING (bucket)
               WHERE f.doc_id <> 1 GROUP BY 1)
        SELECT d.doc_id, d.dot,
          CAST(FLOOR(d.dot / sqrt(CAST(n.n2 * (SELECT qn2 FROM qn)
            AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS score_q9
        FROM dt d JOIN nm n USING (doc_id)
        ORDER BY score_q9 DESC, doc_id ASC LIMIT 10""")),

    // ---- temperature-balanced sampling (Efraimidis–Spirakis 2006) -------
    //      the source-mixing sampler a pretraining pipeline runs last:
    //      sample docs WITHOUT replacement with per-doc weight
    //      1/sqrt(n_source), so a source's total share scales like
    //      sqrt(n) — temperature tau = 0.5 between proportional (tau=1)
    //      and uniform-over-sources (tau=0). One ES key per row
    //      (u^(1/w) order, computed as -ln(u)*sqrt(n) ascending —
    //      SelectOps.esSampleKeyQ), u drawn deterministically from the
    //      portable md5 of doc_id (the d20/t40 convention), k=500 via
    //      TakeOrdered. Exact weight-proportional WOR sampling in one
    //      scan + a broadcast of source counts — no per-source passes,
    //      no driver state; the one transcendental is 1e6-quantized so
    //      the oracle replays the key bit-for-bit.
    Q("t41_temperature_sample",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ns = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val u = expr("(CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING)" +
          " AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 999999999 + 1)" +
          " / 1000000000D")
        docs.join(broadcast(ns), "source")
          .withColumn("es_q6", graft.operators.SelectOps.esSampleKeyQ(
            u, sqrt(col("n").cast("double"))))
          .select(col("doc_id"), col("source"), col("es_q6"))
          .orderBy(col("es_q6").asc, col("doc_id").asc)
          .limit(500)
      },
      Some("""
        WITH ns AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        k AS (SELECT d.doc_id, d.source,
                CAST(FLOOR(-ln((CAST(concat('0x',
                    substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 999999999 + 1) / 1000000000.0)
                  * sqrt(CAST(ns.n AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS es_q6
              FROM documents d JOIN ns USING (source))
        SELECT doc_id, source, es_q6 FROM k
        ORDER BY es_q6 ASC, doc_id ASC LIMIT 500""")),

    // ---- PMI collocation mining (word2vec-phrases / NSP shape) ----------
    //      the phrase detector run before tokenizer training: bigrams
    //      whose corpus probability beats the independence prediction,
    //      PMI = ln(c_ab·N²/(M·c_a·c_b)) with min-support 5. All counts
    //      from two keyed aggregations (bigram-keyed, unigram-keyed);
    //      the ratio is evaluated in ONE double expression with
    //      identical operand order on both engines and the single ln is
    //      1e6-quantized (the t23/t24 discipline), so the top-20
    //      TakeOrdered replays exactly. Corpus totals ride a broadcast
    //      one-row frame — no driver round-trip, no second scan.
    Q("t42_pmi_collocations",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(tokens("text").as("toks"))
        val uni = toks.select(explode(col("toks")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val bi = toks.select(explode(wordNgrams("toks", 2)).as("g"))
          .groupBy(col("g")).agg(count(lit(1)).as("c_ab"))
        val totals = uni.agg(sum(col("c")).as("n_uni"))
          .crossJoin(broadcast(bi.agg(sum(col("c_ab")).as("m_bi"))))
        bi.filter(col("c_ab") >= 5)
          .withColumn("a", expr("split(g, ' ')[0]"))
          .withColumn("b", expr("split(g, ' ')[1]"))
          .join(uni.select(col("w").as("a"), col("c").as("c_a")), "a")
          .join(uni.select(col("w").as("b"), col("c").as("c_b")), "b")
          .crossJoin(broadcast(totals))
          .select(col("g").as("gram"), col("c_ab"),
            expr("""CAST(FLOOR(ln(CAST(c_ab AS DOUBLE) * n_uni * n_uni
              / (CAST(m_bi AS DOUBLE) * c_a * c_b)) * 1000000.0 + 0.5)
              AS BIGINT)""").as("pmi_q6"))
          .orderBy(col("pmi_q6").desc, col("gram").asc)
          .limit(20)
      },
      Some("""
        WITH t AS (SELECT string_split_regex(trim(text), ' +') AS toks
                   FROM documents),
        uni AS (SELECT w.w, COUNT(*) AS c
                FROM t, unnest(toks) w(w) GROUP BY 1),
        bi AS (SELECT g.gram, COUNT(*) AS c_ab FROM t,
                 unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i+1])) g(gram)
               GROUP BY 1),
        tot AS (SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_uni,
                  (SELECT CAST(SUM(c_ab) AS BIGINT) FROM bi) AS m_bi)
        SELECT b.gram, b.c_ab,
          CAST(FLOOR(ln(CAST(b.c_ab AS DOUBLE) * tot.n_uni * tot.n_uni
            / (CAST(tot.m_bi AS DOUBLE) * ua.c * ub.c)) * 1000000.0 + 0.5)
            AS BIGINT) AS pmi_q6
        FROM bi b
        JOIN uni ua ON ua.w = string_split(b.gram, ' ')[1]
        JOIN uni ub ON ub.w = string_split(b.gram, ' ')[2]
        CROSS JOIN tot
        WHERE b.c_ab >= 5
        ORDER BY pmi_q6 DESC, gram ASC LIMIT 20""")),

    // ---- vocabulary growth curve (Heaps' law) ---------------------------
    //      the tokenizer-sizing diagnostic: how vocabulary size grows as
    //      the corpus grows, V(n) ~ K·n^beta. Computed in ONE pass —
    //      naive per-prefix COUNT(DISTINCT) would rescan the corpus per
    //      point; instead each token's FIRST document (min doc_id, one
    //      keyed agg) turns every prefix point into a conditional count
    //      over the token table: V(cut) = tokens with first_doc < cut.
    //      Cuts at 1/10/50/100% of the doc_id range; the Heaps exponent
    //      between the 10% and 100% points is one quantized ln ratio.
    //      Scale shape: one explode + token-keyed agg (the t05 shuffle),
    //      then a 4-condition aggregate over the token table — adding
    //      prefix points costs a column, never a rescan. On the
    //      synthetic fixture the curve saturates immediately (31-token
    //      closed vocabulary: 30/31/31/31, beta_q6 = 0) — the honest
    //      reading for a template-generated corpus; a natural corpus
    //      shows beta ~ 0.4-0.6 and this operator is how you'd measure
    //      it without rescanning per prefix point.
    Q("t43_vocab_growth",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val firsts = docs
          .select(col("doc_id"), explode(tokens("text")).as("w"))
          .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
        val hi = docs.agg((max(col("doc_id")) + 1).as("hi"))
        def vocabAt(pct: Int) =
          sum(when(col("first_doc") < col("hi") * pct / 100, 1L)
            .otherwise(0L)).as(s"v$pct")
        firsts.crossJoin(broadcast(hi))
          .agg(vocabAt(1), vocabAt(10), vocabAt(50), vocabAt(100))
          .select(col("v1"), col("v10"), col("v50"), col("v100"),
            expr("""CAST(FLOOR(ln(CAST(v100 AS DOUBLE) / v10)
              / ln(10.0) * 1000000.0 + 0.5) AS BIGINT)""")
              .as("heaps_beta_q6"))
      },
      Some("""
        WITH f AS (SELECT w.w, MIN(doc_id) AS first_doc
                   FROM documents,
                     unnest(string_split_regex(trim(text), ' +')) w(w)
                   GROUP BY 1),
        hi AS (SELECT MAX(doc_id) + 1 AS hi FROM documents),
        v AS (SELECT
                CAST(SUM(CASE WHEN f.first_doc < hi.hi * 1 / 100
                  THEN 1 ELSE 0 END) AS BIGINT) AS v1,
                CAST(SUM(CASE WHEN f.first_doc < hi.hi * 10 / 100
                  THEN 1 ELSE 0 END) AS BIGINT) AS v10,
                CAST(SUM(CASE WHEN f.first_doc < hi.hi * 50 / 100
                  THEN 1 ELSE 0 END) AS BIGINT) AS v50,
                CAST(SUM(CASE WHEN f.first_doc < hi.hi * 100 / 100
                  THEN 1 ELSE 0 END) AS BIGINT) AS v100
              FROM f CROSS JOIN hi)
        SELECT v1, v10, v50, v100,
          CAST(FLOOR(ln(CAST(v100 AS DOUBLE) / v10) / ln(10.0)
            * 1000000.0 + 0.5) AS BIGINT) AS heaps_beta_q6
        FROM v""")),

    // ---- URL canonicalization + host-level dedup stats (RefinedWeb §3.2)
    //      the standard crawl-curation screen the text family lacked:
    //      normalize scheme/host case, www., default ports, utm_*
    //      params, fragments and trailing slashes — then per-host doc
    //      counts and exact-canonical-URL dedup. The fixture synthesizes
    //      each doc's crawl URL deterministically from doc_id with every
    //      noise class injected (mixed-case scheme+host, matching
    //      default ports, utm-only / utm-first / utm-last queries,
    //      fragments, trailing slashes), so the SAME logical page
    //      reached through different surface forms must collapse: the
    //      oracle replays the full regexp chain byte-for-byte (DuckDB
    //      regexp_replace needs the explicit 'g' flag where Spark is
    //      implicitly global — the one dialect seam, pinned here).
    //      Row-local regexps + ONE host-keyed rollup; at 100 TB the
    //      rollup shuffles one (host, url) pair per doc.
    Q("t44_url_canonical",
      (s, d) => {
        import graft.functions.TextFunctions.{canonicalUrl, urlHost}
        val id = col("doc_id")
        val raw = concat(
          when(id % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
          lit("WWW.Site"), (id % 7).cast("string"), lit(".Example.COM"),
          when(id % 5 === 0,
            when(id % 2 === 0, ":443").otherwise(":80")).otherwise(lit("")),
          lit("/Articles/item"), (id % 50).cast("string"),
          when(id % 3 === 0, "/").otherwise(lit("")),
          when(id % 4 === 0, "?utm_source=feed&ref=a")
            .when(id % 4 === 1, "?ref=a&utm_campaign=x")
            .when(id % 4 === 2, "?utm_only=1").otherwise(lit("")),
          when(id % 6 === 0, "#section2").otherwise(lit("")))
        Tables.documents(s, d)
          .select(col("doc_id"), canonicalUrl(raw).as("url"))
          .select(col("doc_id"), col("url"), urlHost(col("url")).as("host"))
          .groupBy(col("host"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("url")).as("n_urls"),
            (count(lit(1)) - countDistinct(col("url"))).as("n_url_dups"))
      },
      Some("""
        WITH raw AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
            || '://WWW.Site' || (doc_id % 7) || '.Example.COM'
            || (CASE WHEN doc_id % 5 = 0 THEN
                  CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
                ELSE '' END)
            || '/Articles/item' || (doc_id % 50)
            || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
            || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&ref=a'
                     WHEN doc_id % 4 = 1 THEN '?ref=a&utm_campaign=x'
                     WHEN doc_id % 4 = 2 THEN '?utm_only=1'
                     ELSE '' END)
            || (CASE WHEN doc_id % 6 = 0 THEN '#section2' ELSE '' END)
              AS u
          FROM documents),
        c1 AS (SELECT doc_id, regexp_replace(u, '#.*', '') AS u FROM raw),
        c2 AS (SELECT doc_id,
                 lower(regexp_extract(u, '^([^/]*//[^/?#]*)', 1))
                   || regexp_replace(u, '^[^/]*//[^/?#]*', '') AS u
               FROM c1),
        c3 AS (SELECT doc_id,
                 regexp_replace(u, '^(https?://)www\.', '\1') AS u
               FROM c2),
        c4 AS (SELECT doc_id,
                 regexp_replace(regexp_replace(u,
                   '^(http://[^/:?#]*):80([/?#].*)?$', '\1\2'),
                   '^(https://[^/:?#]*):443([/?#].*)?$', '\1\2') AS u
               FROM c3),
        c5 AS (SELECT doc_id,
                 regexp_replace(regexp_extract(u, '^([^?]*)', 1),
                   '/+$', '') AS base,
                 array_to_string(list_filter(
                   string_split(regexp_extract(u, '\?(.*)$', 1), '&'),
                   p -> NOT starts_with(p, 'utm_')), '&') AS nq
               FROM c4),
        c6 AS (SELECT doc_id,
                 base || CASE WHEN length(nq) > 0
                   THEN '?' || nq ELSE '' END AS url
               FROM c5)
        SELECT regexp_extract(url, '^[^/]*//([^/:?#]+)', 1) AS host,
          COUNT(*) AS n_docs,
          COUNT(DISTINCT url) AS n_urls,
          COUNT(*) - COUNT(DISTINCT url) AS n_url_dups
        FROM c6 GROUP BY 1""")),

    // ---- deterministic epoch shuffle / training-order assignment --------
    //      the step between curation and the training loader: a
    //      reproducible seeded pseudo-random permutation (restartable
    //      runs must rebuild the SAME order; every epoch reshuffles with
    //      a new seed) plus fixed-size shard ids for the writer. Sort
    //      key = md5(seed ':' doc_id) — portable across engines and
    //      uniform, so the rank assignment (globalRowIndex's
    //      range-partition + offsets, q33's machinery) is balanced by
    //      construction: no single-task global sort at any scale. The
    //      oracle replays the permutation with ROW_NUMBER over the same
    //      md5 — bit-identical order, positions, and shard ids.
    Q("t45_training_order",
      (s, d) => graft.operators.IndexOps.epochShuffle(
          Tables.documents(s, d).select(col("doc_id")),
          col("doc_id"), seed = 7L, shardSize = 100L)
        .select(col("doc_id"), col("shuffle_pos"), col("shard_id")),
      Some("""
        SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY md5('7:' || doc_id), doc_id) - 1
            AS shuffle_pos,
          CAST((ROW_NUMBER() OVER (ORDER BY md5('7:' || doc_id), doc_id)
            - 1) // 100 AS BIGINT) AS shard_id
        FROM documents""")),

    // ---- END-TO-END curation funnel --------------------------------------
    //      the composition proof: langid (t02's rule) → quality floor
    //      (t03's exact formula) → exact dedup (d01's md5/first-doc rule)
    //      → token-budget selection (t39's operator, 2/5 of the SURVIVING
    //      tokens) chained as one plan, reported as the per-stage
    //      doc/token funnel a curation run actually publishes. Every
    //      stage's rule is the SAME arithmetic its standalone gate
    //      proves bit-identical across engines, so the composed oracle
    //      replays the entire funnel value-for-value — the "a user could
    //      run their whole pipeline on this" check, not another operator
    //      in isolation. The budget is re-derived from the DEDUPED
    //      survivors (one driver-side scalar, t39's discipline).
    Q("t46_curation_funnel",
      (s, d) => {
        val quality =
          least(col("n_chars").cast("double") / 500.0, lit(1.0)) * 0.4 +
            (wordlistCount("toks", EnglishStopwords).cast("double") /
              tokenCount("toks")) * 0.2 +
            (distinctTokenCount("toks").cast("double") /
              tokenCount("toks")) * 0.4
        // cache lifecycle: CALLER-owned — clearCache()/unpersist after the
        // action (DedupOps class doc); all five stage aggregates + the
        // budget-selection passes re-read this frame
        val base = Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("doc_id"), col("text"),
            tokenCount("toks").cast("long").as("n_tok"),
            wordlistCount("toks", EnglishStopwords).as("en_score"),
            quality.as("q"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val lang = base.filter(col("en_score") > 0)
        val qual = lang.filter(col("q") >= 0.5)
        // exact-unique survivors as a NARROW aggregate instead of the
        // row_number()=1 window (r19, guide §2.3 "shuffle keys, not
        // payloads"): the window dragged every qual row — text included —
        // through its md5-keyed exchange + sort, and uniq is consumed
        // three times here (scored, budget scalar, stage 4), so the
        // payload exchange replayed per consumer. min(doc_id) per md5 is
        // EXACTLY the rk=1 survivor rule (orderBy doc_id, doc_id unique),
        // shuffles 40-byte (md5, doc_id) rows with map-side partial
        // aggregation, and the survivor-id set joins back to the cached
        // base row-locally (broadcast semi join at bench SF; at cluster
        // scale a doc_id hash join — still no sort). Persisted because
        // uniq itself stays lazy: each of its three consumers replays
        // only the cheap semi join against base's cache.
        val survivors = qual
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
          // cache lifecycle: CALLER-owned (same contract as above)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val uniq = qual.join(survivors, Seq("doc_id"), "left_semi")
        val scored = uniq.select(col("doc_id"), col("n_tok"),
          floor(col("q") * lit(1000000000.0)).cast("long").as("q9"))
          // cache lifecycle: CALLER-owned (same contract as above)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val total = uniq.agg(coalesce(sum(col("n_tok")), lit(0L)))
          .collect()(0).getLong(0)
        val sel = graft.operators.SelectOps
          .tokenBudgetSelect(scored, budget = total * 2 / 5)
        def stage(name: String, df: DataFrame) =
          df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
            .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
        stage("1_raw", base)
          .unionByName(stage("2_lang_en", lang))
          .unionByName(stage("3_quality", qual))
          .unionByName(stage("4_exact_unique", uniq))
          .unionByName(stage("5_token_budget", sel))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, n_chars, text,
                     string_split_regex(trim(text), ' +') toks
                   FROM documents),
        base AS (SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tok,
                   len(list_filter(toks, x -> x IN ($stopSql))) AS en_score,
                   LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
                     + CAST(len(list_filter(toks, x -> x IN ($stopSql)))
                         AS DOUBLE) / len(toks) * 0.2
                     + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                         * 0.4 AS q
                 FROM t),
        lang AS (SELECT * FROM base WHERE en_score > 0),
        qual AS (SELECT * FROM lang WHERE q >= 0.5),
        uniq AS (SELECT * FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                     ORDER BY doc_id) AS rk FROM qual)
                 WHERE rk = 1),
        b AS (SELECT COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) * 2 // 5
                AS budget FROM uniq),
        sc AS (SELECT doc_id, n_tok,
                 CAST(FLOOR(q * 1000000000.0) AS BIGINT) AS q9 FROM uniq),
        c AS (SELECT doc_id, n_tok,
                SUM(n_tok) OVER (ORDER BY q9 DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM sc),
        sel AS (SELECT doc_id, n_tok FROM c
                WHERE cum <= (SELECT budget FROM b))
        SELECT '1_raw' AS stage, COUNT(*) AS n_docs,
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) AS n_tokens FROM base
        UNION ALL
        SELECT '2_lang_en', COUNT(*),
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM lang
        UNION ALL
        SELECT '3_quality', COUNT(*),
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM qual
        UNION ALL
        SELECT '4_exact_unique', COUNT(*),
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM uniq
        UNION ALL
        SELECT '5_token_budget', COUNT(*),
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM sel""")),

    // ---- k-anonymity suppression screen ----------------------------------
    //      the release-time privacy check on quasi-identifiers: any
    //      (lang, source) combination carried by fewer than k documents
    //      re-identifies its members, so those cells are SUPPRESSED to
    //      '*' before the per-cell stats ship. One keyed rollup builds
    //      the group-size table (|lang| × |source| rows — metadata,
    //      broadcast back); every surviving output cell holds >= k docs
    //      by construction, with the '*' bucket absorbing the tail. The
    //      same shape generalizes to hierarchy-walking generalization
    //      (city → region → '*'): re-run the rollup per level.
    Q("t47_k_anonymity",
      (s, d) => {
        val k = 5L
        val docs = Tables.documents(s, d)
        val groups = docs.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n"))
        // NULL-SAFE join back (<=>): a privacy screen must account for
        // every row — plain equality would silently DROP docs whose QI
        // is NULL (groupBy groups nulls, the join back then rejects
        // them), so released totals would no longer sum to the corpus;
        // a NULL QI group below k suppresses to '*' like any other
        docs.as("d").join(broadcast(groups).as("g"),
            col("d.lang") <=> col("g.lang") &&
              col("d.source") <=> col("g.source"))
          .select(
            when(col("g.n") >= k, col("d.lang")).otherwise(lit("*"))
              .as("lang_out"),
            when(col("g.n") >= k, col("d.source")).otherwise(lit("*"))
              .as("source_out"))
          .groupBy(col("lang_out"), col("source_out"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some("""
        WITH g AS (SELECT lang, source, COUNT(*) AS n
                   FROM documents GROUP BY 1, 2)
        SELECT CASE WHEN g.n >= 5 THEN d.lang ELSE '*' END AS lang_out,
          CASE WHEN g.n >= 5 THEN d.source ELSE '*' END AS source_out,
          COUNT(*) AS n_docs
        FROM documents d JOIN g
          ON d.lang IS NOT DISTINCT FROM g.lang
            AND d.source IS NOT DISTINCT FROM g.source
        GROUP BY 1, 2""")),

    // ---- curation funnel WITH the near-dedup stage -----------------------
    //      t46 plus the stage real pipelines run between exact dedup and
    //      the token budget (RefinedWeb §3.4, C4): MinHash+LSH candidate
    //      generation over the exact-unique survivors, candidates
    //      EXACT-verified at Jaccard >= 0.6 (d03's operator — recall
    //      comes from 64 bands x 2 rows, precision from the verify), then
    //      a deterministic lowest-id-wins survivor rule: a doc drops iff
    //      it is doc_b of any verified pair (pairs are emitted doc_a <
    //      doc_b). The oracle replays candidates→verify→survivors with
    //      the exact all-pairs join — viable at oracle scale only, which
    //      is the point: the engine runs the LSH plan, the oracle proves
    //      its OUTPUT equals exhaustive comparison. Budget re-derives
    //      from the near-unique survivors, so every downstream count
    //      shifts — the whole-funnel composition, not a bolt-on.
    Q("t48_curation_near_funnel",
      (s, d) => {
        val quality =
          least(col("n_chars").cast("double") / 500.0, lit(1.0)) * 0.4 +
            (wordlistCount("toks", EnglishStopwords).cast("double") /
              tokenCount("toks")) * 0.2 +
            (distinctTokenCount("toks").cast("double") /
              tokenCount("toks")) * 0.4
        // cache lifecycle: CALLER-owned — clearCache()/unpersist after the
        // action (DedupOps class doc); five stage aggregates, the LSH
        // shingle pass, and the budget selection all re-read this frame.
        // toks is RETAINED in the cache (r19): the LSH postings build
        // below reads it instead of re-tokenizing the survivor texts —
        // the corpus is tokenized exactly once per run, at the cost of
        // caching the token arrays alongside the text.
        val base = Tables.documents(s, d)
          .withColumn("toks", tokens("text"))
          .select(col("doc_id"), col("text"), col("toks"),
            tokenCount("toks").cast("long").as("n_tok"),
            wordlistCount("toks", EnglishStopwords).as("en_score"),
            quality.as("q"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val lang = base.filter(col("en_score") > 0)
        val qual = lang.filter(col("q") >= 0.5)
        // exact-unique survivors as a NARROW min-aggregate instead of the
        // row_number()=1 window — identical survivor set, 40-byte
        // (md5, doc_id) shuffle instead of dragging text + toks through
        // the window's exchange + sort (see t46 for the full argument;
        // here the payload is FATTER because toks rides the cache, which
        // is exactly why it must not ride the exchange)
        val survivors = qual
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        val uniq = qual.join(survivors, Seq("doc_id"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // near-dedup over the exact-unique survivors: LSH candidates,
        // exact-verified pairs, lowest-id survivor. The postings frame is
        // built from the ALREADY-tokenized cache (shinglePostingsFromToks)
        // and shared between the signature aggregate and the exact
        // verifier — the r18-deferred cross-operator sharing, now one
        // tokenize + one shingle pass end to end.
        val posts = graft.operators.DedupOps.shinglePostingsFromToks(
          uniq.select(col("doc_id"), col("toks")), n = 3)
          // doc_id-partitioned: the minHashNearDups cache layout (r19) —
          // the 128-min signature aggregation and both verifier joins
          // key by doc_id, so the layout removes the signature agg's
          // exchange and its per-map-partition partial duplication
          .repartition(col("doc_id"))
          // cache lifecycle: CALLER-owned (same contract as above)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pairs = graft.operators.DedupOps.verifyJaccardOnPosts(
          graft.operators.DedupOps.minHashCandidates(
            graft.operators.DedupOps.minHashSignaturesFromPosts(posts, k = 128),
            bands = 64, rowsPerBand = 2),
          posts.select("doc_id", "gram_id"), minJaccard = 0.6)
        // cache lifecycle: CALLER-owned (same contract as above) — the
        // removed-id set is tiny but its LINEAGE is the whole LSH +
        // verify pipeline, and `near` is consumed three times (stage
        // aggregate, budget scalar, scored); unpersisted, each use
        // replays candidate generation end to end (measured 10.4 s ->
        // 5.5 s at sf0.1 — the residual is the honest one-pass cost of
        // LSH + verify over the survivors on top of the t46 funnel)
        val removed = pairs.select(col("doc_b").as("doc_id")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val near = uniq.join(removed, Seq("doc_id"), "left_anti")
        val scored = near.select(col("doc_id"), col("n_tok"),
          floor(col("q") * lit(1000000000.0)).cast("long").as("q9"))
          // cache lifecycle: CALLER-owned (same contract as above)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val total = near.agg(coalesce(sum(col("n_tok")), lit(0L)))
          .collect()(0).getLong(0)
        val sel = graft.operators.SelectOps
          .tokenBudgetSelect(scored, budget = total * 2 / 5)
        def stage(name: String, df: DataFrame) =
          df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
            .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
        stage("1_raw", base)
          .unionByName(stage("2_lang_en", lang))
          .unionByName(stage("3_quality", qual))
          .unionByName(stage("4_exact_unique", uniq))
          .unionByName(stage("5_near_unique", near))
          .unionByName(stage("6_token_budget", sel))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, n_chars, text,
                     string_split_regex(trim(text), ' +') toks
                   FROM documents),
        base AS (SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tok,
                   len(list_filter(toks, x -> x IN ($stopSql))) AS en_score,
                   LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
                     + CAST(len(list_filter(toks, x -> x IN ($stopSql)))
                         AS DOUBLE) / len(toks) * 0.2
                     + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                         * 0.4 AS q
                 FROM t),
        lang AS (SELECT * FROM base WHERE en_score > 0),
        qual AS (SELECT * FROM lang WHERE q >= 0.5),
        uniq AS (SELECT * FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                     ORDER BY doc_id) AS rk FROM qual)
                 WHERE rk = 1),
        gr AS (SELECT u.doc_id,
                 list_distinct(list_transform(range(1, len(t.toks) - 1),
                   i -> t.toks[i] || ' ' || t.toks[i+1] || ' '
                     || t.toks[i+2])) grams
               FROM uniq u JOIN t ON u.doc_id = t.doc_id
               WHERE len(t.toks) >= 3),
        rem AS (SELECT DISTINCT b.doc_id
                FROM gr a JOIN gr b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / (len(a.grams) + len(b.grams)
                     - len(list_intersect(a.grams, b.grams))) >= 0.6),
        near AS (SELECT * FROM uniq
                 WHERE doc_id NOT IN (SELECT doc_id FROM rem)),
        b AS (SELECT COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) * 2 // 5
                AS budget FROM near),
        sc AS (SELECT doc_id, n_tok,
                 CAST(FLOOR(q * 1000000000.0) AS BIGINT) AS q9 FROM near),
        c AS (SELECT doc_id, n_tok,
                SUM(n_tok) OVER (ORDER BY q9 DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM sc),
        sel AS (SELECT doc_id, n_tok FROM c
                WHERE cum <= (SELECT budget FROM b))
        SELECT '1_raw' AS stage, COUNT(*) AS n_docs,
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) AS n_tokens FROM base
        UNION ALL
        SELECT '2_lang_en', COUNT(*),
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM lang
        UNION ALL
        SELECT '3_quality', COUNT(*),
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM qual
        UNION ALL
        SELECT '4_exact_unique', COUNT(*),
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM uniq
        UNION ALL
        SELECT '5_near_unique', COUNT(*),
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM near
        UNION ALL
        SELECT '6_token_budget', COUNT(*),
          COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM sel""")),

    // ---- Unicode NFC normalization (round 16) -----------------------------
    //      the hygiene stage that belongs BEFORE every dedup/fingerprint
    //      pass: composed vs decomposed spellings ("é" vs "e"+U+0301)
    //      hash apart, so an unnormalized corpus under-deduplicates on
    //      exactly the non-ASCII documents. The engine's `nfc_normalize`
    //      is a native codegen'd expression (no UDF) named to mirror
    //      DuckDB's builtin, so this gate runs the SAME SQL text
    //      verbatim on both engines — the parser-ASOF dialect-parity
    //      discipline applied to a scalar function. The suffix plants a
    //      decomposed accent (e + U+0301) and the angstrom-sign
    //      singleton (U+212B -> U+00C5) on every row, so normalization
    //      provably fires: raw_len - norm_len = 1 everywhere and the
    //      angstrom composition is hash-checked through norm_text.
    Q("t49_nfc_normalize",
      (s, d) => {
        Tables.documents(s, d).createOrReplaceTempView("documents")
        s.sql(nfcSharedSql)
      },
      Some(nfcSharedSql)),

    // ---- unigram-LM tokenizer training (round 17) -------------------------
    //      the SentencePiece-shaped alternative to BPE (Kudo 2018):
    //      seed a substring candidate pool, then 3 EM rounds of
    //      Viterbi-segment (row-local DP in codegen'd HOFs — no UDF) ->
    //      usage re-count (one keyed shuffle) -> 3/4-shrink prune with
    //      a never-pruned single-char floor. Integer surrogate
    //      objective (min pieces, usage-count tie-break) so the DuckDB
    //      oracle replays the WHOLE chain value-for-value: per round a
    //      recursive dp CTE (one level per char position, same
    //      LEAST/CASE arithmetic), a recursive backtrack, the count
    //      aggregate, and the prune — t22's replay discipline applied
    //      to an EM loop instead of a merge chain. See UnigramOps for
    //      the 100 TB shape (vocab-not-corpus, KB-sized model
    //      broadcasts, zero joins in the E-step).
    Q("t50_unigram_lm_vocab",
      (s, d) => graft.operators.UnigramOps.train(
        Tables.documents(s, d), rounds = 3),
      Some(graft.operators.UnigramOps.oracleSql(3))),

    // ---- unigram-LM corpus ENCODE (t25's apply half for t50) --------------
    //      train the 3-round unigram vocab (KB-sized driver model),
    //      then Viterbi-segment the whole corpus with it and count the
    //      merged units (length >= 2, the t25 reporting contract). The
    //      oracle replays the training chain verbatim plus one more
    //      dp/backtrack/count stage — train and encode must agree
    //      end-to-end, the same two-gate discipline as t22/t25.
    Q("t51_unigram_encode",
      (s, d) => graft.operators.UnigramOps.encodeCounts(
        Tables.documents(s, d), rounds = 3),
      Some(graft.operators.UnigramOps.encodeOracleSql(3))),

    // ---- tokenizer fertility per language (t50's evaluation) --------------
    //      the two numbers a tokenizer selection reads per language:
    //      fertility (tokens per word) and chars per token, under the
    //      t50-trained unigram model. Pieces-per-word comes from ONE
    //      shuffle-free segmentation map over the distinct-word frame
    //      (the model is a broadcast map literal); the per-language
    //      rollup weights by (lang, word) corpus frequency. The DOUBLE
    //      ratios are single divisions of identical bigint sums on
    //      both engines — IEEE-exact, the t01 discipline. Oracle
    //      replays training + one segmentation stage + the rollup.
    Q("t52_tokenizer_fertility",
      (s, d) => {
        val ops = graft.operators.UnigramOps
        val docs = Tables.documents(s, d)
        val w = ops.words(docs).localCheckpoint()
        val vocab = ops.trainOn(w, rounds = 3, seedMulti = 64).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        val wl = docs.select(col("lang"),
            explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
          .filter(length(col("word")).between(1, ops.MaxWordLen))
          .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
        wl.join(ops.segmentationLengths(w, vocab), Seq("word"))
          .groupBy("lang")
          .agg(sum(col("freq")).as("n_words"),
            sum(col("freq") * col("n_pieces")).as("n_tokens"),
            sum(col("freq") * length(col("word"))).as("n_chars"))
          .select(col("lang"), col("n_words"), col("n_tokens"),
            col("n_chars"),
            (col("n_tokens").cast("double") / col("n_words").cast("double"))
              .as("fertility"),
            (col("n_chars").cast("double") / col("n_tokens").cast("double"))
              .as("chars_per_token"))
      },
      Some(graft.operators.UnigramOps.fertilityOracleSql(3))),

    // ---- DEEP unigram training (round 18: the production shape) -----------
    //      maxPieceLen=8 with the PER-LENGTH seed pool: a realistic
    //      subword inventory carries pieces well past 4 chars, and a
    //      single global top-N seed lets the shortest (most frequent)
    //      substrings crowd out every longer candidate — the per-length
    //      pool keeps each length represented while the driver-side
    //      seed stays bounded at perLen*(maxPieceLen-1) entries at ANY
    //      corpus scale (physically: one materialized substring count,
    //      then one TakeOrdered per length — no global sort, no
    //      single-partition window). Oracle replays the same chain with
    //      a row_number-per-length v0. t50 keeps the small-cap config;
    //      UnigramOpsSpec pins that the parameterized trainer at
    //      (maxPieceLen=4, global seed) reproduces t50's chain exactly.
    // ---- subword-regularization SAMPLING (round 18, Kudo 2018 §3) ---------
    //      the unigram model's actual deliverable beyond Viterbi:
    //      sample a segmentation per epoch instead of always taking
    //      the argmax. Per position, candidates within `slack` of the
    //      Viterbi minimum (slack=Big admits up to one extra piece)
    //      are drawn weighted by usage+1 under a deterministic
    //      md5(word:pos:salt) uniform — the d18/t41 portable-hash
    //      discipline — so the DuckDB oracle replays every draw
    //      bit-for-bit, and a different salt per epoch yields a
    //      different (still valid) segmentation. Reported like t51:
    //      merged units, length >= 2. UnigramSampleSpec pins coverage
    //      conservation, slack=0 == Viterbi on tie-free vocabs, and
    //      salt sensitivity.
    Q("t53_unigram_sample",
      (s, d) => graft.operators.UnigramOps.sampledEncodeCounts(
        Tables.documents(s, d), rounds = 2,
        slack = graft.operators.UnigramOps.Big, salt = "ep1"),
      Some(graft.operators.UnigramOps.sampleOracleSql(2,
        slack = graft.operators.UnigramOps.Big, salt = "ep1"))),

    Q("t54_unigram_deep",
      (s, d) => graft.operators.UnigramOps.train(
        Tables.documents(s, d), rounds = 2, maxPieceLen = 8,
        seedPerLen = 16),
      Some(graft.operators.UnigramOps.oracleSql(2, table = "documents",
        maxPieceLen = 8, seedPerLen = 16)))
  )

  /** decomposed e-acute + ANGSTROM SIGN — both NFC-compose; embedded as
    * raw characters (not chr()) because Spark's chr() is mod-256 ASCII
    * while DuckDB's is a codepoint constructor */
  private val nfcSuffix = " é Å"
  private lazy val nfcSharedSql = s"""
    SELECT doc_id,
      nfc_normalize(text || '$nfcSuffix') AS norm_text,
      CAST(length(text || '$nfcSuffix') AS BIGINT) AS raw_len,
      CAST(length(nfc_normalize(text || '$nfcSuffix')) AS BIGINT)
        AS norm_len
    FROM documents"""
}
