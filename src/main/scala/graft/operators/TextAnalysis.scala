package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data curation: token counting, quality
 * scoring, language identification, vocabulary building. Everything is
 * pure column arithmetic (whole-stage codegen; no UDFs), so the operators
 * cost one streaming pass over the corpus with full predicate/column
 * pushdown upstream.
 */
object TextAnalysis {

  /** Lowercase whitespace tokens via the linear-pass kernel: word
    * 1-grams ARE the tokens, so `word_ngrams(text, 1)` is value-identical
    * to `filter(split(lower(text), "\\s+"), len > 0)` (parity-pinned in
    * DedupSimilaritySpec) — and stays in whole-stage codegen where the
    * HOF chain is interpreted CodegenFallback per row. */
  private[graft] def tokensK(text: Column): Column =
    graft.functions.GraftFunctions.word_ngrams(text, 1)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokensK(text))

  /**
   * Quality features (length / punctuation / stopword ratios) — the usual
   * fasttext-style cheap filters. Returns a struct column.
   */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  def qualityFeatures(text: Column): Column = {
    val toks = Dedup.tokens(text)
    val nTok = size(toks)
    val nChars = length(text)
    val punct = nChars - length(regexp_replace(text, "[\\p{Punct}]", ""))
    val stopCount = size(filter(toks, t => t.isInCollection(stopwords)))
    val meanWordLen = when(nTok > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
      .otherwise(lit(0.0))
    struct(
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      round(punct.cast("double") / greatest(nChars, lit(1)), 6).as("punct_ratio"),
      round(stopCount.cast("double") / greatest(nTok, lit(1)), 6).as("stopword_ratio"),
      round(meanWordLen, 6).as("mean_word_len"))
  }

  /**
   * Marker-token language-ID heuristic (n-gram/stopword counting): scores
   * each candidate language by marker hits, argmax wins, "und" when no
   * marker hits. Deterministic and SQL-expressible (mirrors the DuckDB
   * oracle in SparkEntry).
   */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "es" -> Seq("el", "la", "de", "es"),
    "fr" -> Seq("le", "la", "et", "est"))

  def langId(text: Column): Column = {
    val toks = Dedup.tokens(text)
    val scores = markers.map { case (lang, ms) =>
      (lang, size(filter(toks, t => t.isInCollection(ms))))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(lit("und")) { case (acc, (lang, score)) =>
      // first language (in marker order) achieving the max wins
      when(acc === "und" && score > 0 && score === best, lit(lang)).otherwise(acc)
    }
  }

  /**
   * Vocabulary build: term frequency + document frequency per whitespace
   * token, cut at a minimum document frequency (the tokenizer-training /
   * feature-hashing precursor table).
   *
   * Scale: explode → aggregate keyed by token. Partial (map-side)
   * aggregation collapses hot tokens ("the") to one row per map task
   * before the shuffle, so the exchange carries at most
   * |vocab| × partitions rows regardless of corpus size; the df side is
   * Spark's standard two-phase distinct-aggregate expansion on the same
   * key. No driver-side state — the vocab itself stays distributed.
   */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      minDf: Long = 2L): DataFrame =
    df.select(col(idCol).as("_doc"), explode(tokensK(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("_doc")).as("df"))
      .filter(col("df") >= minDf)

  /**
   * Adjacent-token n-gram counts (the language-model / contamination-check
   * table). Grams are built per row inside codegen (no positional
   * self-join — the classic RDD formulation shuffles the corpus once per
   * gram position; this shuffles only the aggregated gram counts).
   */
  def ngramCounts(df: DataFrame, textCol: String, n: Int = 2,
      minCount: Long = 2L): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    // one linear kernel pass per document: the element_at-per-position
    // column formulation re-tokenizes the document at every gram site
    // after CollapseProject inlining (O(len^2) per row — 9.5 s at sf0.1;
    // the kernel reads 0.4 s)
    df.select(explode(
        graft.functions.GraftFunctions.word_ngrams(col(textCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /**
   * Inverted index: term → document frequency + sorted posting list (the
   * search layer over a corpus store). `maxDf` cuts stopword terms whose
   * posting lists would otherwise grow with the corpus (the classic
   * head-cut; at 10^10 docs an uncut stopword posting is the corpus
   * itself). One exchange keyed by (doc, term) for the per-doc distinct,
   * then the posting aggregation — both map-side combined.
   */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      minDf: Long = 1L, maxDf: Long = Long.MaxValue): DataFrame =
    df.select(col(idCol).as("_doc"), explode(tokensK(col(textCol))).as("term"))
      .distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("_doc"))).as("postings"))
      .filter(col("df") >= minDf && col("df") <= maxDf)

  /**
   * PMI collocations: pointwise mutual information of adjacent word
   * pairs, ln((c_xy/N_bi) / ((c_x/N_uni)·(c_y/N_uni))) — the
   * phrase-mining signal (high PMI = words that co-occur far above
   * chance). All counts aggregate as longs; the PMI itself is computed
   * as ONE double expression with fixed left-associative order on both
   * the Spark and oracle sides, rounded to 6 dp, so the float paths are
   * bit-identical. Totals ride as broadcast 1-row tables.
   */
  def pmiCollocations(df: DataFrame, textCol: String,
      minCount: Long = 5L): DataFrame = {
    val uni = df.select(explode(tokensK(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .localCheckpoint() // feeds the total AND two join probes
    val nUni = uni.agg(sum("cw").as("n_uni"))
    val bi = df.select(explode(
        graft.functions.GraftFunctions.word_ngrams(col(textCol), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cxy"))
      .localCheckpoint() // total must see PRE-filter counts
    val nBi = bi.agg(sum("cxy").as("n_bi"))
    bi.filter(col("cxy") >= minCount)
      .withColumn("_x", substring_index(col("bigram"), " ", 1))
      .withColumn("_y", substring_index(col("bigram"), " ", -1))
      .join(uni.select(col("w").as("_x"), col("cw").as("cx")), Seq("_x"))
      .join(uni.select(col("w").as("_y"), col("cw").as("cy")), Seq("_y"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("bigram"), col("cxy"),
        round(log(
          col("cxy").cast("double") * col("n_uni").cast("double") *
            col("n_uni").cast("double") /
            (col("n_bi").cast("double") * col("cx").cast("double") *
              col("cy").cast("double"))), 6).as("pmi"))
  }

  /**
   * Corpus-LM document scoring: score(doc) = mean over the doc's adjacent
   * bigrams of ln(corpus_count(bigram) / total_bigrams) — the "how typical
   * of this corpus is this document" signal (the cheap stand-in for a
   * neural-LM perplexity gate; unusual word sequences ⇒ strongly negative
   * scores). Docs with < 2 tokens produce no bigrams and are absent from
   * the output, mirroring the SQL formulation.
   *
   * Scale shape: bigram STRINGS never shuffle — each doc's grams collapse
   * to 8-byte xxhash64 keys right after the kernel pass, the count table
   * is built map-side-combined on those keys, and the score join carries
   * (id, gram_hash) only. The total-bigram scalar rides as a broadcast
   * 1-row table, not a driver collect.
   */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = df.select(col(idCol),
        explode(graft.functions.GraftFunctions.word_ngrams(col(textCol), 2)).as("g"))
      .select(col(idCol), xxhash64(col("g")).as("gh"))
      .localCheckpoint() // grams feed BOTH the total and the scored pass
    // corpus gram count per gh as a COUNT WINDOW over the staged gram
    // table (one gh-keyed exchange; the former groupBy + equi-join
    // re-shuffled the full gram table twice — the q63 treatment), and the
    // total is |grams| directly (Σ_gh count(gh) == row count)
    val total = grams.agg(count(lit(1)).as("total"))
    grams.withColumn("c", count(lit(1)).over(Window.partitionBy("gh")))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(avg(log(col("c").cast("double") / col("total"))), 6).as("lm_score"))
  }

  /**
   * The composed quality FILTER a training-data pipeline actually runs:
   * keep documents inside the token-count / punctuation / word-shape
   * envelope (fasttext-style cheap gates). One streaming pass — the
   * feature struct never materializes outside the filter, and upstream
   * column pruning still reaches the scan.
   */
  def qualityFilter(
      df: DataFrame, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 100000,
      maxPunctRatio: Double = 0.3, minStopwordRatio: Double = 0.02,
      minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 5.0): DataFrame =
    // one-pass codegen'd gate kernel: the struct-field formulation (the
    // parity reference in src/test, ColumnReferences) decomposes under
    // SimplifyExtractValueOps into TEN independent tokenizations per row
    // inside an interpreted CodegenFallback filter — measured 3.0 s -> one
    // linear pass at sf0.1 (q54); value parity pinned in
    // DedupSimilaritySpec's kernel-vs-column test
    df.filter(graft.functions.GraftFunctions.quality_gate(col(textCol),
      minTokens, maxTokens, maxPunctRatio, minStopwordRatio,
      minMeanWordLen, maxMeanWordLen))

  /**
   * TF-IDF top terms per document — the keyword-extraction / feature table
   * of a curation pipeline. The score is EXACT integer arithmetic,
   * `(tf * 1_000_000) div df` (monotone in tf/df), so the ranking is
   * reproducible bit-for-bit across engines — no `ln()` float whose last
   * ulp differs between libm implementations.
   *
   * Scale: one tokenize+explode pass feeds the (doc, term) tf aggregate
   * (map-side partial combine bounds hot terms per task); the df table is
   * derived FROM the staged tf table (the corpus is not re-tokenized) and
   * is |vocab|-sized, so its join back is broadcastable in practice; the
   * final top-k is a per-doc window over k·|docs| candidate rows. The tf
   * stage is pinned with localCheckpoint so the two consumers (df-count
   * and score join) share one computation instead of re-running the
   * corpus scan.
   */
  /**
   * Gopher-style repetition features per document: the duplicate-token
   * fraction, the most-frequent-token share, and the duplicate-bigram
   * fraction — the cheap detectors for degenerate/boilerplate text
   * (Rae et al. 2021 §A.1.1 run these at line/paragraph/n-gram grain;
   * the corpus here is single-line, so the token/bigram grain applies).
   *
   * Scale: all five stats are per-document, so the kernel computes them
   * in one linear pass WITHIN the row (hash map over the row's tokens) —
   * zero exchanges at any corpus size; nothing is quadratic in document
   * length (the naive per-row HOF mode computation is O(len·distinct)
   * per row — fine at 100 tokens, wrong at 100 k-token documents).
   */
  def repetitionFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Every stat is per-document, so nothing here needs an exchange: the
    // one-pass repetition_stats kernel computes [n_tokens, n_distinct,
    // top_c, n_bigrams, n_distinct_bi] within the row (byte-domain token
    // equality, identical to the exploded groupBy it replaces — parity
    // spec in SpanDedupPiiSpec against the old four-exchange shape in
    // src/test, ColumnReferences). The explode(array(..)) generate is
    // the single-evaluation barrier: extracting five fields from a bare
    // projection would let CollapseProject inline the kernel per field
    // (the qualityFilter lesson), while a filter referencing the generate
    // OUTPUT cannot be pushed back under it (the q39 lesson). Zero-token
    // documents drop exactly like the old explode did.
    val stats = df.select(col(idCol).as("doc_id"),
      explode(array(graft.functions.GraftFunctions.repetition_stats(col(textCol)))).as("_s"))
      .filter(col("_s").getItem(0) > 0L)
    stats.select(col("doc_id"),
      col("_s").getItem(0).as("n_tokens"),
      round((col("_s").getItem(0) - col("_s").getItem(1)).cast("double") /
        greatest(col("_s").getItem(0), lit(1L)), 6).as("dup_token_frac"),
      round(col("_s").getItem(2).cast("double") /
        greatest(col("_s").getItem(0), lit(1L)), 6).as("top_token_frac"),
      round((col("_s").getItem(3) - col("_s").getItem(4)).cast("double") /
        greatest(col("_s").getItem(3), lit(1L)), 6).as("dup_bigram_frac"))
  }

  /**
   * Keep documents under the repetition thresholds (the Gopher filter
   * composed over [[repetitionFeatures]]): the id-only projection joins
   * back as a semi-join, so the corpus text crosses no exchange.
   */
  def repetitionFilter(df: DataFrame, idCol: String, textCol: String,
      maxDupTokenFrac: Double = 0.6, maxTopTokenFrac: Double = 0.3,
      maxDupBigramFrac: Double = 0.6): DataFrame = {
    val keep = repetitionFeatures(df, idCol, textCol)
      .filter(col("dup_token_frac") <= maxDupTokenFrac &&
        col("top_token_frac") <= maxTopTokenFrac &&
        col("dup_bigram_frac") <= maxDupBigramFrac)
      .select(col("doc_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\b\\d{2,3}-\\d{3,4}-\\d{4}\\b"

  /**
   * PII scrubbing: redact email addresses and phone-shaped numbers,
   * reporting per-document hit counts. Both patterns are deliberately in
   * the RE2-compatible subset (no backrefs/lookaround), so the exact same
   * regex strings run in Spark's codegen'd `regexp_replace`/`regexp_count`
   * AND in the DuckDB oracle — one source of truth, engine-checked parity.
   * Pure per-row column work: no shuffle, survives any scale the scan does.
   */
  def piiScrub(text: Column): Column = {
    val noEmail = regexp_replace(text, emailRe, "<EMAIL>")
    struct(
      regexp_replace(noEmail, phoneRe, "<PHONE>").as("clean_text"),
      regexp_count(text, lit(emailRe)).as("n_emails"),
      regexp_count(noEmail, lit(phoneRe)).as("n_phones"))
  }

  /**
   * BM25 ranked retrieval for a fixed query-term set over the corpus — the
   * search-serving layer composed on the same tokenize-once statistics as
   * [[invertedIndex]] / [[tfidfTopTerms]] (Robertson & Spärck Jones BM25,
   * k1/b in the standard Okapi form).
   *
   * Float discipline (engine parity): every per-term score is ONE double
   * expression with fixed left-associative order, the idf uses the
   * ln(1 + (N - df + .5)/(df + .5)) form, and the per-document total adds
   * the per-term scores in ascending-term order via explicit conditional
   * aggregates — no `sum()` over doubles whose accumulation order the
   * engine may permute — so a SQL oracle replays the score bit-for-bit.
   *
   * Scale: the corpus is tokenized once; rows explode ONLY for query
   * terms (|q| ≤ a handful), so the aggregate input is O(|docs|·|q|);
   * N / sumdl / per-term df ride as a broadcast 1-row table. Documents
   * containing no query term score 0 and are absent, mirroring an
   * inverted-index lookup.
   */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val terms = queryTerms.distinct.sorted
    val base = df.select(col(idCol).as("doc_id"),
        size(tokensK(col(textCol))).as("dl"),
        filter(tokensK(col(textCol)), t => t.isInCollection(terms)).as("_qt"))
      .localCheckpoint() // feeds corpus stats AND the tf explode
    val tf = base.select(col("doc_id"), col("dl"), explode(col("_qt")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // one fixed-shape double expression per (doc, term) — mirrored
    // textually by the oracle SQL (identical literals, identical order)
    val scored = tf.join(broadcast(dfx), Seq("term")).crossJoin(broadcast(stats))
      .withColumn("s", round(
        log(lit(1.0) + (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))) *
        (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
        (col("tf").cast("double") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") /
            (col("sumdl").cast("double") / col("n").cast("double")))), 6))
    // ascending-term left-associative total: coalesce(s_t1,0)+coalesce(s_t2,0)+…
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("s"))).as(s"_s$i")
    }
    val total = terms.indices
      .map(i => coalesce(col(s"_s$i"), lit(0.0)))
      .reduceLeft((a, c) => a + c)
    // global top-k via TakeOrderedAndProject (no single-partition window
    // over the corpus); the rank window then runs over topK rows only
    val top = scored.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score", round(total, 6))
      .orderBy(col("score").desc, col("doc_id")).limit(topK)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "score", "rank")
  }

  /**
   * Hashed-feature linear quality model — the fasttext-shaped model-based
   * filter stage: tokens hash into a 16^hexChars-bucket feature space
   * (first `hexChars` of md5 — engine-portable), each bucket carries a
   * deterministic integer micro-weight, and a document's score is the
   * exact integer Σ tf·w. `keep` = score ≥ threshold (the logistic is
   * monotone, so the integer threshold IS the probability threshold).
   * Stands in for a trained classifier: swap the generated weight table
   * for learned weights and nothing else changes.
   *
   * Scale: the weight table is 16^hexChars rows (256 at the default) —
   * broadcast; the explode aggregates map-side per (doc, bucket) before
   * the weight join, so the exchange carries O(docs · distinct-buckets)
   * and the corpus text never shuffles. All integer arithmetic: the
   * oracle replays bit-for-bit.
   */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
      hexChars: Int = 2, threshold: Long = 0L): DataFrame = {
    require(hexChars >= 1 && hexChars <= 8, s"hexChars in [1,8], got $hexChars")
    val spark = df.sparkSession
    val buckets = 1 << (4 * hexChars)
    // deterministic placeholder weights: Knuth-multiplier mix of the
    // bucket id, folded to [-1000, 1000] micro-units
    val weights = broadcast(spark.range(buckets.toLong).select(
      format_string(s"%0${hexChars}x", col("id")).as("bucket"),
      (((col("id") * lit(2654435761L)) % lit(1000003L)) % lit(2001L) - lit(1000L))
        .as("w")))
    df.select(col(idCol).as("doc_id"),
        explode(tokensK(col(textCol))).as("token"))
      .select(col("doc_id"), substring(md5(col("token")), 1, hexChars).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
      .join(weights, Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("w")).as("score_micro"))
      .withColumn("keep", (col("score_micro") >= threshold).cast("int"))
  }

  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df
      .select(col(idCol).as("doc_id"), explode(tokensK(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // document frequency as a COUNT WINDOW over the staged (doc, term)
    // table: tf holds one row per (doc, term), so count(*) per term IS df
    // — one term-keyed exchange where the former groupBy + equi-join
    // re-shuffled the full tf table twice (guide §2.4: two operations
    // keyed the same way share one exchange)
    val wDf = Window.partitionBy("term")
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= k)
      .select("doc_id", "term", "score", "term_rank")
  }
}
