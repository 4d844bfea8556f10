package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The column-expression forms of operators that now run as one-pass
  * kernels: the parity references that pin each kernel's values. */
object ColumnReferences {

  /** `filter(split(lower(t), '\\s+'), x -> length(x) > 0)`: the tokens the
    * lowercasing text kernels (`word_ngrams`, `shingle_hash64`, ...) split. */
  def lowerTokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), x => length(x) > 0)

  /** `filter(split(t, ' '), x -> length(x) > 0)`: the tokens the chunkers
    * (`chunk_text`, `chunk_text_stride`) split, bytes kept. */
  def spaceTokens(text: Column): Column =
    filter(split(text, " "), x => length(x) > 0)

  /** Non-overlapping `n`-token chunks of [[spaceTokens]], space-joined: the
    * slice/array_join formulation of `chunk_text(t, n)`. */
  def chunkTextColumns(text: Column, n: Int): Column = {
    val toks = spaceTokens(text)
    when(toks.isNotNull, transform(
      filter(sequence(lit(0), size(toks)), i => i < size(toks) && i % n === 0),
      i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** The struct-field formulation of [[TextAnalysis.qualityFilter]]: the
    * reference for the one-pass `quality_gate` kernel. */
  def qualityFilterColumns(
      df: DataFrame, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 100000,
      maxPunctRatio: Double = 0.3, minStopwordRatio: Double = 0.02,
      minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 5.0): DataFrame = {
    val q = TextAnalysis.qualityFeatures(col(textCol))
    df.filter(q.getField("n_tokens").between(minTokens, maxTokens) &&
      q.getField("punct_ratio") <= maxPunctRatio &&
      q.getField("stopword_ratio") >= minStopwordRatio &&
      q.getField("mean_word_len").between(minMeanWordLen, maxMeanWordLen))
  }

  /** The four-exchange formulation of [[TextAnalysis.repetitionFeatures]]
    * (explode → keyed aggregations → join): the reference for the one-pass
    * `repetition_stats` kernel. */
  def repetitionFeaturesColumns(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    val base = df.select(col(idCol).as("doc_id"), toks.as("_toks"))
    val tokStats = base
      .select(col("doc_id"), explode(col("_toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
    // linear word_ngrams kernel pass — the element_at-per-position column
    // formulation is O(len²) per row after CollapseProject inlines the
    // tokenizer into every gram site (the ngramCounts lesson)
    val biStats = df
      .select(col(idCol).as("doc_id"),
        explode(GraftFunctions.word_ngrams(col(textCol), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bi"))
    tokStats.join(biStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_tokens"),
        round((col("n_tokens") - col("n_distinct")).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_token_frac"),
        round(col("top_c").cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("top_token_frac"),
        round((coalesce(col("n_bigrams"), lit(0L)) - coalesce(col("n_distinct_bi"), lit(0L)))
          .cast("double") / greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)), 6)
          .as("dup_bigram_frac"))
  }

  /** The HOF-chain formulation of [[Bpe.applyMerges]]: the reference for
    * the one-pass `bpe_segment` kernel. */
  def applyMergesColumns(
      df: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame = {
    val base = df.withColumn("_words",
      transform(Dedup.tokens(col(textCol)),
        w => concat(split(w, ""), array(lit("</w>")))))
    val merged = merges.foldLeft(col("_words")) { case (acc, (l, r)) =>
      transform(acc, syms => GraftFunctions.bpe_merge_step(syms, lit(l), lit(r)))
    }
    base.withColumn("subwords", flatten(merged)).drop("_words")
  }

  /** Deterministic pseudo-random hyperplane component for (seed, plane, dim). */
  private def planeComponent(plane: Int, dim: Column, seed: Long): Column =
    // xxhash64 of (plane, dim, seed) mapped to [-1, 1)
    xxhash64(lit(plane), dim, lit(seed)).cast("double") / lit(Long.MaxValue.toDouble)

  /** Random-hyperplane signature via column arithmetic: the reference for
    * [[graft.functions.Kernels.hyperplaneSigs]]. It interprets
    * `tables * bits` aggregate/zip_with folds per row, each allocating an
    * intermediate array and re-deriving plane components. */
  def hyperplaneSignature(vec: Column, bits: Int, seed: Long): Column = {
    val sigBits = (0 until bits).map { p =>
      val dotExpr = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeComponent(p, i, seed)),
        lit(0.0), (acc, v) => acc + v)
      when(dotExpr >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    sigBits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The window formulation of [[Merge.newestPerSite]]: newest-first
    * top-K per site over posts in any layout. */
  def topKPerSite(posts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("site_id").orderBy(col("rank").desc)
    posts.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }
}
