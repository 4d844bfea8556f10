package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * BPE merge learning — the tokenizer-training step of a training-data
 * pipeline (Sennrich et al. 2016, "Neural Machine Translation of Rare
 * Words with Subword Units"). The reference corpus pipeline stops at
 * token counting; a 100 TB curation stack also trains the tokenizer.
 *
 * Scale shape: BPE statistics live on the WORD-TYPE table (word, count),
 * not the corpus — one corpus-sized aggregation up front, then every
 * merge iteration touches only |vocab| rows:
 *  - pair counts: explode the per-word adjacent-pair kernel, weight by
 *    word count, aggregate (map-side combined, one exchange per round),
 *  - the argmax pair is ONE collected row per round (the sequential
 *    dependency is inherent to BPE; everything else stays distributed),
 *  - the merge applies as a codegen'd kernel pass over the word table,
 *    localCheckpoint'd per round so the loop never grows lineage.
 * Ties break deterministically: highest count, then lexicographic pair.
 */
object Bpe {

  private def K = graft.functions.GraftFunctions

  /** Word-type table (word, n) of a corpus — whitespace/lowercase. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    // kernel tokenization (word 1-grams == tokens; TextAnalysis.tokensK)
    df.select(explode(K.word_ngrams(col(textCol), 1)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /**
   * Learn `numMerges` merges from a word-count table. Words start as
   * character symbol sequences with the `</w>` end-of-word marker as the
   * final symbol. Returns the merge table (rank, left, right, merged,
   * pair_count) in learned order.
   */
  def learnMerges(wordCounts: DataFrame, numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = wordCounts.sparkSession
    import spark.implicits._
    // checkpoint ONCE at the word-type table (cuts the corpus scan out of
    // every round); rounds then chain cheap kernel steps over |vocab| rows
    // — round k's plan is k narrow projections, re-checkpointed only every
    // 16 rounds so a deep merge run never grows an unbounded lineage
    var words = wordCounts.select(
        concat(split(col("word"), ""), array(lit("</w>"))).as("syms"),
        col("n"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = words
        .select(explode(K.bpe_pairs(col("syms"))).as("pair"), col("n"))
        .groupBy("pair").agg(sum("n").as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val c = top(0).getLong(1)
        val sp = pair.indexOf(' ')
        val (l, r) = (pair.substring(0, sp), pair.substring(sp + 1))
        merges += ((round, l, r, l + r, c))
        words = words.select(
            K.bpe_merge_step(col("syms"), lit(l), lit(r)).as("syms"), col("n"))
        round += 1
        if (round % 16 == 0) words = words.localCheckpoint()
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /**
   * Tokenize a corpus with a learned merge table: each document's words
   * are re-segmented by replaying the merges in rank order (the merge
   * list is tiny — it rides in the plan as `numMerges` chained kernel
   * steps; the corpus streams through once, no shuffle).
   */
  def applyMerges(df: DataFrame, textCol: String, merges: Seq[(String, String)])
      : DataFrame =
    // one kernel pass per document: the nested-transform formulation
    // (the parity reference in src/test, ColumnReferences) interpreted
    // numMerges CodegenFallback lambda frames per WORD per row — q77
    // 2.3 s -> 0.6 s at sf0.1
    df.withColumn("subwords", K.bpe_segment(col(textCol), merges))
}
