package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/**
 * Approximate-nearest-neighbor search and near-duplicate detection over an
 * embedding column (`array<float>`), for training-data pipelines.
 *
 * Paths:
 *  - [[bruteForceTopK]] — exact cosine top-k. The query side is broadcast;
 *    the corpus streams through one codegen'd kernel call per pair, so cost
 *    is O(|corpus| * |queries|) FLOPs with NO shuffle of the corpus.
 *  - [[nearDupPairs]] — exact all-pairs threshold join as a BLOCK-TILE
 *    self-join: sub-tasks of bounded size spread evenly over the cluster
 *    (no broadcast of the corpus, no single nested-loop task). Exact
 *    low-threshold cosine search is inherently O(n^2 d) FLOPs — the tile
 *    join makes the n^2 embarrassingly parallel; the FLOPs run in one
 *    codegen'd kernel call per pair.
 *  - [[nearDupPairsLsh]] — hyperplane-LSH candidates + exact verify: the
 *    sub-quadratic path for HIGH thresholds (where the per-bit collision
 *    probability 1 - theta/pi is large). At low thresholds (e.g. the 0.4
 *    regime of the q45 fixture, where theta/pi ~ 0.37) LSH needs so many
 *    tables for high recall that candidates exceed all-pairs — use the
 *    tile join there. Recall vs the exact path is measured in
 *    `DedupSimilaritySpec`.
 *  - [[lshTopK]] — random-hyperplane LSH ANN: bucket by sign-bit signature,
 *    search only colliding buckets. Sub-linear at scale.
 *
 * All cosine evaluations go through [[GraftFunctions.cosine_sim]] — a
 * single-pass StaticInvoke kernel whose accumulation order is bit-identical
 * to the `aggregate(zip_with(...))` fold it replaced (DuckDB oracle compat
 * at 6 dp), ~100x faster per pair (no intermediate array allocation).
 * Vectors are cast to `array<double>` ONCE at the input projection, never
 * per pair.
 */
object Similarity {

  /** Cosine similarity between two array columns (codegen'd kernel).
    * Callers should pre-cast float arrays to array<double> once. */
  def cosine(a: Column, b: Column): Column =
    GraftFunctions.cosine_sim(a.cast("array<double>"), b.cast("array<double>"))

  /**
   * Exact top-k: for each query vector, the k most cosine-similar corpus
   * vectors (excluding self-matches by id). Queries are broadcast — the
   * join is a BroadcastNestedLoopJoin over the codegen'd cosine kernel.
   */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", GraftFunctions.cosine_sim(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), round(col("sim"), 6).as("sim"))
  }

  /**
   * Embedding-cosine near-duplicate pairs: all (a, b), a < b, with
   * cosine >= threshold. EXACT, via a block-tile self-join:
   *
   *  - every vector gets a hash block in [0, blocks);
   *  - a pair with blocks (i, j), i <= j, is evaluated in exactly one tile
   *    (the left role covers tiles (blk, j>=blk), the right role tiles
   *    (i<=blk, blk); intra-block double-emission is cut by id order);
   *  - the tile id is the shuffle key: blocks*(blocks+1)/2 evenly-sized
   *    independent sub-joins, each bounded at ~(n/blocks)^2 pairs and
   *    2n/blocks input rows — no corpus broadcast, no single giant task,
   *    shuffle volume n*(blocks+1) rows.
   *
   * Pick `blocks` so a tile's input (2n/blocks vectors) fits an executor;
   * the n^2 FLOPs are inherent to EXACT low-threshold search (see
   * [[nearDupPairsLsh]] for the sub-quadratic high-threshold path).
   */
  def nearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String, threshold: Double,
      blocks: Int = 8): DataFrame = {
    val b = blocks
    val v = corpus.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"),
      pmod(xxhash64(col(idCol)), lit(b.toLong)).cast("int").as("_blk"))
    val lhs = v.select(col("_id").as("_ida"), col("_v").as("_va"), col("_blk").as("_ba"),
      explode(sequence(col("_blk"), lit(b - 1))).as("_j"))
      .select(col("_ida"), col("_va"), col("_ba"), (col("_ba") * b + col("_j")).as("_tile"))
    val rhs = v.select(col("_id").as("_idb"), col("_v").as("_vb"), col("_blk").as("_bb"),
      explode(sequence(lit(0), col("_blk"))).as("_i"))
      .select(col("_idb"), col("_vb"), col("_bb"), (col("_i") * b + col("_bb")).as("_tile"))
    lhs.join(rhs, Seq("_tile"))
      // intra-block tiles see both orientations — keep one; cross-block
      // tiles see exactly one orientation — keep it regardless of id order
      .filter(col("_ba") =!= col("_bb") || col("_ida") < col("_idb"))
      .withColumn("sim", GraftFunctions.cosine_sim(col("_va"), col("_vb")))
      .filter(col("sim") >= threshold)
      .select(least(col("_ida"), col("_idb")).as("a"),
        greatest(col("_ida"), col("_idb")).as("b"),
        round(col("sim"), 6).as("sim"))
  }

  /**
   * Sub-quadratic near-dup pairs for HIGH thresholds: hyperplane-LSH
   * candidate generation (pairs colliding on the full signature of at
   * least one of `tables` independent hash tables) + exact cosine verify.
   * Never invents a pair (exact verify) — may miss pairs whose angle is
   * large; recall for threshold t is 1 - (1 - (1 - acos(t)/pi)^bits)^tables
   * per pair, measured against [[nearDupPairs]] in the spec.
   */
  def nearDupPairsLsh(
      corpus: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bitsPerTable: Int = 8, tables: Int = 8): DataFrame = {
    val v = corpus.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    val bucketed = v.select(col("_id"), col("_v"),
      posexplode(GraftFunctions.hyperplane_sigs(col("_v"), bitsPerTable, tables))
        .as(Seq("table", "bucket")))
    val l = bucketed.select(col("_id").as("a"), col("_v").as("_va"),
      col("table"), col("bucket"))
    val r = bucketed.select(col("_id").as("b"), col("_v").as("_vb"),
      col("table"), col("bucket"))
    l.join(r, Seq("table", "bucket")).filter(col("a") < col("b"))
      .select("a", "b", "_va", "_vb").dropDuplicates("a", "b")
      .withColumn("sim", GraftFunctions.cosine_sim(col("_va"), col("_vb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
  }

  /**
   * Integer-exact nearest-centroid assignment over the quantized vector
   * `_q`: `_dists` holds the exact L2² to every centroid and `bucket` its
   * first argmin (ties to the smallest index). The centroid matrix rides
   * as DATA (a broadcast single-row table), never as expression-tree
   * literals: plan/codegen size is O(1) in the centroid count, so
   * thousands of centroids neither blow up the driver nor re-plan a giant
   * expression every Lloyd iteration, and every task gets the matrix once.
   */
  private def nearestCentroid(df: DataFrame, centroids: Array[Seq[Long]],
      bucket: String): DataFrame = {
    import df.sparkSession.implicits._
    df.crossJoin(broadcast(Seq(Tuple1(centroids.toSeq)).toDF("_cents")))
      .withColumn("_dists", transform(col("_cents"), c => GraftFunctions.l2sq_q(col("_q"), c)))
      .withColumn(bucket, (array_position(col("_dists"), array_min(col("_dists"))) - 1).cast("int"))
      .drop("_cents")
  }

  /**
   * One integer Lloyd update: the floored mean of each cluster's `_q`
   * vectors, collected at (cluster, dim) grain — k*d rows, one shuffle,
   * the corpus never shuffles — and assembled into centroid arrays on the
   * driver. A cluster that lost all its members keeps its centroid.
   */
  private def lloydUpdate(assigned: DataFrame, bucket: String,
      centroids: Array[Seq[Long]]): Array[Seq[Long]] = {
    val rows = assigned
      .select(col(bucket).as("_c"), posexplode(col("_q")).as(Seq("_pos", "_x")))
      .groupBy("_c", "_pos")
      .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
      // floored integer mean fld(s, n): the numerator is made divisible
      // by n first, so `div` is exact and sign-correct in every engine
      .withColumn("_m", expr("(_s - ((_s % _n + _n) % _n)) div _n"))
      .select(col("_c"), col("_pos"), col("_m"))
      .collect()
    val byC = rows.groupBy(_.getInt(0)).map { case (c, rs) =>
      c -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    }
    centroids.indices.map(i => byC.getOrElse(i, centroids(i))).toArray
  }

  /**
   * IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids is
   * trained with a few deterministic Lloyd iterations (init = hash-order
   * sample; assignment by exact integer L2² in [[nearestCentroid]];
   * centroid update is one floored-mean aggregation per iteration in
   * [[lloydUpdate]] — all distributed, only the tiny nlist x dim centroid
   * table ever reaches the driver). The corpus is
   * bucketed by nearest centroid; a query probes its `nprobe` nearest
   * buckets and exact-reranks the candidates. `nprobe == nlist` degrades
   * to exact brute force (asserted in the spec); smaller nprobe trades
   * recall for a 1/nlist * nprobe scan fraction — the classic
   * training-data-scale ANN layout (FAISS IVF-Flat shape).
   */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      trainPerList: Int = 256): DataFrame = {
    val v = corpus.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"),
      GraftFunctions.quantize_vec(col(vecCol).cast("array<double>")).as("_q"))
    // The coarse quantizer is INTEGER-EXACT (the [[kmeansClusters]]
    // recipe): vectors micro-quantized to longs, init + sample order by
    // engine-portable md5, argmin by integer L2² with ties to the smallest
    // index, centroid update by floored integer mean. Every training and
    // serving decision is therefore replayable bit-for-bit in plain SQL —
    // q48 runs against a hard DuckDB oracle (train + bucket + probe +
    // exact-cosine rerank, the q83 + q29 techniques composed) instead of a
    // rows-only check. Float-mean Lloyd would be order-dependent and
    // unverifiable by any other engine.
    //
    // Training runs on a BOUNDED deterministic sample — the
    // hash-order-smallest nlist*trainPerList vectors (a distributed top-k,
    // no full sort) — materialized ONCE: at a 10^10-row corpus the k-means
    // loop must not rescan (and posexplode) the full table per iteration.
    // Assignment/serving below still covers the whole corpus exactly. When
    // the corpus is smaller than the cap the sample IS the corpus, so
    // small-scale results are identical to full-corpus training.
    val trainOrder = Seq(md5(col("_id").cast("string")), col("_id"))
    val train = v.select(col("_id"), col("_q"))
      .orderBy(trainOrder: _*).limit(nlist * trainPerList).localCheckpoint()
    // deterministic init: the nlist hash-smallest vectors (= the sample's
    // own hash-order prefix)
    var centroids: Array[Seq[Long]] = train
      .orderBy(trainOrder: _*).limit(nlist)
      .collect().map(_.getSeq[Long](1))
    // Lloyd: iters assignment passes, iters-1 floored-integer-mean updates
    (1 until iters).foreach { _ =>
      centroids = lloydUpdate(nearestCentroid(train, centroids, "_bucket"), "_bucket", centroids)
    }
    def withBucket(df: DataFrame): DataFrame = nearestCentroid(df, centroids, "_bucket")
    val bucketed = withBucket(v)
      .select(col("_id").as("neighbor_id"), col("_v").as("_cv"), col("_bucket"))
    // each query probes its nprobe nearest buckets (smallest integer L2²,
    // ties to the smaller bucket index)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"),
      GraftFunctions.quantize_vec(col(vecCol).cast("array<double>")).as("_q"))
    val probed = withBucket(q)
      .withColumn("_order", array_sort(transform(col("_dists"),
        (d, i) => struct(d.as("d"), i.as("c")))))
      .select(col("query_id"), col("_qv"),
        explode(slice(transform(col("_order"), e => e.getField("c")), 1, nprobe))
          .as("_bucket"))
    val cands = probed.join(bucketed, Seq("_bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", GraftFunctions.cosine_sim(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), round(col("sim"), 6).as("sim"))
  }

  /**
   * Pair-detector choice for [[dedupCorpusByEmbedding]].
   *
   *  - [[PairStage.Exact]]: the block-tile all-pairs join — value-exact at
   *    any threshold, but O(n²) FLOPs and a tile count quadratic in corpus
   *    size. The oracle twin; the right stage for tests and bounded
   *    corpora, NOT for a 100 TB run.
   *  - [[PairStage.Lsh]]: hyperplane-LSH candidates + exact cosine verify
   *    ([[nearDupPairsLsh]]) — sub-quadratic; never invents a pair, may
   *    miss wide-angle ones (recall measured in DedupSimilaritySpec).
   *  - [[PairStage.Clustered]]: within-cluster tiles over a k-means
   *    assignment (SemDeDup economics — pair work bounded by Σ n_c²);
   *    pass a precomputed assignment to cluster once and consume many.
   */
  sealed trait PairStage
  object PairStage {
    final case class Exact(blocks: Int = 8) extends PairStage
    final case class Lsh(bitsPerTable: Int = 8, tables: Int = 8) extends PairStage
    final case class Clustered(k: Int = 64, iters: Int = 3,
      assign: Option[DataFrame] = None) extends PairStage
  }

  /**
   * The COMPOSED embedding-dedup pipeline, corpus in -> deduplicated
   * corpus out: cosine near-dup pairs (detector per `stage`) ->
   * transitive near-dup clusters (min-label + pointer jumping) -> one
   * canonical row per cluster. The embedding-space analog of
   * [[Dedup.dedupCorpus]]; every stage is the scale-shaped operator
   * above. The stage has no default, so every caller states its cost:
   * [[PairStage.Exact]] is value-exact but O(n²), for tests and bounded
   * corpora; production corpora beyond ~10⁶ vectors pass
   * [[PairStage.Lsh]] (high thresholds) or [[PairStage.Clustered]]
   * (any threshold, SemDeDup semantics) — both sub-quadratic.
   */
  def dedupCorpusByEmbedding(
      corpus: DataFrame, idCol: String, vecCol: String, threshold: Double,
      stage: PairStage): DataFrame = {
    val pairs = stage match {
      case PairStage.Exact(blocks) =>
        nearDupPairs(corpus, idCol, vecCol, threshold, blocks)
      case PairStage.Lsh(bits, tables) =>
        nearDupPairsLsh(corpus, idCol, vecCol, threshold, bits, tables)
      case PairStage.Clustered(k, iters, assign) =>
        val a = assign.getOrElse(kmeansClusters(corpus, idCol, vecCol, k, iters))
        withinClusterPairs(corpus, idCol, vecCol, a, threshold)
    }
    Dedup.keepClusterRepresentatives(corpus, idCol, Dedup.nearDupClusters(pairs))
  }

  /**
   * Product-quantization ANN (the FAISS PQ/ADC shape): vectors are split
   * into `m` subvectors; each subspace gets a `ksub`-centroid codebook
   * (deterministic Lloyd on a bounded hash-order sample, all `m` subspaces
   * trained in ONE distributed loop); the corpus is encoded to `m` small
   * codes (+ its reconstructed norm) — at 100 TB the search index is
   * m bytes/vector instead of 4·dim, the reason PQ exists. Serving is
   * asymmetric distance computation: each query precomputes its m×ksub
   * dot-product table ONCE, a candidate's approximate cosine is m table
   * LOOKUPS (not dim multiplies); the approx top-`rerank` then re-rank
   * EXACTLY through the cosine kernel against the raw vectors.
   *
   * Scale: training touches only the sample; encoding is one broadcast
   * (codebook) pass over the corpus; serving shuffles only
   * |queries|·rerank candidate ids for the exact re-rank join.
   * `rerank >= |corpus|` degrades to exact brute force (spec-asserted);
   * recall@k at practical rerank is measured in DedupSimilaritySpec.
   */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 3,
      rerank: Int = 50, trainN: Int = 4096): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    val dimRow = v.select(size(col("_v"))).limit(1).collect()
    require(dimRow.nonEmpty, "pqTopK needs a non-empty corpus")
    val dim = dimRow.head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // ---- train: one Lloyd loop over a bounded deterministic sample held
    // in SUBVECTOR-ARRAY form (one row per vector — no per-iteration
    // collect_list regroup); only the m*ksub*dsub codebook ever reaches
    // the driver ----
    val subvecsOf = (vc: Column) => transform(sequence(lit(0), lit(m - 1)),
      s => slice(vc, s * dsub + 1, lit(dsub)))
    val sample = v.orderBy(xxhash64(col("_id")), col("_id")).limit(trainN)
      .select(col("_id"), subvecsOf(col("_v")).as("_svs"))
      .localCheckpoint()
    // init: per subspace, the ksub hash-smallest sample subvectors — the
    // hash order ignores the subspace, so the per-subspace rank window of
    // the exploded form equals the global rank: one prefix, split by s
    var codebook: Array[Array[Seq[Double]]] =
      Array.tabulate(m)(_ => Array.empty)
    val initRows = sample.orderBy(xxhash64(col("_id")), col("_id")).limit(ksub)
      .select(col("_svs")).collect()
    (0 until m).foreach { s =>
      codebook(s) = initRows
        .map(_.getSeq[scala.collection.Seq[Double]](0)(s).toSeq).toArray }
    // per-row work runs in the one-pass PQ kernels (pq_encode /
    // pq_recon_norm2 / pq_dot_tables / pq_adc) — bit-identical to the
    // zip_with/transform/aggregate HOF chains they replaced (parity spec
    // in DedupSimilaritySpec), which interpreted m*ksub*dsub lambda
    // frames per row and held q68's whole budget
    def withCodes(df: DataFrame, subvecs: Column): DataFrame =
      df.crossJoin(broadcast(Seq(Tuple1(codebook.map(_.toSeq).toSeq)).toDF("_cb")))
        .withColumn("_codes", GraftFunctions.pq_encode(subvecs, col("_cb")))
    (0 until iters).foreach { _ =>
      val assigned = withCodes(sample, col("_svs"))
        .select(posexplode(arrays_zip(col("_codes"), col("_svs"))).as(Seq("_s", "_z")))
        .select(col("_s"), col("_z._codes").as("_c"),
          posexplode(col("_z._svs")).as(Seq("_pos", "_x")))
      val means = assigned.groupBy("_s", "_c", "_pos").agg(avg(col("_x")).as("_mn"))
        .groupBy("_s", "_c")
        .agg(array_sort(collect_list(struct(col("_pos"), col("_mn")))).as("_sv"))
        .select(col("_s"), col("_c"), transform(col("_sv"), e => e.getField("_mn")).as("_m"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      // rebuild over the INITIALIZED codebook size — a corpus/sample with
      // fewer than ksub vectors seeds fewer centroids per subspace, and
      // tabulating to ksub would index past them
      codebook = Array.tabulate(m)(s => Array.tabulate(codebook(s).length)(j =>
        means.getOrElse((s, j), codebook(s)(j))))
    }
    // ---- encode: codes + reconstructed squared norm per corpus vector ----
    val encoded = withCodes(v.withColumn("_svs", subvecsOf(col("_v"))), col("_svs"))
      .withColumn("_rnorm2", GraftFunctions.pq_recon_norm2(col("_codes"), col("_cb")))
      .select(col("_id").as("neighbor_id"), col("_codes"), col("_rnorm2"))
    // ---- serve: per-query dot tables, ADC scoring, approx top-rerank,
    // exact re-rank ----
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
      .withColumn("_qsvs", subvecsOf(col("_qv")))
      .crossJoin(broadcast(Seq(Tuple1(codebook.map(_.toSeq).toSeq)).toDF("_cb")))
      .withColumn("_tabs", GraftFunctions.pq_dot_tables(col("_qsvs"), col("_cb")))
      .withColumn("_qnorm", sqrt(aggregate(col("_qv"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("query_id"), col("_qv"), col("_tabs"), col("_qnorm"))
    val adc = encoded.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("_dot", GraftFunctions.pq_adc(col("_codes"), col("_tabs")))
      .withColumn("_approx", col("_dot") /
        greatest(col("_qnorm") * sqrt(col("_rnorm2")), lit(1e-12)))
    val wa = Window.partitionBy("query_id").orderBy(col("_approx").desc, col("neighbor_id"))
    val cands = adc.withColumn("_ar", row_number().over(wa))
      .filter(col("_ar") <= rerank)
      .select(col("query_id"), col("neighbor_id"), col("_qv"))
    val exact = cands.join(v.withColumnRenamed("_id", "neighbor_id"), Seq("neighbor_id"))
      .withColumn("sim", GraftFunctions.cosine_sim(col("_qv"), col("_v")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    exact.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), round(col("sim"), 6).as("sim"))
  }

  /**
   * LSH ANN: bucket corpus and queries by multiple independent signature
   * bands; candidates = bucket collisions; exact cosine re-rank within
   * candidates. `tables` independent hash tables trade memory for recall.
   */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, bitsPerTable: Int = 12, tables: Int = 4): DataFrame = {
    def bucketed(df: DataFrame, as: String) = df.select(
      col(idCol).as(as), col(vecCol).cast("array<double>").as(s"_v_$as"),
      posexplode(GraftFunctions.hyperplane_sigs(
        col(vecCol).cast("array<double>"), bitsPerTable, tables))
        .as(Seq("table", "bucket")))
    val c = bucketed(corpus, "neighbor_id")
    val q = bucketed(queries, "query_id")
    val cands = q.join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("_v_query_id"), col("_v_neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("sim", GraftFunctions.cosine_sim(col("_v_query_id"), col("_v_neighbor_id")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), round(col("sim"), 6).as("sim"))
  }

  /**
   * Deterministic k-means corpus clustering — the semantic-curation layer
   * (SemDeDup / cluster-balanced sampling family): cluster assignments
   * drive per-topic rebalancing, diversity sampling, and per-cluster
   * quality stats over an embedding column.
   *
   * ENGINE-EXACT by construction: vectors are micro-unit-quantized to
   * longs ([[GraftFunctions.quantize_vec]]), centroids are floor-div
   * integer means, and distances are exact integer squared-L2
   * ([[GraftFunctions.l2sq_q]]) — every number in the Lloyd loop is a
   * 64-bit integer, so a SQL oracle replays the whole clustering
   * bit-for-bit (q83) with zero float-accumulation-order hazards.
   * Determinism: init centroids are the k md5-order-smallest rows (the
   * engine-portable hash order used by [[Sampling.hashSample]]); argmin
   * ties break to the smallest cluster index (first position of the array
   * min); a cluster that loses all members keeps its previous centroid.
   *
   * Scale shape (10^10 rows): the quantized corpus is staged ONCE
   * (localCheckpoint — reclaimed with the plan); each iteration broadcasts
   * the k*d centroid matrix out as DATA (single-row table, plan O(1) in
   * k) and aggregates k*d longs back — after map-side combine the
   * (cluster, dim) shuffle is k*d rows PER PARTITION, so the corpus
   * itself never shuffles and no driver structure exceeds k*d longs.
   *
   * @param iters number of assignment passes (iters-1 centroid updates)
   */
  def kmeansClusters(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): DataFrame = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    val quant = df.select(col(idCol).as("_id"),
      GraftFunctions.quantize_vec(col(vecCol).cast("array<double>")).as("_q"))
      .localCheckpoint()
    var centroids: Array[Seq[Long]] = quant
      .orderBy(md5(col("_id").cast("string")), col("_id")).limit(k)
      .collect().map(_.getSeq[Long](1))
    def assigned: DataFrame = nearestCentroid(quant, centroids, "cluster")
      .withColumn("dist_q", array_min(col("_dists")))
    (1 until iters).foreach { _ =>
      centroids = lloydUpdate(assigned, "cluster", centroids)
    }
    assigned.select(col("_id").as(idCol), col("cluster"), col("dist_q"))
  }

  /**
   * SemDeDup (Abbas et al. 2023): semantic near-duplicate removal WITHIN
   * k-means clusters — pairs are only evaluated between members of the
   * same semantic cluster, which turns the exact all-pairs O(n²) into
   * Σ n_c² (the economics of the method). Composition of the engine's
   * own parts: integer-exact [[kmeansClusters]] -> within-cluster exact
   * cosine pairs (the [[nearDupPairs]] block-tile scheme with the
   * cluster id PREFIXED to the tile key, so a tile never crosses
   * clusters and the shuffle stays evenly sliced) -> transitive
   * components -> keep the min-id representative per component. Returns
   * the kept rows (all input columns) plus `cluster`.
   */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double, blocks: Int = 8): DataFrame =
    semanticDedupFrom(corpus, idCol, vecCol,
      kmeansClusters(corpus, idCol, vecCol, k, iters), threshold, blocks)

  /** [[semanticDedup]] over a PRECOMPUTED `(idCol, cluster)` assignment —
    * the real-pipeline shape: cluster once, then derive dedup, sampling,
    * and per-topic stats from the same assignment without re-running
    * Lloyd per consumer. */
  def semanticDedupFrom(corpus: DataFrame, idCol: String, vecCol: String,
      clusters: DataFrame, threshold: Double, blocks: Int = 8): DataFrame = {
    val withC = corpus.join(
      clusters.select(col(idCol), col("cluster")), Seq(idCol))
    val pairs = withinClusterPairs(corpus, idCol, vecCol, clusters, threshold, blocks)
    Dedup.keepClusterRepresentatives(withC, idCol, Dedup.nearDupClusters(pairs))
  }

  /**
   * Within-cluster exact cosine pairs: the [[nearDupPairs]] block-tile
   * scheme with the cluster id PREFIXED to the tile key, so a tile never
   * crosses clusters and the shuffle stays evenly sliced — pair work is
   * bounded by Σ n_c² instead of n² (the SemDeDup economics). Shared by
   * [[semanticDedupFrom]] and [[dedupCorpusByEmbedding]]'s
   * [[PairStage.Clustered]]. Returns (a, b) with a < b.
   */
  def withinClusterPairs(corpus: DataFrame, idCol: String, vecCol: String,
      clusters: DataFrame, threshold: Double, blocks: Int = 8): DataFrame = {
    val b = blocks
    val withC = corpus.join(
      clusters.select(col(idCol), col("cluster")), Seq(idCol))
    val v = withC.select(col(idCol).as("_id"), col("cluster").as("_c"),
      col(vecCol).cast("array<double>").as("_v"),
      pmod(xxhash64(col(idCol)), lit(b.toLong)).cast("int").as("_blk"))
    val lhs = v.select(col("_id").as("_ida"), col("_c"), col("_v").as("_va"),
      col("_blk").as("_ba"), explode(sequence(col("_blk"), lit(b - 1))).as("_j"))
      .select(col("_ida"), col("_c"), col("_va"), col("_ba"),
        (col("_ba") * b + col("_j")).as("_tile"))
    val rhs = v.select(col("_id").as("_idb"), col("_c"), col("_v").as("_vb"),
      col("_blk").as("_bb"), explode(sequence(lit(0), col("_blk"))).as("_i"))
      .select(col("_idb"), col("_c"), col("_vb"), col("_bb"),
        (col("_i") * b + col("_bb")).as("_tile"))
    lhs.join(rhs, Seq("_c", "_tile"))
      .filter(col("_ba") =!= col("_bb") || col("_ida") < col("_idb"))
      .withColumn("sim", GraftFunctions.cosine_sim(col("_va"), col("_vb")))
      .filter(col("sim") >= threshold)
      .select(least(col("_ida"), col("_idb")).as("a"),
        greatest(col("_ida"), col("_idb")).as("b"))
  }

  /**
   * Cluster-balanced diversity sampling (the SemDeDup curation recipe's
   * selection half): cap every semantic cluster at `perCluster` rows,
   * keeping each cluster's md5-order prefix — an engine-portable
   * deterministic "random" pick, the same order [[Sampling.hashSample]]
   * uses. Dominant topics are trimmed, tail topics survive whole, so the
   * kept corpus is balanced across the embedding space rather than across
   * raw frequency. Returns the input rows (all columns) plus `cluster`.
   *
   * Scale: one equi-join of the payload against the (id, cluster)
   * assignment (both hash-partitioned on the id — the payload shuffles
   * once) and one per-cluster rank window whose partitions are the k
   * clusters of bounded sample size.
   */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, perCluster: Int): DataFrame =
    clusterBalancedSampleFrom(df, idCol,
      kmeansClusters(df, idCol, vecCol, k, iters), perCluster)

  /** [[clusterBalancedSample]] over a PRECOMPUTED `(idCol, cluster)`
    * assignment (cluster once, consume many times). */
  def clusterBalancedSampleFrom(df: DataFrame, idCol: String,
      clustersIn: DataFrame, perCluster: Int): DataFrame = {
    require(perCluster > 0, "perCluster must be positive")
    val clusters = clustersIn.select(col(idCol), col("cluster"))
    val w = Window.partitionBy("cluster")
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(clusters, Seq(idCol))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= perCluster)
      .drop("_rk")
  }
}
