package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document deduplication operators for large-scale training-data pipelines:
 * exact, fingerprint, n-gram Jaccard, MinHash+LSH, SimHash.
 *
 * Generalizes the reference's id-keyed dedup (study plugin `HashSet` dedup
 * on sb_seq, plugins/study/src/lib.rs:92-124; calendar BTreeMap upsert,
 * ssu-academic-calendar lib.rs:50-63) to content-level near-duplicate
 * detection over a `documents(doc_id, text)` corpus.
 *
 * Scale notes (100 TB):
 *  - exact/fingerprint dedup is one hash-shuffle on the group key — the key
 *    is a fixed-width digest (md5), so the shuffle carries digests, not
 *    documents: project the digest FIRST, shuffle (digest, doc_id) pairs
 *    only, then semi-join winners back (done below).
 *  - n-gram Jaccard self-joins explode on stop-shingles: `maxShingleFreq`
 *    drops shingles seen in more than F docs (standard df-cut) — at scale
 *    this bounds the join fan-out to F^2 per shingle.
 *  - MinHash/LSH replaces the quadratic shingle join with band-bucket
 *    joins: candidates meet only if a band collides. Signature computation
 *    is pure column arithmetic (stays in whole-stage codegen).
 */
object Dedup {

  /** Tokenize to lowercase word array (whitespace split). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Word n-gram shingles as distinct strings (empty when < n tokens).
    * Linear-pass `word_ngrams` kernel + distinct: the slice/concat_ws
    * column formulation is O(len²) per row after CollapseProject inlines
    * the tokenizer into every gram site (measured 7 s of q89's budget at
    * sf0.1 for this sub-expression alone). */
  def shingles(text: Column, n: Int): Column =
    array_distinct(graft.functions.GraftFunctions.word_ngrams(text, n))

  /**
   * Exact dedup by full text equality: keeps the smallest `idCol` per text.
   * Shuffles (digest, id) pairs, not documents.
   */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(idCol), md5(col(textCol)).as("_digest"))
    val winners = keyed.groupBy("_digest").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(winners, Seq(idCol), "left_semi")
  }

  /**
   * Fingerprint (key-collision) dedup: md5 of the sorted distinct token
   * set — the classic "fingerprint" normalization (word order / repetition
   * insensitive). Returns (id, fingerprint) plus a keep flag for the
   * per-fingerprint winner (min id).
   */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  def fingerprintDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol), fingerprint(col(textCol)).as("fingerprint"))
    val w = Window.partitionBy(col("fingerprint")).orderBy(col(idCol))
    fp.withColumn("keep", row_number().over(w) === 1)
  }

  /**
   * Exact n-gram Jaccard near-duplicate pairs: all (a, b), a < b, with
   * |shingles(a) ∩ shingles(b)| / |union| >= threshold.
   * `maxShingleFreq` (0 = off) applies a document-frequency cut before the
   * self-join — at web scale hot shingles would otherwise dominate the
   * shuffle (host-skew analog of the frontier's hot hosts).
   */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleFreq: Long = 0L): DataFrame = {
    // Staging barrier: the exploded shingle table feeds the df-cut, the
    // per-doc sizes, and BOTH self-join sides — without it the (expensive)
    // tokenize+shingle explode recomputes once per consumer (at cluster
    // scale this staging would be a checkpoint to storage; at sf0.1 the
    // unstaged A/B was within noise, 4.4 vs 4.6 s). localCheckpoint
    // (not cache) so the blocks are reclaimed with the plan when the result
    // DataFrame is dropped — repeated invocations don't accumulate pinned
    // executor storage.
    // The shingle STRING never enters a shuffle: every downstream consumer
    // (df-cut groupBy, self-join, intersection count) keys on its 8-byte
    // xxhash64 — 3-gram strings are 20-40 bytes, so hashing cuts the
    // dominant shuffle's bytes 3-5x (64-bit collisions are negligible
    // against per-document shingle sets).
    // per-doc shingle-set size rides ON the exploded rows (one extra int
    // per shuffle row): the former shape derived a 1-row-per-doc `sizes`
    // table and equi-joined it back onto the PAIR table twice — at sf0.1
    // that re-shuffled the 1.1M-row candidate pairs two more times (2.0 s
    // of the 4.5 s pipeline); at web scale the pair table is the biggest
    // frame in the job, so joining per-doc metadata onto it is exactly
    // the "shuffle the heavy side again" anti-pattern (guide §2.3/§8 —
    // attach the proxy before the heavy join, not after)
    val sh = df
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.shingle_hash64(col(textCol), n).as("_arr"))
      .select(col("id"), size(col("_arr")).as("n_sh"),
        explode(col("_arr")).as("shingle_h"))
      .localCheckpoint()
    val filtered =
      if (maxShingleFreq <= 0) sh
      else {
        val hot = sh.groupBy("shingle_h").count().filter(col("count") > maxShingleFreq)
          .select("shingle_h")
        sh.join(hot, Seq("shingle_h"), "left_anti")
      }
    // ONE exchange feeds both self-join sides: partitioning by shingle_h
    // BEFORE the aliasing projections leaves hashpartitioning(shingle_h)
    // intact on each side (Project preserves the passed-through key), so
    // the join plans zero additional exchanges and the second side reads
    // the first side's shuffle as a ReusedExchange — the aliased-sides
    // shape exchanged the same filtered table twice and re-ran the df-cut
    // anti-join probe per side (guide §2.4: two operations keyed the same
    // way share one exchange).
    val parted = filtered.repartition(col("shingle_h"))
    val a = parted.select(col("id").as("a"), col("n_sh").as("na"), col("shingle_h"))
    val b = parted.select(col("id").as("b"), col("n_sh").as("nb"), col("shingle_h"))
    // na/nb are functions of a/b, so the extra grouping keys leave the
    // aggregate's group set unchanged
    a.join(b, Seq("shingle_h")).filter(col("a") < col("b"))
      .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Distinct shingle-hash array of a text column — the codegen'd
    * byte-level kernel (value-identical to hashing the shingle strings);
    * feeds both [[minhashLshPairs]]'s banding kernel and its exact-Jaccard
    * candidate verify. */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.shingle_hash64(text, n)

  /**
   * Directed n-gram CONTAINMENT pairs — the decontamination primitive:
   * for each probe document (benchmark/eval item), every corpus document
   * holding at least `threshold` of the probe's shingles,
   * containment = |probe ∩ corpus| / |probe|. Asymmetric on purpose: a
   * short eval item quoted inside a long training document scores ~1.0
   * here while its Jaccard vs the long doc is ~0 — the case
   * [[ngramJaccardPairs]] structurally cannot catch.
   *
   * Scale shape (the decontamination deployment: corpus >> probe): the
   * probe's hashed shingles ride to every executor as a broadcast, so
   * the CORPUS SIDE NEVER SHUFFLES before the pair
   * aggregation — one corpus scan, map-side hash join, then a shuffle of
   * matched (corpus_id, probe_id) pairs only. The df-cut (same hot-shingle
   * guard as q26, applied to BOTH sides and to the probe denominator)
   * keeps boilerplate shingles from manufacturing evidence AND from
   * fanning out the join. Self-pairs are excluded so a probe drawn from
   * the corpus itself never reports its own row.
   */
  def containmentPairs(
      corpus: DataFrame, corpusId: String, corpusText: String,
      probe: DataFrame, probeId: String, probeText: String,
      n: Int, threshold: Double, maxShingleFreq: Long = 0L): DataFrame = {
    val ch = corpus.select(col(corpusId).as("corpus_id"),
      explode(shingleHashes(col(corpusText), n)).as("shingle_h"))
    val hot = ch.groupBy("shingle_h").count()
      .filter(col("count") > (if (maxShingleFreq <= 0) Long.MaxValue else maxShingleFreq))
      .select("shingle_h")
    val cf = ch.join(broadcast(hot), Seq("shingle_h"), "left_anti")
    // the probe side feeds TWO consumers (denominator agg + intersection
    // join) — stage it once; the corpus-side explode stays lazy on purpose
    // (at decontamination scale, re-running a map-side scan is cheaper
    // than materializing a corpus-sized shingle table)
    val pf = probe.select(col(probeId).as("probe_id"),
      explode(shingleHashes(col(probeText), n)).as("shingle_h"))
      .join(broadcast(hot), Seq("shingle_h"), "left_anti")
      .localCheckpoint()
    val np = pf.groupBy("probe_id").agg(count(lit(1)).as("np"))
    val inter = cf.join(broadcast(pf), Seq("shingle_h"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .groupBy("probe_id", "corpus_id").agg(count(lit(1)).as("inter"))
    inter.join(broadcast(np), Seq("probe_id"))
      .withColumn("containment", col("inter").cast("double") / col("np"))
      .filter(col("containment") >= threshold)
      .select(col("probe_id"), col("corpus_id"), round(col("containment"), 6).as("containment"))
  }

  /**
   * Winnowing fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing: Local
   * Algorithms for Document Fingerprinting", SIGMOD 2003) — the
   * SUBSTRING-level dedup signal the document-level operators above can't
   * give: any shared token run of length >= w+k-1 between two documents is
   * GUARANTEED to share at least one selected fingerprint (the winnowing
   * coverage property), which is the detector for copied passages inside
   * otherwise-different documents (Lee et al. 2022's exact-substring dedup
   * family, at fingerprint rather than suffix-array cost).
   *
   * Per document: positional word k-grams (the [[graft.functions.Kernels]]
   * linear `word_ngrams` pass), each hashed to a 60-bit md5 prefix, then
   * every window of `w` consecutive gram hashes selects its MINIMUM — the
   * distinct selected hashes are the document's fingerprints. The md5
   * prefix (15 lowercase hex chars) is engine-portable: lexicographic
   * order equals numeric order, so a SQL oracle replays the selection
   * byte-for-byte. A document with fewer than w grams (but >= 1) yields
   * one fingerprint — the min over all its grams — so every document with
   * >= k tokens is represented.
   *
   * Scale: selection is one codegen'd column pass per row, O(len·w) —
   * nothing shuffles until the (doc_id, fingerprint) explode, and the
   * expected fingerprint density is 2/(w+1) of the grams (the paper's
   * bound), so the exploded table is a w-fold reduction of the shingle
   * table the Jaccard path would ship.
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    // one codegen'd pass per row (winnow_fps kernel); value-identical to
    // the gram->md5-prefix->window-min column formulation (parity spec in
    // KernelSpecs), which allocated every gram/hex string and a w-slice
    // array per window
    df.select(col(idCol).as("doc_id"),
      explode(graft.functions.GraftFunctions.winnow_fps(col(textCol), k, w)).as("fp"))
  }

  /**
   * Substring-overlap candidate pairs over winnowing fingerprints: all
   * (a, b), a < b, sharing >= `threshold` of the smaller document's
   * fingerprint set (max-containment — the right normalization for a short
   * passage pasted into a long document). `maxFpFreq` (0 = off) is the
   * df-cut: a fingerprint present in more than F documents is boilerplate
   * and is dropped from BOTH the evidence and the denominators, bounding
   * the self-join fan-out to F² per fingerprint at web scale.
   */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, threshold: Double = 0.5,
      maxFpFreq: Long = 0L): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
    val hot = fps.groupBy("fp").count()
      .filter(col("count") > (if (maxFpFreq <= 0) Long.MaxValue else maxFpFreq))
      .select("fp")
    // post-cut fingerprint count per doc rides ON the cut rows (windowed
    // count over the doc — one exchange the self-join needs anyway keys
    // differently, so a per-doc aggregate + pair-table joins would
    // re-shuffle the PAIR table twice; the q26 treatment instead: attach
    // the denominator to the rows before the heavy join). NOTE the
    // denominator here is the post-df-cut count (unlike q26's pre-cut
    // set size), so it is derived by a window over the cut table, not
    // size() of the kernel array.
    val w2 = Window.partitionBy("doc_id")
    val cut = fps.join(broadcast(hot), Seq("fp"), "left_anti")
      .withColumn("nfp", count(lit(1)).over(w2))
      .localCheckpoint() // feeds both self-join sides
    val shared = cut.select(col("doc_id").as("a"), col("nfp").as("_na"), col("fp"))
      .join(cut.select(col("doc_id").as("b"), col("nfp").as("_nb"), col("fp")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b", "_na", "_nb").agg(count(lit(1)).as("shared"))
    shared
      .withColumn("overlap",
        col("shared").cast("double") / least(col("_na"), col("_nb")))
      .filter(col("overlap") >= threshold)
      .select(col("a"), col("b"), col("shared"), round(col("overlap"), 6).as("overlap"))
  }

  /**
   * MinHash + LSH candidate generation and verification:
   *  1. signature (numBands * rowsPerBand mixers);
   *  2. band hashes -> bucket join (same band+hash => candidate pair);
   *  3. verify candidates with exact Jaccard;
   * returns (a, b, jaccard) for verified pairs >= threshold.
   * Only candidate pairs are verified — the quadratic join never happens.
   */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, numBands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // one staged projection: the shingle-hash array feeds BOTH the banding
    // kernel and the exact-Jaccard verify (no re-tokenization, and the
    // verify intersects 8-byte longs, not shingle strings); localCheckpoint
    // (not cache) so the staged blocks are reclaimed with the plan, not
    // pinned until an external clearCache()
    val hashed = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), n).as("_shh")).localCheckpoint()
    // band buckets in ONE codegen'd kernel pass per document (the former
    // shape — numHashes array transforms + string-concat band folds — spent
    // q27's whole budget allocating intermediate signature arrays)
    val bands = hashed.select(col("id"), posexplode(
      graft.functions.GraftFunctions.minhash_bands(col("_shh"), numBands, rowsPerBand))
      .as(Seq("band", "bucket")))
    val l = bands.select(col("id").as("a"), col("band"), col("bucket"))
    val r = bands.select(col("id").as("b"), col("band"), col("bucket"))
    val candidates = l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
    // verify with exact jaccard (over the hashed shingle sets) on the
    // candidate set only
    val sh = hashed.select(col("id"), col("_shh").as("sh"))
    candidates
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /**
   * Connected components over a near-dup PAIR table — the final step of a
   * dedup pipeline: pairs (from any detector above) become clusters, and
   * [[keepClusterRepresentatives]] keeps one canonical document per
   * cluster. Min-label propagation with POINTER JUMPING: each round every
   * node takes the min of (its label, its neighbors' labels, its label's
   * label). The neighbor step alone needs O(diameter) rounds (bad on
   * chain-shaped dup graphs); the label-of-label step halves pointer
   * chains like union-find path compression, giving O(log n) rounds on
   * any graph. Each round is two bounded shuffles over the (small) label
   * table + one over the edge list; iteration stops at a fixpoint
   * (counted, not assumed). Labels are staged per round with
   * localCheckpoint so the loop never grows a lineage tree.
   *
   * Returns (id, cluster) for every id appearing in `pairs`; the cluster
   * label is the component's minimum id.
   */
  def nearDupClusters(
      pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIter: Int = 20, maxDriverEdges: Long = 1L << 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .localCheckpoint()
    // Small-graph short-circuit (the broadcast-join principle applied to
    // component labeling): a pair table under `maxDriverEdges` rows is
    // control-plane sized — union-find on the driver replaces ~log(n)
    // rounds of join+checkpoint+count jobs whose cost is all fixed
    // scheduling overhead at this size. The result is value-identical to
    // the fixpoint loop (cluster = exact min id of the component). Only
    // integral ids take this path (driver min must equal Spark's ordering);
    // larger tables — the 100 TB case — run the distributed loop below.
    // The edge count is a metadata-cheap job: edges were just checkpointed.
    val idTypeOk = edges.schema("u").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    if (idTypeOk && maxDriverEdges > 0 && edges.count() <= maxDriverEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val idType = edges.schema("u").dataType
      val rows = edges.select(col("u").cast("long"), col("v").cast("long"))
        .collect()
      // malformed input (null ids) takes the distributed loop below rather
      // than NPE-ing the driver path — the detectors never emit nulls, but
      // the operator is public API
      if (!rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
      val es = rows.map(r => (r.getLong(0), r.getLong(1)))
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != r) {
          val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
        }
        r
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        // union by MIN root so the final root IS the component minimum
        if (ru < rv) parent.put(rv, ru)
        else if (rv < ru) parent.put(ru, rv)
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      return nodes.toSeq.sorted.map(id => (id, find(id))).toDF("id", "cluster")
        .select(col("id").cast(idType), col("cluster").cast(idType))
      }
    }
    // init = round 1 folded into one aggregation: with labels initialized
    // to the node id, the first neighbor-min round computes exactly
    // least(id, min(neighbor id)) and the pointer jump is the identity —
    // so start the loop FROM that state and save a full round of
    // join+checkpoint+count jobs (edges are symmetric, so every node
    // appears as `u` and the groupBy covers all of them)
    var labels = edges.groupBy(col("u").as("id"))
      .agg(min(col("v")).as("_nbr"))
      .select(col("id"), least(col("id"), col("_nbr")).as("cluster"))
      .localCheckpoint()
    var iter = 1
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor min: the smallest label adjacent to each node
      val nbr = edges.join(labels.withColumnRenamed("id", "v"), Seq("v"))
        .groupBy(col("u").as("id")).agg(min("cluster").as("nbr_min"))
      // pointer jump: the label of my label
      val hop = labels.select(col("id").as("jid"), col("cluster").as("jump_min"))
      val next = labels
        .join(nbr, Seq("id"), "left")
        .join(hop, labels("cluster") === hop("jid"), "left")
        .select(col("id"),
          least(col("cluster"),
            coalesce(col("nbr_min"), col("cluster")),
            coalesce(col("jump_min"), col("cluster"))).as("cluster"),
          (col("cluster") =!= least(col("cluster"),
            coalesce(col("nbr_min"), col("cluster")),
            coalesce(col("jump_min"), col("cluster")))).as("_changed"))
        .localCheckpoint()
      converged = next.filter(col("_changed")).limit(1).count() == 0
      labels = next.drop("_changed")
      iter += 1
    }
    // truncated labels would make keepClusterRepresentatives silently
    // under-delete (a split component keeps several "representatives") —
    // fail loudly instead; pointer jumping converges in O(log n) rounds,
    // so the default budget covers any realistic component
    require(converged,
      s"nearDupClusters did not converge within $maxIter rounds — raise maxIter")
    labels
  }

  /** One canonical row per near-dup cluster: drops every row whose id maps
    * to a cluster label other than itself (rows never seen in a pair are
    * their own cluster and are kept). */
  def keepClusterRepresentatives(
      df: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    df.join(
      clusters.filter(col("id") =!= col("cluster")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** The COMPOSED dedup pipeline, corpus in -> deduplicated corpus out:
    * exact n-gram Jaccard pairs (df-cut bounded) -> transitive clusters ->
    * one canonical document per cluster. Each stage is the scale-shaped
    * operator above; this is the one-call form a training-data pipeline
    * actually invokes. */
  def dedupCorpus(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleFreq: Long = 0L): DataFrame =
    keepClusterRepresentatives(df, idCol,
      nearDupClusters(ngramJaccardPairs(df, idCol, textCol, n, threshold, maxShingleFreq)))

  /**
   * Cross-corpus MinHash near-dup detection — the incremental-ingest gate:
   * screen a NEW batch (a crawl wave, a vendor drop, a benchmark set)
   * against the EXISTING corpus without the within-corpus self-join.
   * Same LSH economics as [[minhashLshPairs]] — candidates exist only
   * where a band collides across the two sides — but the band join is
   * batch×corpus, so its cost scales with the batch, not the corpus².
   *
   * PORTABLE variant: each shingle is digested ONCE (md5), and
   * "permutation" p orders shingles by the p-th non-overlapping
   * 5-hex-char window of that digest (lexicographic = numeric order on
   * fixed-width lowercase hex — the [[winnowFingerprints]] trick), so a
   * SQL oracle replays signature, banding, candidate set, and verify
   * byte-for-byte at ONE digest per shingle instead of `perms`. The
   * windows are disjoint slices of a strongly mixing digest —
   * independent enough for LSH recall, and recall is deterministic and
   * identical in both engines regardless. The band keys are computed by
   * the one-pass `md5_minhash_bands` kernel — value-identical to the
   * substring(md5(shingle)) column chain a SQL engine replays (spec:
   * RetrievalSpec kernel-parity test), so the driver's DuckDB gate checks
   * it value-exact at kernel speed. The pure-throughput sibling of the
   * same shape is [[minhashLshPairs]]'s `minhash_bands` over 8-byte
   * xxhash64 keys.
   *
   * Returns (batch_id, corpus_id, jaccard) for verified pairs ≥ threshold.
   */
  def crossCorpusMinhashPairs(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      n: Int = 3, perms: Int = 6, bands: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(perms % bands == 0, s"perms ($perms) must divide into bands ($bands)")
    require(perms * 5 <= 32, s"at most 6 md5 5-hex-char windows, got $perms")
    // band keys via the one-pass md5-MinHash kernel (value-identical to
    // the substring(md5(shingle)) column chain the DuckDB oracle replays;
    // the chain form paid 4x here — InferFiltersFromGenerate copies the
    // generator child into a vacuous size>0 filter under the explode, so
    // every md5 ran twice and the six per-perm window arrays materialized)
    def bandKeys(df: DataFrame, as: String): DataFrame = df.select(
      col(idCol).as(as),
      posexplode(graft.functions.GraftFunctions.md5_minhash_bands(
        col(textCol), n, perms, bands)).as(Seq("band", "key")))
    // only BATCH-scaled frames materialize: the batch prep (feeds the band
    // join and the verify — text rides along so the band keys derive from
    // the SAME snapshot as the verify shingles, not a second evaluation of
    // a possibly non-deterministic input plan) and the candidate pair
    // table (feeds the semi-join probe and the final join). The corpus
    // streams map-side through the band join — broadcast the batch band
    // keys explicitly: the batch is the small side BY CONTRACT (an
    // incoming batch screened against the corpus), and without the hint
    // Catalyst sees unknown stats on the checkpointed side and builds
    // against the CORPUS. The corpus IS scanned twice (band keys, then
    // candidate shingles) — it must be a deterministic source (a stored
    // table), which is the operator's contract at corpus scale anyway.
    val b = batch.select(col(idCol).as("batch_id"), col(textCol),
        shingles(col(textCol), n).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .localCheckpoint()
    val cBands = bandKeys(corpus, "corpus_id")
    val bBands = b.select(col("batch_id"),
      posexplode(graft.functions.GraftFunctions.md5_minhash_bands(
        col(textCol), n, perms, bands)).as(Seq("band", "key")))
    val cands = cBands.join(broadcast(bBands), Seq("band", "key"))
      .select("batch_id", "corpus_id").distinct()
      .localCheckpoint()
    // exact-Jaccard verify over the candidates only; the intersection
    // joins on 8-byte xxhash64 keys — shingle STRINGS never shuffle (the
    // q26/q27 treatment; the oracle intersects the strings themselves,
    // equal modulo 64-bit collisions)
    val bSh = b.select(col("batch_id"), size(col("_sh")).as("_nb"),
        explode(col("_sh")).as("_ss"))
      .select(col("batch_id"), col("_nb"), xxhash64(col("_ss")).as("_s"))
    val candCorpus = broadcast(cands.select("corpus_id").distinct())
    val cSh = corpus.select(col(idCol).as("corpus_id"), col(textCol))
      .join(candCorpus, Seq("corpus_id"), "left_semi")
      .select(col("corpus_id"), shingles(col(textCol), n).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .select(col("corpus_id"), size(col("_sh")).as("_nc"),
        explode(col("_sh")).as("_ss"))
      .select(col("corpus_id"), col("_nc"), xxhash64(col("_ss")).as("_s"))
    // the verify joins keep the CORPUS-scale side (cSh) streaming; only
    // frames bounded by the batch contract are broadcast — the candidate
    // PAIR LIST and the batch shingle hashes, each individually small.
    // The (cands x batch shingles) product is never materialized or
    // broadcast (its size scales with candidate fan-out, not the batch):
    // corpus shingle rows pick up their candidate batch_ids map-side from
    // the broadcast pair list, then intersect against the broadcast batch
    // hashes — two BHJs + the final aggregation exchange, no sort-merge
    cSh
      .join(broadcast(cands), Seq("corpus_id"))
      .join(broadcast(bSh), Seq("batch_id", "_s"))
      .groupBy("batch_id", "corpus_id", "_nb", "_nc")
      .agg(count(lit(1)).as("_i"))
      .withColumn("jaccard", round(col("_i").cast("double") /
        (col("_nb") + col("_nc") - col("_i")), 6))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /**
   * 64-bit SimHash over word tokens (computed in [[graft.functions.Kernels]]
   * as a codegen'd static call). Near-dup pairs = hamming distance <= maxDist,
   * found by probing permuted prefixes (here: 4 rotations as block keys —
   * pairs within distance <= 3 collide on at least one 16-bit block).
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.simhash64(col(textCol)).as("sig"))
    // 4 blocks of 16 bits: by pigeonhole, hamming<=3 pairs share >=1 block
    val blocks = sigs.select(col("id"), col("sig"), posexplode(array(
      (0 until 4).map(b => shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*
    )).as(Seq("block", "key")))
    val l = blocks.select(col("id").as("a"), col("sig").as("siga"), col("block"), col("key"))
    val r = blocks.select(col("id").as("b"), col("sig").as("sigb"), col("block"), col("key"))
    l.join(r, Seq("block", "key")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("siga").bitwiseXOR(col("sigb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
