package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup keeps one winner per distinct text") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
    val distinctTexts = docs.select("text").distinct().count()
    assert(out.count() === distinctTexts)
  }

  test("fingerprint dedup: keep flag marks exactly one row per fingerprint") {
    val fp = Dedup.fingerprintDedup(docs, "doc_id", "text")
    val perFp = fp.filter(col("keep")).groupBy("fingerprint").count()
      .agg(max("count")).as[Long].head()
    assert(perFp === 1L)
    assert(fp.count() === docs.count())
  }

  test("shingle-hash kernel is value-identical to hashing the shingle strings") {
    // the byte-level kernel must emit exactly xxhash64(concat_ws(' ',
    // slice(tokens, i, n))) over array_distinct'd shingles — same values,
    // same first-occurrence order — on real corpus text and edge cases
    val texts = docs.select("text").as[String].take(50).toSeq ++ Seq(
      "  leading and   multi space", "한국어 토큰 혼합 English words here",
      "one two", "one two three", "a a a a a", "")
    val df = texts.toDF("text")
    val viaStrings = df.select(
      transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)).as("h"))
      .as[Seq[Long]].collect().toSeq
    val viaKernel = df.select(
      graft.functions.GraftFunctions.shingle_hash64(col("text"), 3).as("h"))
      .as[Seq[Long]].collect().toSeq
    assert(viaKernel === viaStrings)
    // the SQL registration resolves to the same kernel
    df.createOrReplaceTempView("shingle_docs")
    val viaSql = spark.sql(
      "SELECT shingle_hash64(text, 3) AS h FROM shingle_docs")
      .as[Seq[Long]].collect().toSeq
    assert(viaSql === viaStrings)
    assert(spark.sql("SELECT size(minhash_bands(shingle_hash64(text, 3), 16, 4)) " +
      "FROM shingle_docs").as[Int].collect().forall(_ == 16))
  }

  test("word 1-grams are exactly the whitespace tokens (tokensK parity)") {
    val texts = docs.select("text").as[String].take(100).toSeq ++ Seq(
      null, "", "   \t\n\f\r ", "  leading and   multi space  ",
      "한국어 토큰 혼합 English words here", "MiXeD CaSe TEXT", "a😀b c",
      "one", "one two three")
    val df = texts.toDF("text")
    val viaColumns = df.select(Dedup.tokens(col("text")).as("t"))
      .collect().map(r => Option(r.getSeq[String](0)).map(_.toList)).toSeq
    val viaKernel = df.select(TextAnalysis.tokensK(col("text")).as("t"))
      .collect().map(r => Option(r.getSeq[String](0)).map(_.toList)).toSeq
    assert(viaKernel === viaColumns)
  }

  test("winnow_fps kernel is value-identical to the gram/md5/window-min column formulation") {
    val texts = docs.select("text").as[String].take(50).toSeq ++ Seq(
      "  leading and   multi space", "한국어 토큰 혼합 English words here",
      "one two three", "one two three four", "a a a a a a a a", "")
    val df = texts.toDF("text")
    val (k, w) = (4, 4)
    val grams = graft.functions.GraftFunctions.word_ngrams(col("text"), k)
    val hashes = transform(grams, g => substring(md5(g), 1, 15))
    val viaColumns = df.select(
      when(size(hashes) < 1, array().cast("array<string>"))
        .otherwise(array_distinct(
          transform(sequence(lit(1), greatest(size(hashes) - (w - 1), lit(1))),
            j => array_min(slice(hashes, j, lit(w)))))).as("fp"))
      .as[Seq[String]].collect().toSeq
    val viaKernel = df.select(
      graft.functions.GraftFunctions.winnow_fps(col("text"), k, w).as("fp"))
      .as[Seq[String]].collect().toSeq
    assert(viaKernel === viaColumns)
    df.createOrReplaceTempView("winnow_docs")
    val viaSql = spark.sql("SELECT winnow_fps(text, 4, 4) AS fp FROM winnow_docs")
      .as[Seq[String]].collect().toSeq
    assert(viaSql === viaColumns)
  }

  test("minhash LSH pairs achieve >=90% recall of exact jaccard pairs at 0.5") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.5,
      numBands = 32, rowsPerBand = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture corpus must contain near-dup pairs")
    // LSH never invents pairs (candidates are verified with exact jaccard)
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= (exact.size * 0.9).toInt, s"recall ${lsh.size}/${exact.size}")
  }

  test("near-dup clusters: transitive components, chain convergence, representative keep") {
    // two chains and one isolated pair — clusters must close transitively
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("a", "b")
    val cl = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cl === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
    // keep one canonical doc per cluster; unpaired docs survive untouched
    val corpus = (1L to 14L).toDF("doc_id")
    val kept = Dedup.keepClusterRepresentatives(
      corpus, "doc_id", Dedup.nearDupClusters(pairs))
      .as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 5L, 7L, 8L, 9L, 10L, 14L))
    // a 40-node path graph: the worst case for plain min-label (needs 39
    // neighbor rounds); pointer jumping must converge within maxIter=20.
    // maxDriverEdges=0 forces the DISTRIBUTED loop so this keeps covering
    // the at-scale path now that small tables short-circuit to the driver
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val chainCl = Dedup.nearDupClusters(chain, maxIter = 20, maxDriverEdges = 0)
      .as[(Long, Long)].collect()
    assert(chainCl.forall(_._2 == 1L), chainCl.filter(_._2 != 1L).take(5).mkString(","))
  }

  test("nearDupClusters: driver union-find short-circuit equals the distributed fixpoint loop") {
    // chains, a star, an isolated pair, duplicate + reversed edges — the
    // two paths must label every component with the same minimum id
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 5L), (9L, 6L), (9L, 7L),
      (20L, 21L), (2L, 1L), (1L, 2L), (30L, 31L), (31L, 32L), (30L, 32L)))
      .toDF("a", "b")
    val viaDriver = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().sorted.toSeq
    val viaLoop = Dedup.nearDupClusters(pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(viaDriver === viaLoop)
    assert(viaDriver.toMap.apply(7L) === 5L) // star rooted at its min member
  }

  test("hyperplane-sigs kernel is value-identical to the per-bit column construction") {
    // the one-pass kernel must reproduce the HOF fold's hash chain and
    // accumulation order exactly — same buckets, bit for bit
    val bits = 8; val tables = 8
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("_v"))
    val kernel = v.select(col("vec_id"),
      graft.functions.GraftFunctions.hyperplane_sigs(col("_v"), bits, tables).as("sigs"))
    val reference = v.select(col("vec_id"),
      array((0 until tables).map(t =>
        ColumnReferences.hyperplaneSignature(col("_v"), bits, t * 7919L + 13L)): _*).as("sigs"))
    val a = kernel.orderBy("vec_id").as[(Long, Seq[Long])].collect().toSeq
    val b = reference.orderBy("vec_id").as[(Long, Seq[Long])].collect().toSeq
    assert(a === b)
  }

  test("IVF training is sample-bounded: a tiny training cap still serves exact full-probe results") {
    // exactness of nprobe == nlist is independent of centroid quality —
    // only the training cost changes. trainPerList = 1 caps Lloyd at
    // nlist vectors, the 10^10-corpus regime in miniature.
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rk", "neighbor_id").orderBy("query_id", "rk")
        .collect().map(_.mkString("|")).toSeq
    val q = emb.limit(5)
    val full = key(Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 8, trainPerList = 1))
    val brute = key(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5))
    assert(full === brute)
  }

  test("embedding-dedup corpus: dropped rows are exactly the non-representative cluster members") {
    val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4)
    val clusters = Dedup.nearDupClusters(pairs)
    val kept = Similarity.dedupCorpusByEmbedding(emb, "vec_id", "embedding", 0.4,
      Similarity.PairStage.Exact())
    val dropped = emb.select("vec_id")
      .join(kept.select("vec_id"), Seq("vec_id"), "left_anti")
    val nonReps = clusters.filter(col("id") =!= col("cluster"))
    assert(dropped.count() === nonReps.count())
    assert(dropped.join(nonReps.select(col("id").as("vec_id")), Seq("vec_id"), "left_anti")
      .count() === 0)
    // every cluster keeps exactly its minimum id
    assert(kept.join(clusters.filter(col("id") === col("cluster"))
      .select(col("id").as("vec_id")), Seq("vec_id"), "left_semi").count() ===
      clusters.select("cluster").distinct().count())
  }

  test("composed embedding dedup: sub-quadratic pair stages match the exact pipeline") {
    // planted near-dups: 30 well-separated base vectors, each with a clone
    // at cosine ≈ 0.999 — the high-threshold regime where hyperplane-LSH
    // recall ≈ 1. Deterministic (seeded + hash-based LSH), so the equality
    // is stable, not probabilistic at run time.
    val rnd = new scala.util.Random(42)
    val rows = (0 until 30).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian())
      val clone = base.map(x => x + rnd.nextGaussian() * 0.01)
      Seq((i.toLong * 2, base.toSeq), (i.toLong * 2 + 1, clone.toSeq))
    }
    val planted = rows.toDF("vec_id", "embedding")
    val exact = Similarity.dedupCorpusByEmbedding(planted, "vec_id", "embedding", 0.9,
      Similarity.PairStage.Exact())
      .select("vec_id").as[Long].collect().toSet
    val lsh = Similarity.dedupCorpusByEmbedding(planted, "vec_id", "embedding", 0.9,
      Similarity.PairStage.Lsh(bitsPerTable = 8, tables = 16))
      .select("vec_id").as[Long].collect().toSet
    assert(exact.size === 30, "each clone pair must collapse to one kept row")
    assert(lsh === exact)
    // the clustered stage reproduces semanticDedup's kept set on the
    // fixture corpus (same assignment, same within-cluster pair semantics)
    val assign = Similarity.kmeansClusters(emb, "vec_id", "embedding", k = 8, iters = 3)
    val viaStage = Similarity.dedupCorpusByEmbedding(emb, "vec_id", "embedding", 0.4,
      Similarity.PairStage.Clustered(assign = Some(assign)))
      .select("vec_id").as[Long].collect().toSet
    val viaSem = Similarity.semanticDedupFrom(emb, "vec_id", "embedding", assign, 0.4)
      .select("vec_id").as[Long].collect().toSet
    assert(viaStage === viaSem)
  }

  test("quality filter keeps exactly the rows inside the feature envelope") {
    val kept = TextAnalysis.qualityFilter(docs, "text")
    val feats = docs.select(col("doc_id"),
      TextAnalysis.qualityFeatures(col("text")).as("q"))
    val expected = feats.filter(col("q.n_tokens").between(20, 100000) &&
      col("q.punct_ratio") <= 0.3 && col("q.stopword_ratio") >= 0.02 &&
      col("q.mean_word_len").between(2.0, 5.0))
    assert(kept.select("doc_id").as[Long].collect().toSet ===
      expected.select("doc_id").as[Long].collect().toSet)
    assert(kept.count() > 0 && kept.count() < docs.count(),
      "the gate must actually discriminate on the fixture corpus")
    assert(kept.columns.toSeq === docs.columns.toSeq) // passthrough schema
  }

  test("quality-gate kernel is decision-identical to the struct-field filter") {
    // adversarial inputs: threshold-exact ratios (mean len 2.0 / 5.0,
    // punct 0.3, stopword 0.02), empty/whitespace/null text, non-ASCII
    // and surrogate-pair tokens, mixed case, every whitespace class
    val toks20 = (1 to 20).map(i => f"w$i%02d") // 20 tokens of len 3-4
    val edge = Seq(
      null.asInstanceOf[String], "", "   \t\n\f\r ",
      "the " * 25,                               // stopwords only, len 3
      ("ab " * 50).trim,                         // mean exactly 2.0
      ("abcde " * 50).trim,                      // mean exactly 5.0
      ("abcdef " * 50).trim,                     // mean 6.0 (fails)
      "the " + ("ab.c " * 19).trim,              // punct near the cap
      "The AND Of IS " + toks20.mkString(" "),   // case-folded stopwords
      "the " + ("한글 " * 30).trim,               // non-ASCII lengths
      "the " + ("a😀b " * 30).trim,    // surrogate pairs
      "of " + (".. " * 10) + toks20.mkString(" "),
      "the  a \t of\nand\rto  " + toks20.mkString("  "),
      (toks20 ++ Seq("the")).mkString(" ") + " !!!")
    val fuzz = (0 until 500).map { i =>
      val r = new scala.util.Random(i)
      (0 until (r.nextInt(40) + 1)).map { _ =>
        val len = r.nextInt(7) + 1
        val base = (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
        val p = r.nextInt(10)
        if (p == 0) "the" else if (p == 1) base + "." else base
      }.mkString(" ")
    }
    val df = (edge ++ fuzz).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val viaKernel = TextAnalysis.qualityFilter(df, "text")
      .select("doc_id").as[Long].collect().toSet
    val viaColumns = ColumnReferences.qualityFilterColumns(df, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(viaKernel === viaColumns)
    assert(viaKernel.nonEmpty)
    // permissive thresholds: zero-token documents carry mean_word_len 0.0
    // in the reference struct and must be ADMITTED when every floor is 0
    val loose = (d: org.apache.spark.sql.DataFrame) =>
      TextAnalysis.qualityFilter(d, "text", minTokens = 0,
        minStopwordRatio = 0.0, minMeanWordLen = 0.0)
    val looseRef = (d: org.apache.spark.sql.DataFrame) =>
      ColumnReferences.qualityFilterColumns(d, "text", minTokens = 0,
        minStopwordRatio = 0.0, minMeanWordLen = 0.0)
    assert(loose(df).select("doc_id").as[Long].collect().toSet ===
      looseRef(df).select("doc_id").as[Long].collect().toSet)
    assert(loose(Seq((0L, "")).toDF("doc_id", "text")).count() === 1L)
  }

  test("PQ kernels are value-identical to the HOF column chains") {
    import graft.functions.GraftFunctions
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val m = 8
    val dsub = dim / m
    // codebook: 16 centroids per subspace from the first corpus vectors
    val cbRows = emb.orderBy("vec_id").limit(16)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    val codebook: Seq[Seq[Seq[Double]]] = (0 until m).map(s =>
      cbRows.toSeq.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    val subvecsOf = (vc: org.apache.spark.sql.Column) =>
      transform(sequence(lit(0), lit(m - 1)), s => slice(vc, s * dsub + 1, lit(dsub)))
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("_v"))
      .withColumn("_svs", subvecsOf(col("_v")))
      .crossJoin(broadcast(Seq(Tuple1(codebook)).toDF("_cb")))
    // HOF reference formulations (the pre-kernel shapes)
    val ref = base
      .withColumn("_codes", zip_with(col("_svs"), col("_cb"), (sv, cents) => {
        val dists = transform(cents, c =>
          aggregate(zip_with(sv, c, (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x))
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }))
      .withColumn("_rnorm2", aggregate(
        zip_with(col("_codes"), col("_cb"), (code, cents) =>
          aggregate(element_at(cents, code + 1), lit(0.0), (acc, x) => acc + x * x)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("_tabs", zip_with(col("_svs"), col("_cb"), (qs, cents) =>
        transform(cents, c => aggregate(zip_with(qs, c, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))))
      .withColumn("_dot", aggregate(
        zip_with(col("_codes"), col("_tabs"),
          (code, tab) => element_at(tab, code + 1)),
        lit(0.0), (acc, x) => acc + x))
      .select("vec_id", "_codes", "_rnorm2", "_tabs", "_dot")
    val ker = base
      .withColumn("_codes", GraftFunctions.pq_encode(col("_svs"), col("_cb")))
      .withColumn("_rnorm2", GraftFunctions.pq_recon_norm2(col("_codes"), col("_cb")))
      .withColumn("_tabs", GraftFunctions.pq_dot_tables(col("_svs"), col("_cb")))
      .withColumn("_dot", GraftFunctions.pq_adc(col("_codes"), col("_tabs")))
      .select("vec_id", "_codes", "_rnorm2", "_tabs", "_dot")
    val r = ref.orderBy("vec_id").collect()
    val k2 = ker.orderBy("vec_id").collect()
    assert(r.length === k2.length && r.nonEmpty)
    r.zip(k2).foreach { case (a, b) =>
      assert(a.getSeq[Int](1) === b.getSeq[Int](1), s"codes differ at ${a.get(0)}")
      assert(a.getDouble(2) === b.getDouble(2), s"rnorm2 differs at ${a.get(0)}")
      assert(a.getSeq[Seq[Double]](3) === b.getSeq[Seq[Double]](3),
        s"tabs differ at ${a.get(0)}")
      assert(a.getDouble(4) === b.getDouble(4), s"adc differs at ${a.get(0)}")
    }
  }

  test("simhash pairs are symmetric-free and within hamming bound") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
      assert(r.getAs[Int]("hamming") <= 3)
    }
  }

  test("LSH ANN achieves >=70% top-5 recall of brute force on the fixture corpus") {
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5,
      bitsPerTable = 4, tables = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.7, s"ANN recall $recall")
  }

  test("IVF ANN: full probe equals brute force exactly; partial probe keeps useful recall") {
    val q = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
    val brute = key(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5))
    // nprobe == nlist scans every bucket -> must match brute force exactly
    val full = key(Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 8))
    assert(full === brute)
    // partial probe: candidates only from probed buckets, exact rerank
    val part = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bruteIds = brute.map { case (a, b, _) => (a, b) }
    val recall = (part intersect bruteIds).size.toDouble / bruteIds.size
    assert(recall >= 0.3, s"IVF nprobe=3/8 recall $recall") // random-vector fixture: bucket margins are thin
    assert(part.size === bruteIds.size) // still returns a full top-k per query
  }

  test("IVF ANN at production nlist=256 on sf0.1: full probe still equals brute force") {
    val emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = emb01.filter(col("vec_id") < 5)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
    val brute = key(Similarity.bruteForceTopK(emb01, q, "vec_id", "embedding", 5))
    val full = key(Similarity.ivfTopK(emb01, q, "vec_id", "embedding", 5,
      nlist = 256, nprobe = 256, iters = 1))
    assert(full === brute)
  }

  test("PQ ANN: rerank >= corpus degrades to exact brute force") {
    val q = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rk", "neighbor_id", "sim")
        .orderBy("query_id", "rk").collect().map(_.mkString("|")).toSeq
    val pq = key(Similarity.pqTopK(emb, q, "vec_id", "embedding", 5,
      m = 8, ksub = 16, rerank = 1000000))
    val brute = key(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5))
    assert(pq === brute)
  }

  test("PQ ANN keeps useful top-5 recall at a practical rerank budget") {
    // rerank=50 of a 500-vector corpus: ADC tables must place true
    // neighbors in the approximate top-10%
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb, q, "vec_id", "embedding", 5,
      m = 8, ksub = 16, rerank = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.6, s"PQ recall $recall")
  }

  test("PQ ANN rejects a subspace count that does not divide the dimension") {
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, emb.limit(1), "vec_id", "embedding", 5, m = 7)
    }
    assert(e.getMessage.contains("not divisible"))
  }

  test("brute-force ANN self-consistency: top-1 neighbor of a duplicated vector is itself") {
    val dup = emb.limit(3).withColumn("vec_id", col("vec_id") + 1000000)
    val out = Similarity.bruteForceTopK(emb.unionByName(dup), dup, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    out.foreach { case (q, n) => assert(n === q - 1000000) }
  }

  test("tile-join near-dup pairs are exact: block-count invariant and equal to naive all-pairs") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "sim").as[(Long, Long, Double)].collect().toSet
    val tiled8 = key(Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4, blocks = 8))
    val tiled3 = key(Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4, blocks = 3))
    assert(tiled8 === tiled3) // tiling is a pure execution strategy
    // naive all-pairs reference computed on the driver
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i); i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val naive = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.size
      s = cos(vecs(i)._2, vecs(j)._2) if s >= 0.4
    } yield (vecs(i)._1, vecs(j)._1, BigDecimal(s).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(tiled8 === naive)
  }

  test("LSH near-dup pairs: recall 1.0 on true near-dups at high threshold, never invents pairs") {
    // planted near-dups: a scaled copy has cosine exactly 1.0 with its source,
    // and an identical direction means identical hyperplane signatures — the
    // LSH candidate stage finds every planted pair deterministically
    val planted = emb.limit(20)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.001f)))
    val corpus = emb.unionByName(planted)
    val exact = Similarity.nearDupPairs(corpus, "vec_id", "embedding", 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.nearDupPairsLsh(corpus, "vec_id", "embedding", 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 20)
    assert(lsh.subsetOf(exact)) // exact verify: no false positives
    val plantedPairs = exact.filter { case (a, b) => b == a + 1000000L }
    assert(plantedPairs.forall(lsh.contains), "LSH must recall every planted near-dup")
  }

  test("LSH dedup scales near-linearly: 50k -> 100k docs (no quadratic plan regression)") {
    // synthetic corpus with planted near-dups: doc i's text is 12 tokens
    // drawn from a per-i seed; every 200th doc is a near-copy of i-1
    // (one token changed -> high jaccard)
    def corpus(n: Int) = spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 12).map(k => concat(lit("w"),
          when(col("id") % 200 === 0 && col("id") > 0 && lit(k) < 11,
            pmod(xxhash64(col("id") - 1, lit(k)), lit(5000)))
            .otherwise(pmod(xxhash64(col("id"), lit(k)), lit(5000))))): _*).as("text"))
    def timeIt(n: Int): (Double, Long) = {
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashLshPairs(corpus(n), "doc_id", "text", 3, 0.5,
        numBands = 8, rowsPerBand = 2).count()
      ((System.nanoTime() - t0) / 1e9, pairs)
    }
    timeIt(2000) // codegen warmup
    // the wall-clock ratio is a HOST measurement on a noisy VM: a co-tenant
    // burst landing on exactly one of the two timed runs fails the bound
    // with a perfectly linear plan (observed once in a full-suite run under
    // heavy external contention). Retry the whole measurement a bounded
    // number of times; a genuinely quadratic candidate stage fails every
    // attempt, noise does not.
    val attempts = (1 to 3).iterator.map { _ =>
      val (t50, p50) = timeIt(50000)
      val (t100, p100) = timeIt(100000)
      // planted pairs are found, and doubling the corpus roughly doubles them
      assert(p50 >= 200 && p100 >= 2 * p50 - 50, s"pairs $p50 -> $p100")
      (t50, t100)
    }
    // near-linear runtime: 2x docs must stay well under the 4x a quadratic
    // candidate stage would cost (generous 3x bound for shuffle constants
    // + VM noise)
    val ok = attempts.find { case (t50, t100) => t100 <= t50 * 3.0 + 5.0 }
    assert(ok.isDefined, "minhash LSH scaled super-linearly on 3/3 attempts")
  }

  test("span explode/reassemble round-trips every document (span-sequence invariant)") {
    val spanRows = Spans.explodeSpans(Spans.nest(Spans.docsToSpanRows(docs)))
    val back = Spans.reassembleText(spanRows)
    val mismatches = back.as("b").join(docs.as("d"), "doc_id")
      .filter(col("b.text") =!= col("d.text")).count()
    assert(mismatches === 0)
    // media spans present once per doc, at the tail offset
    val media = spanRows.filter(col("kind") === "image")
    assert(media.count() === docs.count())
  }

  test("containment catches short-probe-inside-long-doc that Jaccard misses; no self pairs") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"), // long training doc
      (2L, "c d e f"),                 // eval item quoted inside doc 1
      (3L, "x y z w v u")              // unrelated
    ).toDF("doc_id", "text")
    val probe = docs.filter(col("doc_id") === 2L)
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
      probe, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().sorted
    // probe 2's two 3-gram shingles ("c d e", "d e f") both occur in doc 1
    assert(cont === Seq((2L, 1L, 1.0)))
    // the symmetric Jaccard on the same pair is 2/10 — invisible at 0.5
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    assert(jac.count() === 0)
    // directionality: with the LONG doc as probe, containment is 2/10
    val rev = Dedup.containmentPairs(docs, "doc_id", "text",
      docs.filter(col("doc_id") === 1L), "doc_id", "text", 3, 0.1)
      .as[(Long, Long, Double)].collect().sorted
    assert(rev === Seq((1L, 2L, 0.2)))
  }

  test("containment df-cut drops hot boilerplate shingles from evidence AND denominator") {
    // shingle "the same line" appears in > maxShingleFreq docs -> cut; the
    // probe keeps only its informative shingle, still fully contained
    val boiler = (10L to 14L).map(i => (i, "the same line every time"))
    val docs = (boiler ++ Seq(
      (1L, "unique alpha beta gamma the same line every time"),
      (2L, "unique alpha beta gamma"))).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      docs.filter(col("doc_id") === 2L), "doc_id", "text",
      3, 0.99, maxShingleFreq = 4L)
      .as[(Long, Long, Double)].collect().sorted
    assert(out === Seq((2L, 1L, 1.0)))
  }

  test("winnowing: coverage guarantee, per-doc floor, and planted-passage overlap") {
    // coverage property (Schleimer et al. 2003): any shared token run of
    // length >= w+k-1 tokens shares at least one selected fingerprint
    val passage = (1 to 12).map(i => s"stolen$i").mkString(" ") // 12 tokens >= w+k-1=7
    val docs = Seq(
      (1L, s"alpha beta gamma delta $passage epsilon zeta eta theta"),
      (2L, s"one two three four five six $passage seven eight nine ten"),
      (3L, "totally unrelated content with many distinct words here now"),
      (4L, "short doc")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 4)
    val byDoc = fps.groupBy("doc_id").agg(collect_set("fp").as("s"))
      .as[(Long, Seq[String])].collect().toMap
    // every doc with >= k tokens yields at least one fingerprint
    assert(Set(1L, 2L, 3L).subsetOf(byDoc.keySet))
    assert(!byDoc.contains(4L), "doc under k tokens must emit nothing")
    // docs 1 and 2 share the passage -> guaranteed common fingerprint
    assert(byDoc(1L).toSet.intersect(byDoc(2L).toSet).nonEmpty)
    // doc 3 shares no 4-gram with either -> no common fingerprint
    assert(byDoc(3L).toSet.intersect(byDoc(1L).toSet ++ byDoc(2L).toSet).isEmpty)
    // fingerprints are a subset of the gram hashes (selection, not invention)
    val nGrams = docs.select(size(graft.functions.GraftFunctions
      .word_ngrams(col("text"), 4)).as("n"), col("doc_id"))
      .as[(Int, Long)].collect().map(_.swap).toMap
    byDoc.foreach { case (id, s) => assert(s.size <= nGrams(id)) }
    // overlap pairs: exactly the planted pair survives the threshold
    val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
      k = 4, w = 4, threshold = 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("winnowing df-cut drops corpus-hot fingerprints from evidence and denominator") {
    // the same boilerplate passage in 5 docs is hot at maxFpFreq=4; two
    // docs additionally share a real passage and must still pair up
    val boiler = (1 to 10).map(i => s"footer$i").mkString(" ")
    val real = (1 to 10).map(i => s"payload$i").mkString(" ")
    val docs = (
      (10L to 12L).map(i => (i, s"filler${i}a filler${i}b filler${i}c $boiler")) ++ Seq(
        (1L, s"$real intro words $boiler"),
        (2L, s"closing remarks $real $boiler"))).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
      k = 4, w = 4, threshold = 0.3, maxFpFreq = 4L)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)),
      s"boilerplate fingerprints must not create pairs: $pairs")
  }

  test("kmeans recovers well-separated planted clusters") {
    // 3 planted centers far apart in 4-dim space, 30 points each with a
    // small deterministic wobble — Lloyd must put every point with its
    // plant, whatever the initial seeds were
    val pts = for (c <- 0 until 3; i <- 0 until 30) yield {
      val base = Array.fill(4)(0.0f)
      base(c) = 10.0f
      (c * 100L + i, base.updated(3, (i % 5) * 0.01f).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val out = Similarity.kmeansClusters(df, "vec_id", "embedding", k = 3, iters = 5)
      .as[(Long, Int, Long)].collect()
    assert(out.length === 90)
    // each plant maps to exactly one cluster label and vice versa
    val plantToCluster = out.groupBy(_._1 / 100).map { case (p, rows) =>
      p -> rows.map(_._2).distinct
    }
    assert(plantToCluster.values.forall(_.size === 1), "a plant split across clusters")
    assert(plantToCluster.values.flatten.toSet.size === 3, "plants merged into one cluster")
  }

  test("kmeans is deterministic and duplicate vectors share a cluster") {
    val a = Similarity.kmeansClusters(emb, "vec_id", "embedding", k = 4, iters = 3)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    val b = Similarity.kmeansClusters(emb, "vec_id", "embedding", k = 4, iters = 3)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq)
    assert(a.map(_._2).distinct.length === 4)
    // a duplicated vector must land in the duplicate's cluster with dist 0 tie
    val dup = emb.limit(1).withColumn("vec_id", col("vec_id") + 1000000L)
    val withDup = emb.unionByName(dup)
    val c = Similarity.kmeansClusters(withDup, "vec_id", "embedding", k = 4, iters = 3)
      .as[(Long, Int, Long)].collect()
    val orig = c.find(_._1 === emb.select("vec_id").as[Long].head()).get
    val copy = c.find(_._1 === orig._1 + 1000000L).get
    assert(orig._2 === copy._2 && orig._3 === copy._3)
  }

  test("clusterBalancedSample caps every cluster at the quota, keeps payload columns") {
    val out = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      k = 4, iters = 3, perCluster = 10)
    assert(out.columns.toSet === (emb.columns.toSet + "cluster"))
    val sizes = out.groupBy("cluster").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.forall(_ <= 10), s"quota exceeded: $sizes")
    // full clusters contribute exactly the quota; kept rows are real input rows
    val clusterSizes = Similarity.kmeansClusters(emb, "vec_id", "embedding", 4, 3)
      .groupBy("cluster").count().as[(Int, Long)].collect().toMap
    clusterSizes.foreach { case (c, n) =>
      assert(sizes.getOrElse(c, 0L) === math.min(n, 10L))
    }
    val inputIds = emb.select("vec_id").as[Long].collect().toSet
    assert(out.select("vec_id").as[Long].collect().forall(inputIds))
  }

  test("semanticDedup keeps one representative per within-cluster near-dup group") {
    // two planted semantic clusters far apart; inside each, a group of
    // near-identical vectors (cos ~ 1) plus one same-cluster vector below
    // the threshold. SemDeDup must collapse each near-dup group to its
    // min id and keep the sub-threshold vectors untouched.
    val pts = Seq(
      (0L, Seq(10.0f, 0.00f, 0f, 0f)), // near-dup group A -> keep 0
      (1L, Seq(10.0f, 0.01f, 0f, 0f)),
      (2L, Seq(10.0f, 0.02f, 0f, 0f)),
      (3L, Seq(10.0f, 3.00f, 0f, 0f)), // same cluster, cos(v0)=0.958 < 0.99
      (100L, Seq(0.00f, 10.0f, 0f, 0f)), // near-dup group B -> keep 100
      (101L, Seq(0.00f, 10.0f, 0.01f, 0f)),
      (102L, Seq(3.00f, 10.0f, 0f, 0f))) // same cluster, below threshold
    val df = pts.toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding",
      k = 2, iters = 5, threshold = 0.99)
    assert(out.columns.toSet === Set("vec_id", "embedding", "cluster"))
    val kept = out.select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(0L, 3L, 100L, 102L))
    // kept rows carry their k-means cluster label; the two groups differ
    val byCluster = out.select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(byCluster(0L) === byCluster(3L))
    assert(byCluster(100L) === byCluster(102L))
    assert(byCluster(0L) !== byCluster(100L))
    // deterministic
    val again = Similarity.semanticDedup(df, "vec_id", "embedding",
      k = 2, iters = 5, threshold = 0.99)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(again === kept)
  }

  test("kmeans survives k larger than the distinct-vector count (empty clusters)") {
    // 3 identical vectors, k=2: after the first update one centroid owns
    // everything and the other keeps its seed centroid — no crash, one
    // non-empty cluster, all points identical assignment
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f)), (3L, Seq(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansClusters(df, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Int, Long)].collect()
    assert(out.length === 3)
    assert(out.map(_._2).distinct.length === 1)
    assert(out.forall(_._3 === 0L))
  }
}
