package demo

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Consumer-style drive harness: exercises the graft library exactly as an
 * external user would (public API only). Run:
 *   sbt "Test/runMain demo.ApiDrive"
 */
object ApiDrive {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)

    // 1. SQL surface over real data
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("documents")
    spark.sql("""
      SELECT doc_id,
             url_canonicalize(concat('HTTP://Example.COM:80/view.php?b=', doc_id, '&a=1#f')) AS canon,
             url_query_param(concat('http://h/p?wr_id=', doc_id), 'wr_id') AS wr_id,
             graft_slugify(concat('Doc Title ', doc_id, ' (draft)')) AS slug,
             normalize_text(concat('  MiXeD \t', upper(substring(text, 1, 20)), '  CaFÉ ')) AS norm
      FROM documents LIMIT 3""").show(false)

    // 2. Column API + codegen check
    import graft.functions.GraftFunctions._
    val plan = docs.select(url_hash(concat(lit("https://ssu.ac.kr/b?id="), $"doc_id")).as("h"))
    plan.explain("formatted")
    println("distinct url hashes: " + plan.distinct.count)

    // 3. Merge over posts derived from real parquet
    import graft.operators.Merge
    val mkPosts = docs.limit(100).select(
      lit("site_a").as("site_id"), $"doc_id".cast("string").as("id"),
      concat(lit("http://ssu.ac.kr/p?id="), $"doc_id").as("url"),
      lit(null).cast("string").as("author"), concat(lit("T"), $"doc_id").as("title"),
      lit(null).cast("string").as("description"), array(lit("공지")).as("category"),
      to_timestamp(lit("2026-01-01 00:00:00")).as("created_at"),
      lit(null).cast("timestamp").as("updated_at"), lit(null).cast("string").as("thumbnail"),
      $"text".as("content"),
      array().cast("array<struct<url:string,name:string,mime_type:string>>").as("attachments"),
      lit(null).cast("map<string,string>").as("metadata"))
    val oldP = mkPosts.filter($"id".cast("int") < 80)
    val newP = mkPosts.filter($"id".cast("int") >= 50)
      .withColumn("content", when($"id".cast("int") < 60, concat($"content", lit(" CHANGED"))).otherwise($"content"))
    val r = Merge.mergeEntries(oldP, newP, java.sql.Timestamp.valueOf("2026-03-01 00:00:00"))
    println("merged rows: " + r.posts.count + " (expect 100)")
    r.events.groupBy("event").count.show()

    // PROBES
    spark.sql("SELECT url_canonicalize(NULL) n, url_canonicalize('not a url at all') m, url_host('???::') h").show(false)
    try spark.sql("SELECT url_resolve('only-one-arg')").show()
    catch { case e: Exception => println("ARITY ERROR: " + e.getMessage.take(160)) }
    val noop = Merge.mergeEntries(r.posts, newP.limit(0), java.sql.Timestamp.valueOf("2026-03-02 00:00:00"))
    println("noop events: " + noop.events.count + " rows kept: " + noop.posts.count)

    // 4. Crawl engine end-to-end (deterministic synthetic web)
    val crawl = graft.crawl.Crawl.run(spark, graft.crawl.Crawl.Config(scale = 100, limitPerSite = 20))
    println("crawl: posts=" + crawl.posts.count + " seen=" + crawl.seen.count +
      " waves=" + crawl.lineage.select("wave").distinct.count)
    crawl.schedule.orderBy("wave", "ready_ms", "host", "site_id", "page", "row")
      .select("wave", "host", "ready_ms", "url").show(5, false)

    // 5. Cuckoo seen-set sketch
    val hashes = crawl.seen.select($"url_hash")
    val cuckooBytes = graft.crawl.SeenSet.buildCuckoo(hashes, "url_hash", 10000)
    val fp = hashes.withColumn("m",
      graft.functions.CuckooFunctions.cuckoo_might_contain(lit(cuckooBytes), $"url_hash"))
      .filter(!$"m").count
    println("cuckoo false negatives: " + fp + " (must be 0)")

    // 6. Daemon pipeline: merge + top-K + RSS
    val out = graft.crawl.Pipeline.runDaemon(
      graft.crawl.Crawl.Config(scale = 100, limitPerSite = 20), crawl,
      graft.crawl.Pipeline.emptyCache(spark), java.sql.Timestamp.valueOf("2026-03-01 00:00:00"), topK = 10)
    println("pipeline sites with feeds: " + out.rss.count)

    // 7. Similarity: codegen'd cosine kernel (SQL + Column), exact tile
    // join vs LSH candidates
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.createOrReplaceTempView("embeddings")
    spark.sql(
      """SELECT a.vec_id, cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                            CAST(a.embedding AS ARRAY<DOUBLE>)) AS self_sim
        |FROM embeddings a LIMIT 3""".stripMargin).show(false)
    val exactPairs = graft.operators.Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4)
    println("exact near-dup pairs: " + exactPairs.count)
    val lshPairs = graft.operators.Similarity.nearDupPairsLsh(emb, "vec_id", "embedding", 0.4)
    println("lsh near-dup pairs (low-threshold regime, expect <= exact): " + lshPairs.count)
    // probe: mismatched dims / null vector
    spark.sql("SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) n").show(false)
    val ivf = graft.operators.Similarity.ivfTopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", 3, nlist = 4, nprobe = 2)
    println("ivf ann rows: " + ivf.count)

    // 8. SSO-authenticated family: bootstrap + rejected unauthenticated fetch
    val sso = graft.crawl.Sso.bootstrap("path.ssu.ac.kr")
    println("sso session: " + sso.host + " cookie len " + sso.cookie.length)
    try {
      graft.crawl.SyntheticWeb.expand(
        graft.crawl.SyntheticWeb.Req(
          "https://path.ssu.ac.kr/ptfol/imng/icmpActWait.do?pageIndex=1",
          "path.ssu.ac.kr", "list", 1, 0, 0), 100, 10, 0)
      println("ERROR: unauthenticated fetch succeeded")
    } catch { case e: IllegalStateException => println("auth guard: " + e.getMessage.take(80)) }

    // 9. Calendar pipeline: year-page parse -> ICS with DTEND
    val cal = graft.crawl.Pipeline.runCalendar(spark,
      spark.emptyDataset[graft.model.CalendarEvent].toDF(),
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2026-12-31 23:59:59"), scale = 100)
    println("calendar events: " + cal.events.count +
      " DTEND lines: " + (cal.ics.split("DTEND:").length - 1))

    // 10. Daemon failure channel: injected site failure -> error report
    val dir = java.nio.file.Files.createTempDirectory("apidrive-daemon").toString
    val res = graft.Daemon.run(spark, graft.Daemon.Options(out = s"$dir/out",
      cache = s"$dir/cache", limit = 5, scale = 60,
      include = Seq("biz.ssu.ac.kr", "bioinfo.ssu.ac.kr"),
      failSites = Seq("bioinfo.ssu.ac.kr")))
    println("daemon failed sites: " + res.failedSites.keySet +
      " error_report rows: " + spark.read.json(s"$dir/out/reports/error_report").count)

    // 11. Incremental cache: second daemon run rewrites only crawled
    // partitions; mid-crawl fetch fault exhausts whole-site retries
    val res2 = graft.Daemon.run(spark, graft.Daemon.Options(out = s"$dir/out",
      cache = s"$dir/cache", limit = 5, scale = 60, rev = 1,
      include = Seq("biz.ssu.ac.kr"),
      now = java.sql.Timestamp.valueOf("2026-01-16 00:00:00")))
    println("incremental run events: " + res2.pipeline.events.count +
      " cache rows: " + spark.read.parquet(s"$dir/cache").count)
    val resFail = graft.Daemon.run(spark, graft.Daemon.Options(out = s"$dir/out2",
      cache = s"$dir/cache2", limit = 5, scale = 60,
      include = Seq("biz.ssu.ac.kr"),
      failFetch = Map(("biz.ssu.ac.kr", 1) -> 3)))
    println("mid-crawl exhaustion failed sites: " + resFail.failedSites.keySet)

    // 12. Live-pacing crawl: token-bucket fetch with per-host start log
    val live = graft.crawl.Crawl.run(spark, graft.crawl.Crawl.Config(
      scale = 60, limitPerSite = 3, numSalts = 1, livePacing = true,
      include = Seq("biz.ssu.ac.kr")))
    println("live-paced fetches logged: " + live.fetchLog.count)

    // 13. Real multimodal codecs: BMP/WAV header round-trip at API level
    val docs001 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val decoded = graft.operators.Multimodal.decodeMetaRows(
      graft.operators.Multimodal.synthesizeTypedMedia(docs001.limit(50)))
    decoded.groupBy("kind").count().show(false)
    val bmp = graft.operators.Multimodal.Codecs.encodeBmp(12, 7, 1L)
    println("bmp parse: " + graft.operators.Multimodal.Codecs.parseBmp(bmp))
    println("bmp reject: " + graft.operators.Multimodal.Codecs.parseBmp("nope".getBytes))

    // 13b. Dedup pipeline end-to-end: pairs -> transitive clusters ->
    // keep one canonical doc per cluster
    val dupPairs = graft.operators.Dedup.ngramJaccardPairs(
      docs001, "doc_id", "text", 3, 0.5, maxShingleFreq = 20L)
    val clusters = graft.operators.Dedup.nearDupClusters(dupPairs)
    val kept = graft.operators.Dedup.keepClusterRepresentatives(
      docs001, "doc_id", clusters)
    println(s"dedup clusters: ${clusters.select("cluster").distinct.count} " +
      s"over ${clusters.count} paired docs; corpus ${docs001.count} -> kept ${kept.count}")

    // 13c. The embedding-space analog + the composed quality gate
    val emb001 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val embKept = graft.operators.Similarity.dedupCorpusByEmbedding(
      emb001, "vec_id", "embedding", 0.4, graft.operators.Similarity.PairStage.Exact())
    val quality = graft.operators.TextAnalysis.qualityFilter(docs001, "text")
    println(s"embedding dedup: ${emb001.count} -> ${embKept.count}; " +
      s"quality gate: ${docs001.count} -> ${quality.count}")

    // 13c2. Decontamination: directed containment of a probe subset
    val probe = docs001.filter(col("doc_id") % 17 === 0)
    val contaminated = graft.operators.Dedup.containmentPairs(
      docs001, "doc_id", "text", probe, "doc_id", "text", 3, 0.5, maxShingleFreq = 20L)
    println(s"containment >=0.5: ${contaminated.count} probe-corpus pairs")

    // 13c3. Winnowing: substring-level fingerprints + overlap pairs
    val winnowFps = graft.operators.Dedup.winnowFingerprints(
      docs001, "doc_id", "text", k = 4, w = 4)
    val winnowPairs = graft.operators.Dedup.winnowOverlapPairs(
      docs001, "doc_id", "text", k = 4, w = 4, threshold = 0.5, maxFpFreq = 20L)
    println(s"winnow fps: ${winnowFps.count}; overlap pairs >=0.5: ${winnowPairs.count}")

    // 13d. Sessionization + vocabulary + bigram LM counts
    val events001 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sessions = graft.operators.Sessions.sessionize(events001)
    val vocab = graft.operators.TextAnalysis.vocabulary(docs001, "doc_id", "text", minDf = 3L)
    val bigrams = graft.operators.TextAnalysis.ngramCounts(docs001, "text", 2, minCount = 3L)
    println(s"sessions: ${events001.count} events -> ${sessions.count} sessions; " +
      s"vocab >=3df: ${vocab.count}; bigrams >=3: ${bigrams.count}")

    // 13e. Temporal joins: as-of (latest preceding click per purchase) and
    // interval join (clicks within 24 h of an error, same user)
    val purchases = events001.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = events001.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val asof = graft.operators.TemporalJoins.asofJoin(
      purchases, clicks, "user_id", "ts", Seq("event_id", "value"), "event_id")
    val ranged = graft.operators.TemporalJoins.rangeJoinPairs(
      events001.filter(col("event_type") === "error").select("event_id", "user_id", "ts"),
      "user_id", "ts", clicks.drop("value"), "user_id", "ts", 86400000000L)
    println(s"asof: ${asof.count} purchases (${asof.filter(col("r_event_id").isNotNull).count} " +
      s"matched); range-join pairs: ${ranged.count}")

    // 13f. TF-IDF keywords + deterministic sampling
    val tfidf = graft.operators.TextAnalysis.tfidfTopTerms(docs001, "doc_id", "text", 3)
    val strat = graft.operators.Sampling.stratifiedSample(docs001, "lang", "text", 5, "doc_id")
    val gated = graft.operators.Sampling.hashSample(docs001, "text", "29")
    println(s"tfidf top-3 rows: ${tfidf.count}; stratified 5/lang: ${strat.count}; " +
      s"md5-gate <0x29: ${gated.count}")

    // 13g. Span-grain cross-corpus dedup on the interleaved shape,
    // repetition features/filter, PII scrub
    val spanKept = graft.operators.Spans.dedupSpans(
      graft.operators.Spans.chunkedSpanRows(docs001, chunkSize = 8))
    val rep = graft.operators.TextAnalysis.repetitionFeatures(docs001, "doc_id", "text")
    val repKept = graft.operators.TextAnalysis.repetitionFilter(docs001, "doc_id", "text")
    val pii = docs001.select(graft.operators.TextAnalysis.piiScrub(
      concat(col("text"), lit(" mail me: a"), col("doc_id").cast("string"),
        lit("@x.io or 010-1234-5678"))).as("p"))
    println(s"span dedup kept ${spanKept.count} spans; repetition rows ${rep.count} " +
      s"(filter keeps ${repKept.count}); pii emails=" +
      pii.selectExpr("sum(p.n_emails)").head.getLong(0) +
      " phones=" + pii.selectExpr("sum(p.n_phones)").head.getLong(0))

    // 13i. Data-recipe layer: temperature mixture, rebalancing, packing,
    // interleaved token streams
    val mix = graft.operators.Sampling.temperatureMixture(docs001, "lang", "doc_id", 100L, "doc_id")
    val bal = graft.operators.Sampling.balanceUpsample(docs001, "lang", "doc_id", "doc_id")
    val packed = graft.operators.Packing.packSequences(docs001, "doc_id", "source",
      graft.operators.TextAnalysis.tokenCount(col("text")), capacity = 128L)
    val stream = graft.operators.Spans.interleavedTokenStream(
      graft.operators.Spans.chunkedSpanRows(docs001, chunkSize = 8))
    println(s"mixture rows: ${mix.count}; rebalanced rows: ${bal.count}; " +
      s"packed bins: ${graft.operators.Packing.packingStats(packed, 128L).count}; " +
      s"interleaved streams: ${stream.count}")

    // 13h. PQ/ADC ANN: encode once, serve via table lookups, exact re-rank
    val pq = graft.operators.Similarity.pqTopK(
      emb001, emb001.filter(col("vec_id") < 3), "vec_id", "embedding", 3, rerank = 30)
    println(s"pq ann rows: ${pq.count}")

    // 13i. Link-graph PageRank, column profiling, corpus-LM scoring
    val prNodes = docs001.select(col("doc_id"))
    val prEdges = docs001.filter(col("n_chars") % 7 =!= 0)
      .select(col("doc_id").as("src"), ((col("doc_id") * 7 + col("n_chars")) % 100).as("dst"))
      .filter(col("dst") =!= col("src"))
    val pr = graft.operators.Graph.pageRank(prNodes, prEdges, idCol = "doc_id")
    val prof = graft.operators.Profile.profile(docs001, Seq("doc_id", "lang", "text"))
    val lm = graft.operators.TextAnalysis.lmScore(docs001, "doc_id", "text")
    println(s"pagerank rows: ${pr.count} (sum ${pr.agg(round(sum("rank"), 3)).first.get(0)}); " +
      s"profile rows: ${prof.count}; lm-scored docs: ${lm.count}")

    // 13j. BPE tokenizer training + segmentation over the document corpus
    val bpeWc = graft.operators.Bpe.wordCounts(docs001, "text")
    val bpeMerges = graft.operators.Bpe.learnMerges(bpeWc, 4)
    val mergeList = bpeMerges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val seg = graft.operators.Bpe.applyMerges(docs001, "text", mergeList)
    println(s"bpe merges: ${mergeList.map { case (l, r) => s"$l+$r" }.mkString(",")}; " +
      s"segmented docs: ${seg.count}, distinct subwords: " +
      s"${seg.select(explode(col("subwords")).as("sw")).distinct.count}")
    // probe: empty corpus learns nothing, segmentation passes through
    val bpeEmpty = graft.operators.Bpe.learnMerges(
      bpeWc.filter(lit(false)), 4)
    println(s"bpe empty-corpus merges: ${bpeEmpty.count}")

    // 13k. Boilerplate strip, recrawl scheduling, cache compaction
    val mlDocs = docs001.withColumn("ml_text", array_join(
      graft.functions.GraftFunctions.chunk_text(col("text"), 2), "\n"))
    val bp = graft.operators.Boilerplate.strip(mlDocs, "source", "doc_id", "ml_text", 16, 100)
    println(s"boilerplate: stripped ${bp.agg(sum("n_removed")).first.getLong(0)} " +
      s"lines across ${bp.count} docs")
    val orders001 = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val sched = graft.operators.Recrawl.schedule(
      orders001.select(col("o_orderpriority").as("site_id"), col("o_orderdate").as("created_at")),
      "site_id", "created_at", 30, 60, 10080)
    println(s"recrawl schedule sites: ${sched.count}, " +
      s"min interval: ${sched.agg(min("interval_minutes")).first.get(0)} min")
    val compDir = java.nio.file.Files.createTempDirectory("apidrive-compact").toString
    docs001.limit(64).select(col("source").as("site_id"), col("doc_id"), col("text"))
      .repartition(4).write.mode("overwrite").partitionBy("site_id").parquet(compDir)
    val comp = graft.crawl.Compaction.compact(spark, compDir, maxFiles = 1)
    println(s"compaction: ${comp.size} partitions rewritten, " +
      s"files ${comp.map(_.filesBefore).sum} -> ${comp.map(_.filesAfter).sum}; " +
      s"rows intact: ${spark.read.parquet(compDir).count == 64}")

    // 13l. Inverted index + PMI collocations
    val idx = graft.operators.TextAnalysis.invertedIndex(docs001, "doc_id", "text", 3, 400)
    val pmi = graft.operators.TextAnalysis.pmiCollocations(docs001, "text", 5)
    println(s"inverted index terms: ${idx.count}; pmi pairs: ${pmi.count}, " +
      s"top: ${pmi.orderBy(desc("pmi")).select("bigram").first.getString(0)}")

    // 13m. BM25 retrieval, hashed linear quality model, cross-corpus screen
    val bm = graft.operators.TextAnalysis.bm25Search(docs001, "doc_id", "text",
      Seq("customer", "merge"), topK = 5)
    val qm = graft.operators.TextAnalysis.hashedLinearScore(docs001, "doc_id", "text")
    val xc = graft.operators.Dedup.crossCorpusMinhashPairs(
      docs001, docs001.limit(20).select(
        concat(lit("b-"), col("doc_id")).as("doc_id"), col("text")),
      "doc_id", "text")
    println(s"bm25 top doc: ${bm.orderBy("rank").first.getLong(0)}; " +
      s"quality-model keep rate: ${qm.filter(col("keep") === 1).count}/${qm.count}; " +
      s"cross-corpus exact dups found: ${xc.filter(col("jaccard") === 1.0).count}")

    // 13n. End-to-end recipe + dataset card
    val recipeOut = graft.operators.Recipe.trainReady(docs001,
      docs001.filter(col("doc_id") % 17 === 0), "doc_id", "text", "source")
    val card = graft.operators.Profile.datasetCard(docs001, Seq("source"), "text")
    println(s"recipe packed docs: ${recipeOut.count} into " +
      s"${recipeOut.toDF().select("group", "bin_id").distinct.count} bins; " +
      s"card slices: ${card.count}")

    // 13o. Release diff + sliding training windows
    val diff = graft.operators.Versioning.diffSummary(
      docs001.limit(400).select(col("doc_id"), col("text")),
      docs001.select(col("doc_id"), col("text")), Seq("doc_id"), Seq("text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val win = docs001.select(posexplode(
      graft.functions.GraftFunctions.chunk_text_stride(col("text"), 32, 16)))
    println(s"release diff: $diff; training windows: ${win.count}")

    // 14. Publish (K6): commit out/+cache to the data repo; clean re-publish
    // is a no-op ("no changes to commit")
    val c1 = graft.sinks.Publish.publish(spark, s"$dir/repo",
      Seq("" -> s"$dir/out", ".cache" -> s"$dir/cache"),
      java.sql.Timestamp.valueOf("2026-01-16 00:00:00"))
    val c2 = graft.sinks.Publish.publish(spark, s"$dir/repo",
      Seq("" -> s"$dir/out", ".cache" -> s"$dir/cache"),
      java.sql.Timestamp.valueOf("2026-01-16 00:05:00"))
    println(s"publish: '${c1.message}' files=${c1.files} noop_repeat=${!c2.created}")
    println("publish summary:\n" +
      graft.sinks.Publish.markdownReport(res2.pipeline.events).linesIterator
        .take(3).mkString("\n"))
    spark.stop()
  }
}
