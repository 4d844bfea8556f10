package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.{Bpe, Dedup, Graph, Merge, Packing, Profile, Recipe, Sampling, Sessions, Similarity, Spans, TemporalJoins, TextAnalysis}

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the training-data ops), with DuckDB oracle SQL where the
 * operator is SQL-expressible. Column names are aligned between the Spark
 * result and the oracle (the driver sorts columns by name before hashing).
 *
 * Float discipline: money sums go through exact integer cents; cosine
 * similarities are rounded to 6 dp on both sides.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val mergeNow = Timestamp.valueOf("2026-01-15 00:00:00")

  /** Posts snapshot synthesized from `orders` — the merge-upsert fixture.
    * old = keys not divisible by 3; new = even keys, content changed for
    * %10==0, own updated_at for %20==0. */
  private def ordersOld(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0).select(
      col("o_orderpriority").as("site_id"),
      col("o_orderkey").cast("string").as("id"),
      concat(lit("http://b.ssu.ac.kr/p?id="), col("o_orderkey")).as("url"),
      lit(null).cast("string").as("author"),
      concat(lit("T"), col("o_orderstatus")).as("title"),
      lit(null).cast("string").as("description"),
      array(lit("공지")).as("category"),
      col("o_orderdate").as("created_at"),
      lit(null).cast("timestamp").as("updated_at"),
      lit(null).cast("string").as("thumbnail"),
      concat(lit("C"), col("o_orderkey") % 7).as("content"),
      array().cast("array<struct<url:string,name:string,mime_type:string>>").as("attachments"),
      lit(null).cast("map<string,string>").as("metadata"))

  private def ordersNew(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0).select(
      col("o_orderpriority").as("site_id"),
      col("o_orderkey").cast("string").as("id"),
      concat(lit("http://b.ssu.ac.kr/p?id="), col("o_orderkey")).as("url"),
      lit(null).cast("string").as("author"),
      concat(lit("T"), col("o_orderstatus")).as("title"),
      lit(null).cast("string").as("description"),
      array(lit("공지")).as("category"),
      col("o_orderdate").as("created_at"),
      when(col("o_orderkey") % 20 === 0, lit(Timestamp.valueOf("2026-02-02 00:00:00")))
        .otherwise(lit(null).cast("timestamp")).as("updated_at"),
      lit(null).cast("string").as("thumbnail"),
      when(col("o_orderkey") % 10 === 0, lit("CHANGED"))
        .otherwise(concat(lit("C"), col("o_orderkey") % 7)).as("content"),
      array().cast("array<struct<url:string,name:string,mime_type:string>>").as("attachments"),
      lit(null).cast("map<string,string>").as("metadata"),
      col("o_orderkey").as("seq"))

  // NOT staged/memoized on purpose: q04 consumes 7 of the 13 post columns
  // and q05 only the event labels, so leaving the merge lazy lets each
  // count prune the payload columns out of the join+windows entirely —
  // cheaper than materializing the full-width merge once (A/B'd: a staged
  // localCheckpoint costs q04 3.4s of payload materialization to save
  // q05 1.1s). The daemon's merge (q37/q38), whose consumers read all
  // columns, stages its output instead (Merge.mergeBySite).
  private def mergedOrders(s: SparkSession, dir: String): Merge.MergeResult =
    Merge.mergeEntries(ordersOld(s, dir), ordersNew(s, dir), mergeNow)

  /** Flagship: the full daemon — crawl the 54-site synthetic web, merge
    * into an empty cache, emit newest-first top-K per site (the reference
    * dry-run shape: limit 20, dry-run.yml:16). */
  def entry(spark: SparkSession): DataFrame = {
    import graft.crawl.{Crawl, Pipeline}
    val cfg = Crawl.Config(scale = 60, limitPerSite = 20)
    Pipeline.runDaemon(cfg, Crawl.run(spark, cfg),
      Pipeline.emptyCache(spark), mergeNow, topK = 20).topPosts
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (reference operator analogs) ----
    "q01_pricing_agg" -> ((s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
          .as("sum_disc_price_cents"),
        count(lit(1)).as("n_rows"))),

    "q02_join_enrich" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      val o = t(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
    },

    "q03_topk_per_group" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
    },

    "q04_merge_upsert" -> ((s, dir) => mergedOrders(s, dir).posts
      .select("site_id", "id", "title", "content", "created_at", "updated_at", "rank")),

    "q05_merge_events" -> ((s, dir) => mergedOrders(s, dir).events
      .groupBy("event").agg(count(lit(1)).as("n"))),

    "q06_replace_in_range" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(
        col("event_id").cast("string").as("id"), col("event_type").as("title"),
        lit(null).cast("string").as("description"), col("ts").as("starts_at"),
        lit(null).cast("timestamp").as("ends_at"), lit(null).cast("string").as("location"),
        lit(null).cast("string").as("url"))
      val lo = Timestamp.valueOf("2024-01-20 00:00:00")
      val hi = Timestamp.valueOf("2024-01-25 23:59:59")
      val newEv = ev.filter(col("starts_at").between(lit(lo), lit(hi)))
        .withColumn("title", concat(col("title"), lit("_refreshed")))
      Merge.mergeCalendarReplaceInRange(ev, newEv, lo, hi)
        .select("id", "title", "starts_at")
    },

    "q07_dedup_keeplast" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("user_id", "event_id", "ts")
    },

    "q08_semi_join" -> ((s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 450000)
        .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")),

    "q09_anti_join" -> ((s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 450000)
        .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")),

    "q10_union_pages" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      li.filter(col("l_orderkey") % 10 === 0)
        .unionByName(li.filter(col("l_orderkey") % 10 === 5))
    },

    "q11_event_counts" -> ((s, dir) => t(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))),

    "q12_range_filter" -> ((s, dir) => t(s, dir, "events")
      .filter(col("ts").between(
        lit(Timestamp.valueOf("2024-01-10 00:00:00")),
        lit(Timestamp.valueOf("2024-01-15 23:59:59"))))
      .select("event_id", "ts", "event_type")),

    "q13_running_window" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          round(sum(col("value")).over(w), 6).as("running_value"))
    },

    // ---- gap-based sessionization: the user-activity rollup (one
    // shuffle on user_id shared by the lag window, the session-id
    // cumulative sum, and the per-session aggregate) ----
    "q55_sessionize" -> ((s, dir) =>
      Sessions.sessionize(t(s, dir, "events"))),

    // ---- exact percentile stats (interpolated; single partial-aggregable
    // pass — Spark's percentile agg holds one counts-map per group) ----
    "q59_percentiles" -> ((s, dir) => t(s, dir, "events")
      .groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))),

    // ---- scalar kernels over synthesized columns ----
    "q14_url_canonicalize" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), GraftFunctions.url_canonicalize(
        concat(lit("HTTP://Board.SSU.ac.KR:80/bbs/./list.php?z="), col("doc_id"),
          lit("&a=1#frag"))).as("canon"))),

    "q15_url_resolve" -> { (s, dir) =>
      val base = lit("https://h.example/a/b/list.php?page=2")
      val rel = when(col("doc_id") % 4 === 0, concat(lit("http://other.host/abs/"), col("doc_id")))
        .when(col("doc_id") % 4 === 1, concat(lit("/root/view.php?id="), col("doc_id")))
        .when(col("doc_id") % 4 === 2, concat(lit("../up/"), col("doc_id"), lit(".html")))
        .otherwise(concat(lit("?page="), col("doc_id")))
      t(s, dir, "documents").select(col("doc_id"),
        GraftFunctions.url_resolve(base, rel).as("resolved"))
    },

    "q16_url_params" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), GraftFunctions.url_query_param(
        concat(lit("http://b/board.php?bo_table=notice&wr_id="), col("doc_id")),
        lit("wr_id")).as("wr_id"))),

    "q17_slugify" -> ((s, dir) => t(s, dir, "part")
      .select(col("p_partkey"),
        GraftFunctions.slugify(concat(col("p_name"), lit(" (SSU) #"), col("p_partkey")))
          .as("slug"))),

    "q18_date_dialects" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val str1 = date_format(col("o_orderdate"), "yyyy.MM.dd")
      val str2 = date_format(col("o_orderdate"), "yyyy'년' M'월' d'일'")
      val str3 = date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm")
      val parsed = when(col("o_orderkey") % 3 === 0, to_timestamp(str1, "yyyy.MM.dd"))
        .when(col("o_orderkey") % 3 === 1, to_timestamp(str2, "yyyy'년' M'월' d'일'"))
        .otherwise(to_timestamp(str3, "yyyy-MM-dd HH:mm"))
      o.select(col("o_orderkey"),
        to_utc_timestamp(parsed, "Asia/Seoul").as("created_utc"))
    },

    "q19_mime_guess" -> { (s, dir) =>
      val ext = element_at(
        array(lit(".pdf"), lit(".hwp"), lit(".jpg"), lit(".zip"), lit(".docx"), lit("")),
        (col("p_partkey") % 6 + 1).cast("int"))
      t(s, dir, "part").select(col("p_partkey"),
        GraftFunctions.mime_guess(concat(lit("attach_"), col("p_partkey"), ext)).as("mime"))
    },

    "q20_desc_fallback" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), GraftFunctions.desc_fallback(col("text")).as("description"))),

    "q21_ics_escape" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), GraftFunctions.ics_escape(
        concat(lit("loc;A,B\\"), substring(col("text"), 1, 40))).as("escaped"))),

    // ---- interleaved span model (input_hint shape) ----
    "q22_span_explode" -> ((s, dir) =>
      Spans.explodeSpans(Spans.nest(Spans.docsToSpanRows(t(s, dir, "documents"))))),

    "q23_span_roundtrip" -> ((s, dir) =>
      Spans.reassembleText(Spans.docsToSpanRows(t(s, dir, "documents")))
        .select(col("doc_id"), col("text"))),

    // ---- dedup family ----
    "q24_dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "source")),

    "q25_fingerprint" -> ((s, dir) =>
      Dedup.fingerprintDedup(t(s, dir, "documents"), "doc_id", "text")),

    // df-cut ON (maxShingleFreq=20, mirrored in the oracle SQL): at web
    // scale a hot boilerplate shingle makes the self-join fan-out F^2
    // unbounded — the named operator ships with the cut; the exact uncapped
    // form stays available as the spec-only baseline (DedupSimilaritySpec)
    "q26_ngram_jaccard" -> ((s, dir) =>
      cachedNgramPairs(s, dir)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))),

    "q27_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.5,
        numBands = 32, rowsPerBand = 2)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))),

    // ---- winnowing fingerprints (Schleimer et al. 2003): the
    // substring-level dedup signal — engine-portable md5-prefix hashes so
    // the window-min selection replays byte-for-byte in SQL ----
    "q86_winnow_fp" -> ((s, dir) =>
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 4)),

    "q87_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 4, threshold = 0.5, maxFpFreq = 20L)),

    // ---- cross-corpus MinHash: an incoming batch (here: a deterministic
    // 1/16 md5-slice of the corpus with one token-class perturbed —
    // a near-dup crawl re-fetch) screened against the corpus. Portable
    // md5-minhash signature, so the full LSH pipeline (signature -> bands
    // -> candidates -> exact-Jaccard verify) replays in DuckDB ----
    "q89_cross_corpus" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val batch = docs
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
        .select(concat(lit("p-"), col("doc_id").cast("string")).as("doc_id"),
          regexp_replace(lower(col("text")), "\\btable\\b", "tables").as("text"))
      Dedup.crossCorpusMinhashPairs(docs, batch, "doc_id", "text",
        n = 3, perms = 6, bands = 3, threshold = 0.5)
    },

    // ---- near-dup CLUSTERS: connected components (min-label + pointer
    // jumping) over the exact-Jaccard pair table — the keep-one-per-cluster
    // step of a dedup pipeline; oracle = recursive-CTE transitive closure
    // over the same pairs in DuckDB ----
    "q51_dedup_clusters" -> ((s, dir) =>
      cachedNgramClusters(s, dir)
        .select(col("id").as("doc_id"), col("cluster"))),

    // ---- the COMPOSED dedup pipeline: corpus -> pairs -> clusters ->
    // keep one canonical doc per cluster (the one-call training-data form) ----
    "q52_dedup_corpus" -> ((s, dir) =>
      Dedup.keepClusterRepresentatives(t(s, dir, "documents"), "doc_id",
        cachedNgramClusters(s, dir))
        .select(col("doc_id"))),

    "q28_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", 3)),

    // ---- decontamination: directed containment of a probe set (every
    // 17th doc as the stand-in benchmark) against the corpus; the probe's
    // shingles broadcast, the corpus never shuffles before the pair agg ----
    "q60_containment" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.containmentPairs(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 17 === 0), "doc_id", "text",
        3, 0.5, maxShingleFreq = 20L)
    },

    // ---- the COMPOSED embedding-dedup pipeline: corpus -> exact cosine
    // pairs (block tiles) -> clusters -> keep one per cluster ----
    "q53_embedding_dedup" -> ((s, dir) =>
      Similarity.dedupCorpusByEmbedding(t(s, dir, "embeddings"),
        "vec_id", "embedding", 0.4, Similarity.PairStage.Exact())
        .select(col("vec_id"))),

    // ---- the composed quality gate: documents inside the token/punct/
    // word-shape envelope ----
    "q54_quality_filter" -> ((s, dir) =>
      TextAnalysis.qualityFilter(t(s, dir, "documents"), "text")
        .select(col("doc_id"))),

    // ---- vocabulary + n-gram language-model counts (tokenizer-training
    // precursors; map-side partial aggregation bounds hot tokens) ----
    "q56_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(t(s, dir, "documents"), "doc_id", "text", minDf = 5L)),

    "q57_ngram_counts" -> ((s, dir) =>
      TextAnalysis.ngramCounts(t(s, dir, "documents"), "text", n = 2, minCount = 5L)),

    // ---- similarity search ----
    "q29_ann_brute" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    },

    "q30_ann_lsh" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        bitsPerTable = 4, tables = 16)
    },

    "q48_ann_ivf" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        nlist = 8, nprobe = 3)
    },

    // ---- PQ/ADC ANN; rerank >= |corpus| makes the exact re-rank total, so
    // the full encode->ADC->re-rank pipeline must land exactly on the
    // brute-force oracle (recall at practical rerank is spec-measured) ----
    "q68_ann_pq" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        m = 8, ksub = 16, rerank = 1000000)
    },

    // ---- text analysis ----
    "q31_token_count" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))),

    "q32_quality" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.qualityFeatures(col("text")).as("q"))
      .select(col("doc_id"), col("q.n_chars").as("n_chars"), col("q.n_tokens").as("n_tokens"),
        col("q.punct_ratio").as("punct_ratio"), col("q.stopword_ratio").as("stopword_ratio"),
        col("q.mean_word_len").as("mean_word_len"))),

    "q33_langid" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))),

    // ---- crawl engine (deterministic synthetic web). The schedule/seen/
    // lineage queries replay in DuckDB: the site registry rides into the
    // oracle as literal VALUES and the SCHEDULING semantics (pagination
    // fan-out, visibility, idAt, URL grammar + canonical param sort,
    // politeness clock) are recomputed independently in SQL. url_hash
    // (xxhash64) is engine-internal and derivable from `canonical`, so the
    // projection carries the canonical string instead; lineage aggregates
    // to wave grain (partition ids are engine-internal layout). ----
    "q34_crawl_schedule" -> ((s, _) =>
      cachedCrawl(s, crawlCfg).schedule
        .select("wave", "host", "canonical", "site_id", "page", "row",
          "ready_ms", "crawl_delay_ms")),

    "q35_crawl_seen" -> ((s, _) =>
      cachedCrawl(s, crawlCfg).seen
        .groupBy("first_wave").agg(count(lit(1)).as("n_urls"))),

    "q36_crawl_lineage" -> ((s, _) => cachedCrawl(s, crawlCfg).lineage
      .groupBy("wave").agg(max(col("scheduled")).as("scheduled"),
        max(col("deduped")).as("deduped"), sum(col("fetched")).as("fetched"))),

    "q37_pipeline_feeds" -> { (s, _) =>
      val out = cachedDaemonRun0(s, ())
      out.rss.select(col("site_id"), length(col("rss_xml")).as("rss_bytes"))
        .join(out.siteJson.select(col("site_id"), length(col("site_json")).as("json_bytes")),
          Seq("site_id"))
    },

    "q38_recrawl_events" -> { (s, _) =>
      val cfg1 = crawlCfg.copy(rev = 1)
      val run1 = graft.crawl.Pipeline.runDaemon(cfg1, cachedCrawl(s, cfg1),
        cachedDaemonRun0(s, ()).cache, Timestamp.valueOf("2026-01-16 00:00:00"),
        topK = 30)
      run1.events.groupBy("event").agg(count(lit(1)).as("n"))
    },

    // ---- JSON-API envelope parse (S6): synthesize a startup-style body
    // per order, parse via from_json, flatten ----
    "q39_json_envelope" -> { (s, dir) =>
      val body = concat(
        lit("""{"code":"0","message":"ok","data":{"content":{"list":[{"seq":"""),
        col("o_orderkey"),
        lit(""","title":"T"""), col("o_orderstatus"),
        lit("""","contents":"<p>c</p>","noticeYn":""""),
        when(col("o_orderkey") % 2 === 0, lit("Y")).otherwise(lit("N")),
        lit("""","regDt":""""), date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"),
        lit(""""}]}}}"""))
      val env = t(s, dir, "orders")
        .select(lit("startup.ssu.ac.kr").as("site_id"), body.as("body"))
      graft.sources.JsonApis.parseStartup(env, "https://startup.ssu.ac.kr/board/notice")
        .select("id", "title", "is_announcement", "created_at")
    },

    // ---- lz-string UTF-16 transport round-trip (S7) ----
    "q40_lz_roundtrip" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), GraftFunctions.lz_decompress_utf16(
        GraftFunctions.lz_compress_utf16(col("text"))).as("rt_text"))),

    // ---- HTML extraction kernels over synthesized fragments ----
    "q41_html_extract" -> { (s, dir) =>
      val html = concat(
        lit("""<div class="post"><h1 class="tit">Doc """), col("doc_id"),
        lit("""</h1><a href="/view?idx="""), col("doc_id"),
        lit("""">link</a><p>"""), col("text"), lit("</p></div>"))
      t(s, dir, "documents").select(col("doc_id"),
        GraftFunctions.html_text(html, lit("h1.tit")).as("title"),
        GraftFunctions.html_attr(html, lit("a"), lit("href")).as("href"),
        GraftFunctions.html_text(html, lit("div.post > p")).as("body"))
    },

    // ---- multimodal binary columns: typed metadata (decode is stubbed;
    // feature extraction itself is covered in MultimodalSpec) ----
    "q42_multimodal_meta" -> ((s, dir) =>
      graft.operators.Multimodal.synthesizeMedia(t(s, dir, "documents")).toDF()
        .select(col("doc_id"), col("meta.kind").as("kind"),
          length(col("bytes")).as("n_bytes"), col("media_ref"))),

    // ---- interleaved span decomposition of CRAWLED posts (the input_hint
    // invariant on the engine's own output; asserted in PostSpansSpec) ----
    "q43_post_spans" -> ((s, _) =>
      Spans.postsToSpanRows(cachedCrawl(s, crawlCfg).posts)
        .groupBy("kind").agg(count(lit(1)).as("n_spans"),
          countDistinct(col("doc_id")).as("n_docs"))),

    // ---- embedding-cosine near-dup pairs (exact; LSH variant = q30) ----
    "q45_embedding_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)),

    // ---- DSv2 source with limit/filter pushdown (remote-source shape) ----
    "q46_dsv2_source" -> ((s, _) =>
      s.read.format("graft.sources.WebSource")
        .option("scale", "200").option("limit_per_site", "20").load()
        .filter(col("site_id").isin("biz.ssu.ac.kr", "scatch.ssu.ac.kr", "infocom.ssu.ac.kr"))
        .groupBy("site_id").agg(count(lit(1)).as("n_posts"),
          max(length(col("content"))).as("max_content_len"))),

    // ---- DSv2 source feeding the span decomposition (the q43-over-q46
    // composition): the connector's thumbnail/attachments columns drive the
    // interleaved span model without going through the crawl ----
    "q47_dsv2_spans" -> ((s, _) =>
      Spans.postsToSpanRows(
        s.read.format("graft.sources.WebSource")
          .option("scale", "200").option("limit_per_site", "20").load()
          .filter(col("site_id").isin("biz.ssu.ac.kr", "scatch.ssu.ac.kr")))
        .groupBy("kind").agg(count(lit(1)).as("n_spans"),
          countDistinct(col("doc_id")).as("n_docs"))),

    // ---- multimodal REAL decode (BMP/WAV header parsing, no stub): the
    // Spark side parses metadata from real encoded payload bytes; the
    // oracle recomputes the same values arithmetically from doc_id/text ----
    "q50_media_decode" -> ((s, dir) =>
      graft.operators.Multimodal.decodeMetaRows(
        graft.operators.Multimodal.synthesizeTypedMedia(t(s, dir, "documents")))
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          col("sample_rate"), col("duration_ms"))),

    // ---- self-feeding streaming crawl (§2.10): the wave loop as a
    // Structured Streaming query over a watched frontier directory;
    // equality with the batch crawl asserted in StreamingCrawlSpec ----
    "q49_streaming_crawl" -> { (s, _) =>
      val dir = graft.crawl.TempDirs.create("graft-scrawl-q")
      val r = withStreamShuffle(s)(graft.streaming.StreamingCrawl.run(s,
        graft.crawl.Crawl.Config(scale = 60, limitPerSite = 10), dir))
      r.posts.groupBy("site_id").agg(count(lit(1)).as("n_posts"))
    },

    // ---- streaming sessionization: the q55 semantics over a REAL
    // Structured Streaming run (file source, one file per micro-batch,
    // flatMapGroupsWithState + event-time timeout). A far-future sentinel
    // user in the two trailing files advances the watermark so every real
    // session times out and emits (the watermark lags one trigger).
    // Streamed == batch parity is additionally asserted in
    // StreamingSessionsSpec on arbitrary slicings. ----
    "q58_streaming_sessions" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.{SessEvent, StreamingSessions}
      val tmp = graft.crawl.TempDirs.create("graft-ssess-q")
      // the slice never reaches the driver: chunk membership comes from
      // the chronological rank. In-file row order is irrelevant to the
      // event-time session semantics — only trigger MEMBERSHIP matters,
      // and rank-chunking reproduces the previous grouped(67) slicing
      // exactly ((ts, event_id) is unique).
      val slice = t(s, dir, "events").orderBy("ts", "event_id").limit(200)
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_id"), col("value"))
      // an unpartitioned window is one task, but it only ranks the 200
      // rows left after the limit
      val wOrd = Window.orderBy("ts", "event_id")
      val nChunks = stageStreamChunks(
        slice.withColumn("_b", floor((row_number().over(wOrd) - 1) / lit(67)).cast("long")), tmp)
      // sentinel horizon from the 200-row STAGED slice (re-running the
      // slice plan would sort the events table a second time)
      val lastMs = s.read.parquet(
          (0 until nChunks).map(i => s"$tmp/in/b$i.parquet"): _*)
        .agg(max(col("ts"))).head().getTimestamp(0).getTime
      (0 until 2).foreach { k =>
        s.createDataset(Seq(SessEvent(-1L,
          new Timestamp(lastMs + (k + 1) * 7200L * 1000L), 0L, 0.0)))
          .repartition(1).write.parquet(s"$tmp/in/z$k.parquet")
        stampMtime(s"$tmp/in/z$k.parquet", 100 + k) }
      val in = s.readStream.schema(s.read.parquet(s"$tmp/in/b0.parquet").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/*")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_id"), col("value")).as[SessEvent]
      val sink = s"q58_sessions_${java.util.UUID.randomUUID.toString.take(8)}"
      withStreamShuffle(s) {
        val q = StreamingSessions.sessionize(in)
          .writeStream.outputMode("append").format("memory")
          .queryName(sink).option("checkpointLocation", s"$tmp/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(sink).filter(col("user_id") =!= -1L)
    },

    // ---- STREAMING exact dedup over a REAL stream (file source, one
    // parquet dir per micro-batch): documents keyed by content digest
    // through dropDuplicatesWithinWatermark. The delay covers the whole
    // synthetic event-time span, so every duplicate is inside the horizon
    // and the streamed output equals batch DISTINCT — the DuckDB oracle.
    // Output carries (fp, text) only: whichever duplicate row wins, the
    // emitted columns are identical, so the result is order-independent. ----
    "q88_streaming_dedup" -> { (s, dir) =>
      val tmp = graft.crawl.TempDirs.create("graft-sdedup-q")
      // chunk so the micro-batch COUNT stays ~6 at any sf (the output is
      // winner-independent — it equals batch DISTINCT under any chunking —
      // but 50+ one-file triggers would spend the bench on trigger
      // overhead, not dedup); 97 exactly reproduces the sf0.01 layout
      val nDocs = t(s, dir, "documents").count()
      val chunk = math.max(97, math.ceil(nDocs / 6.0).toInt)
      // the corpus never reaches the driver and no window ranks it: the
      // chunk id comes from doc_id ranges (doc_id is dense 0..n-1, so this
      // is the doc_id-rank chunking)
      stageStreamChunks(t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          expr("timestamp_seconds(1700000000 + doc_id)").as("ts"),
          floor(col("doc_id") / lit(chunk)).cast("long").as("_b")), tmp)
      val inDir = java.nio.file.Paths.get(s"$tmp/in")
      // replay the first batch last: real duplicates that MUST be dropped
      // (their keys' state is live — the horizon spans the whole slice);
      // a file-level copy of b0 is byte-identical to re-writing its rows
      val b0 = inDir.resolve("b0.parquet")
      val replay = java.nio.file.Files.createDirectories(
        inDir.resolve("replay.parquet"))
      val b0Files = java.nio.file.Files.list(b0)
      try b0Files.forEach(p =>
        java.nio.file.Files.copy(p, replay.resolve(p.getFileName.toString)))
      finally b0Files.close()
      stampMtime(s"$tmp/in/replay.parquet", 100)
      // 2 files per trigger: still several REAL micro-batches (cross-batch
      // state drops exercised; the replay file sorts last by mtime so it
      // always lands in a later trigger than its originals), at half the
      // trigger/commit overhead
      val in = s.readStream.schema(s.read.parquet(s"$tmp/in/b0.parquet").schema)
        .option("maxFilesPerTrigger", "2").parquet(s"$tmp/in/*")
        .select(col("ts").cast("timestamp").as("ts"), col("text"),
          md5(col("text")).as("fp"))
      val sink = s"q88_sdedup_${java.util.UUID.randomUUID.toString.take(8)}"
      withStreamShuffle(s) {
        val q = graft.streaming.StreamingDedup.dedupStream(in, Seq("fp"), "ts", "3650 days")
          .writeStream.outputMode("append").format("memory")
          .queryName(sink).option("checkpointLocation", s"$tmp/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(sink).select(col("fp"), col("text"))
    },

    // ---- as-of join: latest preceding click per purchase, same user
    // (DuckDB ASOF LEFT JOIN oracle). Union + carry-forward window — ONE
    // exchange on the key, no join node (TemporalJoinsSpec plan audit) ----
    "q61_asof_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      TemporalJoins.asofJoin(
        ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", Seq("event_id", "value"), tieCol = "event_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("r_event_id").as("click_id"), col("r_value").as("click_value"))
    },

    // ---- interval (range) join: clicks inside the 24 h window opened by
    // each error, same user. Window-width time bins + equi-join on
    // (key, bin), exact predicate re-checked — bounded 2x fan-out, no
    // nested-loop join (TemporalJoinsSpec plan audit) ----
    "q62_range_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      TemporalJoins.rangeJoinPairs(
        ev.filter(col("event_type") === "error").select("event_id", "user_id", "ts"),
        "user_id", "ts",
        ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts"),
        "user_id", "ts", windowUs = 86400000000L)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_matches"), min(col("r_event_id")).as("first_match"))
    },

    // ---- TF-IDF top terms per document (exact integer score — no ln()
    // float parity risk) ----
    "q63_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 5)),

    // ---- deterministic stratified sample: 50 docs per language in
    // md5-content order — layout/partitioning/engine independent ----
    "q64_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "lang", "text",
        n = 50, tieCol = "doc_id")
        .select("doc_id", "lang", "source", "sample_rank")),

    // ---- data-recipe layer: temperature mixture, sequence packing,
    // interleaved token streams, inverse-frequency rebalancing ----
    "q69_mixture" -> ((s, dir) =>
      Sampling.temperatureMixture(t(s, dir, "documents"), "lang", "doc_id",
        total = 200L, tieCol = "doc_id")
        .select("doc_id", "lang", "source", "mix_rank")),

    "q70_pack" -> ((s, dir) =>
      Packing.packSequences(t(s, dir, "documents"), "doc_id", "source",
        TextAnalysis.tokenCount(col("text")), capacity = 128L)
        .toDF().withColumnRenamed("group", "source")),

    // ---- the COMPOSED end-to-end curation recipe: quality gate -> exact
    // dedup -> decontamination (probe = the doc_id%17 benchmark slice) ->
    // per-source packing. One chained SQL replay checks the composition,
    // pinning stage-boundary semantics (df-cut over the DEDUPED corpus) ----
    "q92_recipe" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Recipe.trainReady(docs, docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", "source")
        .toDF().withColumnRenamed("group", "source")
    },

    // ---- per-source dataset-card statistics (docs, token volume, exact-
    // duplicate rate, quality-gate pass rate per (source, lang) slice) ----
    "q93_dataset_card" -> ((s, dir) =>
      Profile.datasetCard(t(s, dir, "documents"), Seq("source", "lang"), "text")),

    // ---- corpus release diff: the previous release is derived
    // deterministically from md5(doc_id) slices (one slice dropped =
    // 'added' now, one slice content-perturbed = 'changed', one slice of
    // synthetic extra ids = 'removed'); only digests shuffle ----
    "q94_release_diff" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pfx = substring(md5(col("doc_id").cast("string")), 1, 1)
      val prev = docs.filter(pfx =!= "f")
        .select(col("doc_id"),
          when(pfx === "0", concat(col("text"), lit(" legacy")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(pfx === "e")
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Versioning.corpusDiff(prev, docs, Seq("doc_id"), Seq("text"))
    },

    // ---- sliding-window training-sample extraction: overlapping 32-token
    // context windows at stride 16, one linear kernel pass per document ----
    "q95_train_windows" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        posexplode(GraftFunctions.chunk_text_stride(col("text"), 32, 16))
          .as(Seq("chunk_idx", "chunk")))),

    "q71_interleaved" -> ((s, dir) =>
      Spans.interleavedTokenStream(
        Spans.chunkedSpanRows(t(s, dir, "documents"), chunkSize = 8),
        mediaTokens = 64)),

    "q72_balance" -> ((s, dir) =>
      Sampling.balanceUpsample(t(s, dir, "documents"), "lang", "doc_id",
        tieCol = "doc_id", capPct = 300L)
        .select("doc_id", "lang", "source", "epoch")),

    // ---- link-graph PageRank (crawl-priority authority score) over a
    // deterministic data-derived edge list: 3 out-links per doc via
    // (doc_id*m + n_chars) mod N, docs with n_chars%7==0 dangling ----
    "q73_pagerank" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val nTab = docs.agg(count(lit(1)).as("_n"))
      val base = docs.filter(col("n_chars") % 7 =!= 0)
        .select(col("doc_id"), col("n_chars"))
        .crossJoin(broadcast(nTab))
      val edges = Seq(7L, 11L, 13L).map { m =>
        base.select(col("doc_id").as("src"),
            ((col("doc_id") * m + col("n_chars")) % col("_n")).as("dst"))
          .filter(col("dst") =!= col("src"))
      }.reduce(_ unionByName _)
      Graph.pageRank(docs.select(col("doc_id")), edges,
          idCol = "doc_id", iterations = 5, damping = 0.85)
        .select(col("id").as("doc_id"), col("rank"))
    },

    // ---- column-level data profiling (one scan, one aggregate) ----
    "q74_profile" -> ((s, dir) =>
      Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),

    // ---- BM25 ranked retrieval (Okapi k1=1.2 b=0.75) for a fixed query
    // over the corpus; per-term scores and the ascending-term total are
    // single fixed-order double expressions mirrored by the oracle ----
    "q90_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Search(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("customer", "merge", "window"), topK = 10)),

    // ---- hashed-feature linear quality model (fasttext-shaped filter):
    // 256-bucket md5 feature hashing x deterministic integer micro-weights,
    // exact integer score, keep = score >= 0 ----
    "q91_quality_model" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(t(s, dir, "documents"), "doc_id", "text",
        hexChars = 2, threshold = 0L)),

    // ---- corpus-LM document scoring (bigram log-frequency familiarity;
    // gram strings collapse to 8-byte hashes before any shuffle) ----
    "q75_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")),

    // ---- BPE tokenizer training (Sennrich et al. 2016) — merge stats
    // live on the word-TYPE table, one collected argmax row per round.
    // Learning is deterministic per corpus, so q76/q77 share one memoized
    // run (the cachedCrawl pattern) ----
    "q76_bpe_learn" -> { (s, dir) =>
      import s.implicits._
      bpeLearned(s, dir).toDF("rank", "left", "right", "merged", "pair_count")
    },

    // ---- BPE segmentation with the learned merges: the corpus streams
    // through numMerges chained kernel steps, no pre-agg shuffle ----
    "q77_bpe_segment" -> { (s, dir) =>
      val merges = bpeLearned(s, dir).map(m => (m._2, m._3))
      Bpe.applyMerges(t(s, dir, "documents"), "text", merges)
        .select(explode(col("subwords")).as("subword"))
        .groupBy("subword").agg(count(lit(1)).as("n_occ"))
    },

    // ---- inverted index (search layer; head-cut caps stopword postings).
    // The postings list rides as a canonical comma-joined string so the
    // driver's dtype-sensitive hash can adjudicate it (pandas cannot hash a
    // raw LIST column) ----
    "q80_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
        minDf = 3L, maxDf = 400L)
        .withColumn("postings",
          array_join(col("postings").cast("array<string>"), ","))),

    // ---- PMI collocations (phrase mining; single fixed-order double
    // expression on both sides, 6 dp) ----
    "q81_pmi" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"), "text", minCount = 5L)),

    // ---- text canonicalization for dedup keying (NFC + lowercase +
    // whitespace collapse). The corpus is ASCII-lowercase already, so the
    // query builds hard input deterministically per row: mixed case, tab/
    // newline runs, decomposed Korean jamo (U+1100 U+1161 U+110B U+1166
    // -> 가에) and a combining acute (CaFE + U+0301 -> café) — every
    // interesting path of the kernel is value-checked against DuckDB's
    // nfc_normalize ----
    "q82_normalize_text" -> { (s, dir) =>
      val messy = concat(
        lit("  MiXeD \t"), upper(substring(col("text"), 1, 40)), lit("\n"),
        lit("\u1100\u1161\u110B\u1166"), lit(" CaFE\u0301"), lit("  tail  "))
      t(s, dir, "documents")
        .select(col("doc_id"), GraftFunctions.normalize_text(messy).as("norm"))
    },

    // ---- deterministic k-means corpus clustering (semantic curation:
    // SemDeDup / cluster-balanced sampling). The whole Lloyd loop runs in
    // micro-unit INTEGER arithmetic (quantized vectors, floor-div
    // centroid means, exact integer squared-L2), so the DuckDB oracle
    // replays it bit-for-bit — float accumulation order never enters ----
    "q83_kmeans" -> ((s, dir) => cachedKmeans(s, dir)),

    // ---- cluster-balanced diversity sampling (SemDeDup selection): cap
    // each semantic cluster at 20 rows in engine-portable md5 order ----
    "q84_cluster_sample" -> ((s, dir) =>
      Similarity.clusterBalancedSampleFrom(t(s, dir, "embeddings"), "vec_id",
        cachedKmeans(s, dir), perCluster = 20)
        .select(col("vec_id"), col("label"), col("cluster"))),

    // ---- SemDeDup: near-dup removal WITHIN semantic clusters (pairs
    // across clusters are by design not evaluated — the Σ n_c² economics
    // of the method); kept corpus value-exact incl. cluster labels ----
    "q85_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedupFrom(t(s, dir, "embeddings"), "vec_id",
        "embedding", cachedKmeans(s, dir), threshold = 0.4)
        .select(col("vec_id"), col("label"), col("cluster"))),

    // ---- the COMPOSED embedding-dedup pipeline (q53) on its 100-TB pair
    // stage: cluster-scoped pairs (SemDeDup Σ n_c² economics) instead of
    // the exact O(n²) tile join — the production configuration for large
    // corpora; shares the memoized k-means assignment with q83-q85 ----
    "q96_embedding_dedup_clustered" -> ((s, dir) =>
      Similarity.dedupCorpusByEmbedding(t(s, dir, "embeddings"),
        "vec_id", "embedding", 0.4,
        Similarity.PairStage.Clustered(assign = Some(cachedKmeans(s, dir))))
        .select(col("vec_id"))),

    // ---- change-rate-aware recrawl scheduling (daemon cron generalized:
    // per-site cadence from observed posting rate, integer-exact) ----
    "q79_recrawl" -> ((s, dir) =>
      graft.operators.Recrawl.schedule(
        t(s, dir, "orders").select(col("o_orderpriority").as("site_id"),
          col("o_orderdate").as("created_at")),
        "site_id", "created_at", targetBatch = 30,
        minMinutes = 60, maxMinutes = 7L * 24 * 60)),

    // ---- site-level boilerplate removal (line-df template cleaning);
    // line strings never shuffle (hashed df agg), boilerplate set rides
    // back as a broadcast per-group array, strip is map-side ----
    "q78_boilerplate" -> { (s, dir) =>
      val docs = t(s, dir, "documents").withColumn("ml_text",
        array_join(GraftFunctions.chunk_text(col("text"), 2), "\n"))
      graft.operators.Boilerplate.strip(docs, "source", "doc_id", "ml_text", 16, 100)
        .select(col("doc_id"), col("ml_text").as("clean_text"),
          col("n_lines"), col("n_removed"))
    },

    // ---- cross-corpus SPAN dedup on the input_hint interleaved shape:
    // paragraph-grained chunks, global first-occurrence winner per payload,
    // one 8-byte-hash-keyed exchange ----
    "q65_span_dedup" -> ((s, dir) =>
      Spans.dedupSpans(Spans.chunkedSpanRows(t(s, dir, "documents"), chunkSize = 8))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          sum(when(col("kind") === "text", 1L).otherwise(0L)).as("n_text_kept"))),

    // ---- Gopher-style repetition features (dup-token / top-token /
    // dup-bigram fractions) ----
    "q66_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionFeatures(t(s, dir, "documents"), "doc_id", "text")),

    // ---- PII scrub over deterministically PII-injected text; the SAME
    // RE2-subset regexes run in Spark codegen and in the DuckDB oracle ----
    "q67_pii_scrub" -> { (s, dir) =>
      val noisy = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com or 02-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-1234"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc admin"), col("doc_id").cast("string"), lit("@ssu.ac.kr")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.piiScrub(noisy).as("p"))
        .select(col("doc_id"), col("p.clean_text").as("clean_text"),
          col("p.n_emails").as("n_emails"), col("p.n_phones").as("n_phones"))
    },

    // ---- calendar path: year-page parse (P14) -> replace-in-range ->
    // ICS render with DTEND (K3/M3/M4) ----
    "q44_calendar" -> { (s, _) =>
      import s.implicits._
      val out = graft.crawl.Pipeline.runCalendar(s,
        s.emptyDataset[graft.model.CalendarEvent].toDF(),
        Timestamp.valueOf("2026-01-01 00:00:00"), Timestamp.valueOf("2026-12-31 23:59:59"),
        scale = crawlCfg.scale)
      out.events.select("id", "title", "starts_at", "ends_at")
    }
  )

  /** Daemon-production-shaped crawl config (limit 30, daemon.yml:26-29). */
  private val crawlCfg = graft.crawl.Crawl.Config(scale = 100, limitPerSite = 30)

  /** `f` memoized per (session, key): each pair computes once, and every
    * later call with it shares the value. Nothing evicts an entry. Each
    * memo has its own map, so one memo's computation may call another. */
  private def memo[K, V](f: (SparkSession, K) => V): (SparkSession, K) => V = {
    val m = new java.util.concurrent.ConcurrentHashMap[(SparkSession, K), V]()
    (s, k) => m.computeIfAbsent((s, k), _ => f(s, k))
  }

  /** q26, q51 and q52 all derive from the SAME exact-Jaccard pair table
    * (and q51/q52 from the same transitive clusters) — the "detect once,
    * consume many" dedup-pipeline shape. One staged pair table + one
    * cluster table per (session, sf dir), the cachedKmeans pattern. */
  private val cachedNgramPairs = memo[String, DataFrame]((s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.5,
      maxShingleFreq = 20L).localCheckpoint(eager = false))
  private val cachedNgramClusters = memo[String, DataFrame]((s, dir) =>
    Dedup.nearDupClusters(cachedNgramPairs(s, dir)))

  /** The streaming fixtures carry a few thousand keys; the state-store /
    * shuffle partition count should track state size, not the host's core
    * count (guide §2: scale-adaptive partitioning) — 32 HDFS-backed state
    * stores re-committing per micro-batch is pure per-trigger overhead.
    * Fixed at 4 here; production streams size this to their key cardinality. */
  private def withStreamShuffle[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, "4")
    try f finally s.conf.set(key, old)
  }

  /** Sets the mtime of `dir` and everything under it to minute `order`
    * after a fixed epoch, so a file source's (timestamp, path) order
    * replays a streaming fixture's dirs in `order` order. */
  private def stampMtime(dir: String, order: Int): Unit = {
    val t = java.nio.file.attribute.FileTime.fromMillis(1000000000000L + order * 60000L)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.forEach(p => java.nio.file.Files.setLastModifiedTime(p, t))
    finally walk.close()
  }

  /** Stages a streaming fixture: ONE partitioned write of `df` by its long
    * chunk id `_b` emits every micro-batch dir, then each is renamed into
    * the watched layout `<tmp>/in/b<i>.parquet` and mtime-stamped with its
    * chunk id. Returns the chunk count. */
  private def stageStreamChunks(df: DataFrame, tmp: String): Int = {
    df.write.partitionBy("_b").parquet(s"$tmp/stage")
    val in = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/stage"))
    val nChunks = try {
      var k = 0
      parts.filter(p => p.getFileName.toString.startsWith("_b=")).forEach { p =>
        val i = p.getFileName.toString.stripPrefix("_b=").toInt
        java.nio.file.Files.move(p, in.resolve(s"b$i.parquet"))
        k = math.max(k, i + 1)
      }
      k
    } finally parts.close()
    (0 until nChunks).foreach(i => stampMtime(s"$tmp/in/b$i.parquet", i))
    nChunks
  }

  /** Learned BPE merge table per (session, sf dir) — q76 and q77 both
    * need it; learning is deterministic, so one run serves both. */
  private val bpeLearned = memo[String, Seq[(Int, String, String, String, Long)]]((s, dir) =>
    operators.Bpe.learnMerges(
        operators.Bpe.wordCounts(t(s, dir, "documents"), "text"), 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq.sortBy(_._1))

  /** Clustering is deterministic per corpus, so q83/q84/q85 share one
    * memoized k-means assignment (the real-pipeline shape: cluster once,
    * derive dedup/sampling/stats from the same assignment). The staged
    * checkpoint holds (id, cluster, dist_q) only — rows, not vectors. */
  private val cachedKmeans = memo[String, DataFrame]((s, dir) =>
    Similarity.kmeansClusters(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 8, iters = 3).localCheckpoint())

  /** The crawl is deterministic, so queries q34..q44 share one memoized
    * run per (session, config) instead of re-crawling 8 times in Verify. */
  private val cachedCrawl =
    memo[graft.crawl.Crawl.Config, graft.crawl.Crawl.Result](graft.crawl.Crawl.run)

  /** q37 and q38 both need the SAME rev-0 daemon run (crawl -> merge ->
    * feeds over the empty cache): share one, fed by the memoized crawl
    * stage. The run stages its merged cache slice, so the recrawl query
    * doesn't recompute the rev-0 merge. */
  private val cachedDaemonRun0 = memo[Unit, graft.crawl.Pipeline.Output]((s, _) =>
    graft.crawl.Pipeline.runDaemon(crawlCfg, cachedCrawl(s, crawlCfg),
      graft.crawl.Pipeline.emptyCache(s), mergeNow, topK = 30))

  /**
   * BPE oracle generator: unrolls `rounds` merge iterations as a DuckDB
   * CTE chain (the q73 PageRank treatment). The merge step itself is SQL
   * because each word rides as a separator-wrapped symbol string
   * (" l  o …"), where `replace()` — non-
   * overlapping, left-to-right — IS the BPE merge semantics of Sennrich
   * et al. alg. 1 ("aaa" under merge (a,a) → ["aa","a"]). `finalSelect`
   * reads from `b0..b{rounds-1}` (per-round argmax pairs) and/or
   * `w{rounds}` (fully merged words, weight n).
   */
  /** The q83/q84 oracle's Lloyd replay: CTEs `q` (micro-unit quantized
    * vectors), `c0` (md5-order seed centroids), then `a1..a<iters>`
    * assignment steps interleaved with `u/c` floor-div centroid updates —
    * every value BIGINT, mirroring Similarity.kmeansClusters exactly. */
  /** Bit-exact integer-Lloyd replay (the q83 technique). `trainLimit > 0`
    * bounds training to the md5-order-smallest sample (the IVF coarse
    * quantizer's protocol): init and the training assignments read the
    * `tr` CTE while the FINAL assignment (`a$iters`) still covers the full
    * corpus — exactly [[graft.operators.Similarity.ivfTopK]]'s split. */
  private def kmeansOracleCtes(dim: Int, k: Int, iters: Int,
      trainLimit: Long = 0): String = {
    def assign(m: Int) = {
      val src = if (trainLimit > 0 && m < iters) "tr" else "q"
      s"""a$m AS (SELECT vec_id, c, d FROM (
         |  SELECT q.vec_id, ct.c,
         |    CAST(list_sum(list_transform(range(1, ${dim + 1}),
         |      i -> (q.qv[i] - ct.qv[i]) * (q.qv[i] - ct.qv[i]))) AS BIGINT) AS d
         |  FROM $src q CROSS JOIN c${m - 1} ct) t
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) = 1)""".stripMargin
    }
    def update(m: Int) =
      s"""u$m AS (SELECT a.c, i.i, CAST(sum(q.qv[i.i]) AS BIGINT) AS s, count(*) AS n
         |  FROM a$m a JOIN q USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) i
         |  GROUP BY a.c, i.i),
         |c$m AS (SELECT p.c,
         |  CASE WHEN count(u.i) = 0 THEN any_value(p.qv)
         |       ELSE list(CAST((u.s - ((u.s % u.n + u.n) % u.n)) / u.n AS BIGINT)
         |                 ORDER BY u.i) END AS qv
         |  FROM c${m - 1} p LEFT JOIN u$m u ON u.c = p.c GROUP BY p.c)""".stripMargin
    val ctes = Seq(
      s"""q AS (SELECT vec_id, list_transform(embedding,
         |  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
         |  FROM embeddings)""".stripMargin) ++
      (if (trainLimit > 0)
        Seq(s"""tr AS (SELECT vec_id, qv FROM q
                |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $trainLimit)""".stripMargin)
       else Seq.empty) ++
      Seq(
      s"""c0 AS (SELECT c, qv FROM (SELECT qv,
         |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c
         |  FROM q) WHERE c < $k)""".stripMargin) ++
      (1 until iters).flatMap(m => Seq(assign(m), update(m))) :+ assign(iters)
    ctes.mkString(",\n")
  }

  /**
   * q34/q35/q36/q49 oracle base: the frontier crawl replayed in SQL. The
   * site registry (static input config) rides as literal VALUES; every
   * piece of crawl BEHAVIOR is recomputed independently in DuckDB —
   * Zipf post counts ceil(scale/rank), rev-0 visibility (multiples of 23
   * hidden), per-site limit pushdown, the static pagination fan-out
   * (lastPage seeds at wave 0, reference ssucatch lib.rs:261-295), the
   * newest-first idAt closed form (q-th non-multiple of 23 = q+(q-1)/22),
   * the per-family URL grammar (gnuboard mod.rs:84-147 and SURVEY §2.1
   * S1-S9) with RFC-3986 canonical query-param sorting, shared-host
   * politeness buckets (max robots delay per host), and the per-host
   * virtual clock rank*(delay) in (depth, site_id, page, row) order.
   * Produces CTEs `w0r` (wave-0 list rows) and `w1r` (wave-1 post rows)
   * with columns (wave, host, canonical, site_id, page, "row", ready_ms,
   * crawl_delay_ms).
   */
  private def crawlOracleCtes(scale: Long, limit: Long): String = {
    // idhash = java String.hashCode of the site id, sign-extended to 64
    // bits and held unsigned — the content seed fetchPost mixes with
    // (pure function of the registry, emitted as literal config)
    def idhash(id: String): BigInt = {
      val h = BigInt(id.hashCode.toLong)
      if (h < 0) h + (BigInt(1) << 64) else h
    }
    val siteValues = graft.crawl.Sites.all.map(s =>
      s"('${s.site_id}', '${s.host}', '${s.base_url}', '${s.family}', " +
        s"${s.page_size}, ${s.crawl_delay_ms}, ${s.zipf_rank}, ${idhash(s.site_id)})")
      .mkString(",\n    ")
    // canonical list-page / post URL per family: the two sites whose base
    // query params sort AFTER the appended param (materials tbl=, ssudorm
    // viewform=) are spelled out in canonical order
    val listCanon =
      """CASE family
        |  WHEN 'gnuboard' THEN concat(base_url, '&page=', page)
        |  WHEN 'wordpress' THEN concat(base_url, '/page/', page)
        |  WHEN 'ssucatch' THEN concat(base_url, '?paged=', page)
        |  WHEN 'offset' THEN CASE site_id
        |    WHEN 'materials.ssu.ac.kr' THEN concat(
        |      'https://materials.ssu.ac.kr/bbs/board.php?offset=',
        |      (page - 1) * page_size, '&tbl=bbs51')
        |    WHEN 'ssudorm.ssu.ac.kr' THEN concat(
        |      'https://ssudorm.ssu.ac.kr:444/SShostel/mall_main.php?offset=',
        |      (page - 1) * page_size, '&viewform=B0001_noticeboard_list')
        |    WHEN 'biz.ssu.ac.kr' THEN concat(base_url, '&offset=', (page - 1) * page_size)
        |    ELSE concat(base_url, '?offset=', (page - 1) * page_size) END
        |  WHEN 'cursor' THEN concat(base_url, '?LastNoticeIndex=', (page - 1) * page_size)
        |  WHEN 'api' THEN concat(base_url, '/api/board?page=', page, '&size=', page_size)
        |  WHEN 'lz' THEN concat(base_url, '?page=', page)
        |  WHEN 'auth' THEN concat(base_url, '?pageIndex=', page)
        |  WHEN 'calendar' THEN concat(base_url, '?years=', 2024 + page)
        |END""".stripMargin
    val postCanon =
      """CASE family
        |  WHEN 'gnuboard' THEN concat(base_url, '&wr_id=', post_id)
        |  WHEN 'wordpress' THEN concat(base_url, '/?slug=post-', post_id)
        |  WHEN 'ssucatch' THEN concat(base_url, '?slug=notice-', post_id)
        |  WHEN 'offset' THEN CASE site_id
        |    WHEN 'materials.ssu.ac.kr' THEN concat(
        |      'https://materials.ssu.ac.kr/bbs/board.php?idx=', post_id, '&tbl=bbs51')
        |    WHEN 'ssudorm.ssu.ac.kr' THEN concat(
        |      'https://ssudorm.ssu.ac.kr:444/SShostel/mall_main.php?idx=', post_id,
        |      '&viewform=B0001_noticeboard_list')
        |    WHEN 'biz.ssu.ac.kr' THEN concat(base_url, '&idx=', post_id)
        |    ELSE concat(base_url, '?idx=', post_id) END
        |  WHEN 'cursor' THEN concat(base_url, '/view?no=', post_id)
        |  WHEN 'api' THEN concat(base_url, '/api/post?id=', post_id)
        |  WHEN 'lz' THEN concat(replace(base_url, 'notice_list.do', 'notice_view.do'),
        |    '?sbSeq=', to_base64(CAST(CAST(post_id AS VARCHAR) AS BLOB)))
        |  WHEN 'auth' THEN concat(base_url, '?encSddpbSeq=enc', post_id)
        |  WHEN 'calendar' THEN concat(base_url, '?event=', post_id)
        |END""".stripMargin
    s"""sites(site_id, host, base_url, family, page_size, delay_site, zipf_rank, idhash) AS (VALUES
       |    $siteValues),
       |hosts AS (SELECT host, max(delay_site) AS crawl_delay_ms FROM sites GROUP BY 1),
       |s1 AS (SELECT sites.*, hosts.crawl_delay_ms,
       |  CAST(ceil($scale * 1.0 / zipf_rank) AS BIGINT) AS total0
       |  FROM sites JOIN hosts USING (host)),
       |s2 AS (SELECT *, total0 - total0 // 23 AS visible,
       |  least(total0 - total0 // 23, $limit) AS wanted FROM s1),
       |s3 AS (SELECT *, CASE WHEN family = 'calendar' THEN 2
       |  ELSE greatest(1, (wanted + page_size - 1) // page_size) END AS last_page FROM s2),
       |w0 AS (SELECT site_id, host, family, base_url, page_size, crawl_delay_ms,
       |    total0, wanted, idhash, CAST(unnest(range(1, last_page + 1)) AS INT) AS page
       |  FROM s3),
       |w0r AS (SELECT 0 AS wave, host, $listCanon AS canonical, site_id, page,
       |  0 AS "row",
       |  CAST((row_number() OVER (PARTITION BY host ORDER BY site_id, page) - 1)
       |    * crawl_delay_ms AS BIGINT) AS ready_ms,
       |  CAST(crawl_delay_ms AS INT) AS crawl_delay_ms FROM w0),
       |p0 AS (SELECT *, (page - 1) * CAST(page_size AS BIGINT) AS page_start,
       |  least(page_size, wanted - (page - 1) * CAST(page_size AS BIGINT)) AS on_page
       |  FROM w0),
       |p1 AS (SELECT *, CAST(unnest(range(0, on_page)) AS INT) AS r
       |  FROM p0 WHERE on_page > 0),
       |p2 AS (SELECT *,
       |  (visible - pos) + ((visible - pos) - 1) // 22 AS post_id FROM (
       |    SELECT *, total0 - total0 // 23 AS visible, page_start + r AS pos FROM p1)),
       |w1r AS (SELECT 1 AS wave, host, $postCanon AS canonical, site_id, page,
       |  r AS "row",
       |  CAST((row_number() OVER (PARTITION BY host ORDER BY site_id, page, r) - 1)
       |    * crawl_delay_ms AS BIGINT) AS ready_ms,
       |  CAST(crawl_delay_ms AS INT) AS crawl_delay_ms FROM p2)""".stripMargin
  }

  /**
   * q44 oracle: the calendar year-page generation + parse + range pipeline
   * replayed in DuckDB. The synthetic page's splitmix64-style `mix`
   * finalizer (SyntheticWeb.mix) is emulated bit-exactly in HUGEINT
   * arithmetic (wrapping 64-bit multiply = split-word mod-2^64; unsigned
   * shift = floor-div), so event counts, days, and vocab picks replay
   * exactly; then the CalendarParser range-dialect inference
   * (single day / same-month / day-only-next-month / cross-year December,
   * lib.rs:197-271), KST timestamps as UTC instants, and the
   * `{id}:{start}:{end}:{slug}` event id (lib.rs:332-369) are recomputed
   * independently in SQL.
   */
  /** Wrapping 64-bit multiply in DuckDB HUGEINT: split-word mod-2^64
    * (a*b mod 2^64 = lo(a)*b + (hi(a)*lo(b) mod 2^32)<<32, all < 2^97). */
  private def mw64(a: String, b: String): String =
    s"((($a) % 4294967296) * ($b) + ((($a) // 4294967296) * (($b) % 4294967296)" +
      s" % 4294967296) * 4294967296) % 18446744073709551616"

  /** One SyntheticWeb.mix(x, y) = 6 chained CTEs in HUGEINT (staged
    * columns keep the expression tree linear instead of exponentiating
    * through the xor-shift reuses). The final CTE is named `${p}6` and
    * exposes the result column `$p`. */
  private def mixChain(p: String, from: String, xExpr: String, yExpr: String): String = {
    val C1 = "11400714819323198485::HUGEINT"
    val C2 = "13787848793156543929::HUGEINT"
    val C3 = "10723151780598845931::HUGEINT"
    s"""${p}1 AS (SELECT *, xor(CAST($xExpr AS HUGEINT), ${mw64(s"CAST($yExpr AS HUGEINT)", C1)}) AS ${p}_h0 FROM $from),
       |${p}2 AS (SELECT *, xor(${p}_h0, ${p}_h0 // 1073741824) AS ${p}_h1 FROM ${p}1),
       |${p}3 AS (SELECT *, ${mw64(s"${p}_h1", C2)} AS ${p}_h2 FROM ${p}2),
       |${p}4 AS (SELECT *, xor(${p}_h2, ${p}_h2 // 134217728) AS ${p}_h3 FROM ${p}3),
       |${p}5 AS (SELECT *, ${mw64(s"${p}_h3", C3)} AS ${p}_h4 FROM ${p}4),
       |${p}6 AS (SELECT *, xor(${p}_h4, ${p}_h4 // 2147483648) AS $p FROM ${p}5)""".stripMargin
  }

  /** |signed interpretation| of an unsigned-held 64-bit HUGEINT. */
  private def absu(h: String): String =
    s"(CASE WHEN $h < 9223372036854775808::HUGEINT THEN $h" +
      s" ELSE 18446744073709551616::HUGEINT - $h END)"

  private def calendarOracleSql(scale: Long, year: Int): String = {
    val vocabLit = graft.crawl.SyntheticWeb.vocabWords
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH months AS (SELECT CAST(unnest(range(1, 13)) AS INT) AS m),
       |${mixChain("hy", "months", scale.toString, year.toString)},
       |${mixChain("hm", "hy6", "hy", "m")},
       |ev0 AS (SELECT m, hm, CAST(1 + ${absu("hm")} % 3 AS INT) AS n_events FROM hm6),
       |ev1 AS (SELECT m, hm, CAST(unnest(range(0, n_events)) AS INT) AS k FROM ev0),
       |${mixChain("hk", "ev1", "hm", "k")},
       |ev2 AS (SELECT m, k, hk, CAST(1 + ${absu("hk")} % 20 AS INT) AS day FROM hk6),
       |${mixChain("g1", "ev2", "hk", "1")},
       |${mixChain("g2", "g16", "hk", "2")},
       |ev3 AS (SELECT m, k, hk, day,
       |  list_extract($vocabLit, CAST(${absu("g1")} % 32 AS INT) + 1) AS w1,
       |  list_extract($vocabLit, CAST(${absu("g2")} % 32 AS INT) + 1) AS w2
       |  FROM g26),
       |ev4 AS (SELECT *, concat($year, '학년도 ', w1, ' ', w2, ' (', m, '-', k, ')') AS title,
       |  CASE WHEN k % 3 = 0 AND m = 12 THEN 28 ELSE day END AS sd,
       |  CASE
       |    WHEN k % 3 = 0 AND m = 12 THEN $year + 1
       |    WHEN k % 3 = 2 AND day > 1 AND m = 12 THEN $year + 1
       |    ELSE $year END AS ey,
       |  CASE
       |    WHEN k % 3 = 0 AND m = 12 THEN 1
       |    WHEN k % 3 = 0 THEN m
       |    WHEN k % 3 = 1 THEN m
       |    WHEN day > 1 THEN m % 12 + 1
       |    ELSE m END AS em,
       |  CASE
       |    WHEN k % 3 = 0 AND m = 12 THEN 1 + CAST(${absu("hk")} % 5 AS INT)
       |    WHEN k % 3 = 0 THEN day
       |    WHEN k % 3 = 1 THEN day + 5
       |    ELSE greatest(1, day - 1) END AS ed
       |  FROM ev3),
       |ev5 AS (SELECT title,
       |  concat('ssu-academic-calendar:',
       |    strftime(make_date($year, m, sd), '%Y-%m-%d'), ':',
       |    strftime(make_date(ey, em, ed), '%Y-%m-%d'), ':',
       |    trim(regexp_replace(lower(title), '[^\\p{L}\\p{N}]+', '-', 'g'), '-')) AS id,
       |  make_timestamp($year, m, sd, 0, 0, 0) - INTERVAL 9 HOUR AS starts_at,
       |  make_timestamp(ey, em, ed, 23, 59, 59) - INTERVAL 9 HOUR AS ends_at
       |  FROM ev4)
       |SELECT id, title, starts_at, ends_at FROM ev5
       |WHERE starts_at BETWEEN TIMESTAMP '$year-01-01 00:00:00'
       |  AND TIMESTAMP '$year-12-31 23:59:59'""".stripMargin
  }

  /**
   * q28 oracle: the engine's SimHash (FNV-1a-64 token hash, per-bit
   * majority vote, 16-bit pigeonhole blocks) replayed bit-exactly in
   * DuckDB — FNV's wrapping multiply folds through HUGEINT ([[mw64]]),
   * the UTF-8 byte stream comes from hex-decoding `encode(token)`, and
   * the block join + hamming verify mirror Dedup.simhashPairs. The block
   * scheme is EXACT for hamming <= 3 (pigeonhole over 4 blocks), so this
   * checks the full output, not a recall sample.
   */
  private def simhashOracleSql(maxDist: Int): String = {
    val bitsVals = (0 until 64).map(b => s"($b, ${BigInt(1) << b}::HUGEINT)").mkString(", ")
    val fnvFold = mw64("xor(acc, CAST(x AS HUGEINT))", "1099511628211::HUGEINT")
    s"""WITH tok0 AS (SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS t
       |  FROM documents),
       |toks AS (SELECT doc_id, t, count(*) AS w FROM tok0 GROUP BY 1, 2),
       |dist AS (SELECT DISTINCT t FROM toks),
       |by0 AS (SELECT t, lower(to_hex(encode(t))) AS hx FROM dist),
       |by1 AS (SELECT t, list_transform(range(1, octet_length(encode(t)) + 1),
       |  i -> 16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i-1 AS INT), 1)) - 1)
       |     + (strpos('0123456789abcdef', substr(hx, CAST(2*i AS INT), 1)) - 1)) AS bytes
       |  FROM by0),
       |fnv AS (SELECT t, list_reduce(
       |  list_prepend(14695981039346656037::HUGEINT, bytes),
       |  (acc, x) -> $fnvFold) AS h FROM by1),
       |bits(b, p) AS (VALUES $bitsVals),
       |votes AS (SELECT doc_id, b, p,
       |  sum(CASE WHEN (h // p) % 2 = 1 THEN w ELSE -w END) AS v
       |  FROM toks JOIN fnv USING (t) CROSS JOIN bits GROUP BY 1, 2, 3),
       |sigu AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN p ELSE 0::HUGEINT END) AS su
       |  FROM votes GROUP BY 1),
       |sig AS (SELECT doc_id, su, CAST(CASE WHEN su >= 9223372036854775808::HUGEINT
       |  THEN su - 18446744073709551616::HUGEINT ELSE su END AS BIGINT) AS ss FROM sigu),
       |shifts(blk, q) AS (VALUES (0, 1::HUGEINT), (1, 65536::HUGEINT),
       |  (2, 4294967296::HUGEINT), (3, 281474976710656::HUGEINT)),
       |keys AS (SELECT doc_id, ss, blk, (su // q) % 65536 AS key FROM sig CROSS JOIN shifts),
       |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.ss AS sa, r.ss AS sb
       |  FROM keys l JOIN keys r ON l.blk = r.blk AND l.key = r.key
       |  AND l.doc_id < r.doc_id)
       |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= $maxDist""".stripMargin
  }

  /**
   * q30 oracle: the hyperplane-LSH ANN pipeline replayed in DuckDB. The
   * kernel's plane components are XXH64 chains
   * (`hashLong(t*7919+13, hashInt(i, hashInt(p, 42)))` /
   * Long.MaxValue — GraftFunctions.hyperplaneSigs), and XXH64's 4/8-byte
   * paths are short fixed-round functions, so they emulate bit-exactly in
   * HUGEINT (wrapping multiply via [[mw64]], rotations as shift-sums,
   * unsigned shifts as floor-div). The 16x4x64 component table is built
   * once; per-vector dots replay the kernel's i-ascending accumulation
   * order as an ordered list fold (IEEE-identical), buckets, candidate
   * join, exact cosine verify and top-k then mirror Similarity.lshTopK.
   * This checks the detector's ACTUAL candidates — including its misses —
   * not a recall sample.
   */
  private def lshTopKOracleSql(bits: Int, tables: Int, dim: Int, k: Int): String = {
    val M = "18446744073709551616"
    val P1 = "11400714785074694791::HUGEINT"
    val P2 = "14029467366897019727::HUGEINT"
    val P3 = "1609587929392839161::HUGEINT"
    val P4 = "9650029242287828579::HUGEINT"
    val P5 = "2870177450012600261::HUGEINT"
    def rotl(x: String, r: Int) =
      s"((($x) * ${BigInt(1) << r} % $M) + (($x) // ${BigInt(1) << (64 - r)}))"
    def fmix(pfx: String, src: String, from: String) =
      s"""${pfx}f1 AS (SELECT *, xor($src, $src // 8589934592) AS ${pfx}_m1 FROM $from),
         |${pfx}f2 AS (SELECT *, ${mw64(s"${pfx}_m1", P2)} AS ${pfx}_m2 FROM ${pfx}f1),
         |${pfx}f3 AS (SELECT *, xor(${pfx}_m2, ${pfx}_m2 // 536870912) AS ${pfx}_m3 FROM ${pfx}f2),
         |${pfx}f4 AS (SELECT *, ${mw64(s"${pfx}_m3", P3)} AS ${pfx}_m4 FROM ${pfx}f3),
         |${pfx}z AS (SELECT *, xor(${pfx}_m4, ${pfx}_m4 // 4294967296) AS $pfx FROM ${pfx}f4)""".stripMargin
    // XXH64.hashInt(input, seed): 4-byte path
    def xxhInt(pfx: String, from: String, input: String, seed: String) =
      s"""${pfx}a AS (SELECT *, (($seed) + $P5 + 4) % $M AS ${pfx}_a FROM $from),
         |${pfx}b AS (SELECT *, xor(${pfx}_a, ${mw64(input, P1)}) AS ${pfx}_b FROM ${pfx}a),
         |${pfx}c AS (SELECT *, (${mw64(rotl(s"${pfx}_b", 23), P2)} + $P3) % $M AS ${pfx}_c FROM ${pfx}b),
         |${fmix(pfx, s"${pfx}_c", s"${pfx}c")}""".stripMargin
    // XXH64.hashLong(input, seed): 8-byte path
    def xxhLong(pfx: String, from: String, input: String, seed: String) =
      s"""${pfx}a AS (SELECT *, (($seed) + $P5 + 8) % $M AS ${pfx}_a FROM $from),
         |${pfx}k AS (SELECT *, ${mw64(rotl(mw64(input, P2), 31), P1)} AS ${pfx}_k FROM ${pfx}a),
         |${pfx}b AS (SELECT *, xor(${pfx}_a, ${pfx}_k) AS ${pfx}_b FROM ${pfx}k),
         |${pfx}c AS (SELECT *, (${mw64(rotl(s"${pfx}_b", 27), P1)} + $P4) % $M AS ${pfx}_c FROM ${pfx}b),
         |${fmix(pfx, s"${pfx}_c", s"${pfx}c")}""".stripMargin
    s"""WITH ps AS (SELECT CAST(unnest(range(0, $bits)) AS HUGEINT) AS p),
       |${xxhInt("s1", "ps", "p", "42::HUGEINT")},
       |is0 AS (SELECT p, s1, CAST(unnest(range(0, $dim)) AS HUGEINT) AS i FROM s1z),
       |${xxhInt("h2", "is0", "i", "s1")},
       |ts0 AS (SELECT p, i, h2, CAST(unnest(range(0, $tables)) AS HUGEINT) AS t FROM h2z),
       |${xxhLong("cc", "ts0", "(t * 7919 + 13)", "h2")},
       |comps AS (SELECT CAST(t AS INT) AS t, CAST(p AS INT) AS p, CAST(i AS INT) AS i,
       |  CAST(CAST(CASE WHEN cc >= 9223372036854775808::HUGEINT
       |    THEN cc - 18446744073709551616::HUGEINT ELSE cc END AS BIGINT) AS DOUBLE)
       |    / CAST(9223372036854775807 AS DOUBLE) AS comp
       |  FROM ccz),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |prods AS (SELECT e.vec_id, c.t, c.p, c.i, e.v[c.i + 1] * c.comp AS prod
       |  FROM emb e CROSS JOIN comps c),
       |dots AS (SELECT vec_id, t, p,
       |  list_reduce(list_prepend(0.0, list(prod ORDER BY i)), (a, x) -> a + x) AS dot
       |  FROM prods GROUP BY 1, 2, 3),
       |sigs AS (SELECT vec_id, t,
       |  sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS bucket
       |  FROM dots GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, s.vec_id AS neighbor_id
       |  FROM sigs q JOIN sigs s ON q.t = s.t AND q.bucket = s.bucket
       |  WHERE q.vec_id < 10 AND q.vec_id <> s.vec_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS sim
       |  FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
       |  JOIN embeddings b ON b.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, rk, round(sim, 6) AS sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) AS rk FROM scored) WHERE rk <= $k""".stripMargin
  }

  /**
   * q43/q47 oracle: per-kind span counts of the crawled/connected posts,
   * recomputed from the content grammar — a post's content is one text
   * run optionally split by an <img> node (text spans = 1 + hasImage,
   * image spans = hasImage) plus an optional attachment
   * (hasImage = |h0| % 3 == 0, hasAttach = |h0| % 4 == 0, where h0 =
   * mix(mix(seed, hash(site_id)), 31·post_id) is the content seed —
   * replayed via [[mixChain]]).
   */
  private def spanCountsOracleSql(scale: Long, limit: Long,
      siteFilter: Seq[String] = Seq.empty): String = {
    val filter =
      if (siteFilter.isEmpty) ""
      else "WHERE site_id IN (" + siteFilter.map(s => s"'$s'").mkString(", ") + ")"
    s"""WITH ${crawlOracleCtes(scale, limit)},
       |posts AS (SELECT site_id, idhash, post_id FROM p2 $filter),
       |${mixChain("ma", "posts", "42", "idhash")},
       |${mixChain("h0", "ma6", "ma", "post_id * 31")},
       |feat AS (SELECT site_id, post_id,
       |  CASE WHEN ${absu("h0")} % 3 = 0 THEN 1 ELSE 0 END AS img,
       |  CASE WHEN ${absu("h0")} % 4 = 0 THEN 1 ELSE 0 END AS att
       |  FROM h06)
       |SELECT 'text' AS kind, CAST(sum(1 + img) AS BIGINT) AS n_spans,
       |  CAST(count(*) AS BIGINT) AS n_docs FROM feat HAVING count(*) > 0
       |UNION ALL
       |SELECT 'image', CAST(sum(img) AS BIGINT), CAST(sum(img) AS BIGINT)
       |  FROM feat HAVING sum(img) > 0
       |UNION ALL
       |SELECT 'attachment', CAST(sum(att) AS BIGINT), CAST(sum(att) AS BIGINT)
       |  FROM feat HAVING sum(att) > 0""".stripMargin
  }

  /**
   * q46 oracle: the DSv2 connector's per-site post volume and max content
   * length, recomputed from the content grammar — token count
   * 20 + |h0| % 60, per-token vocab picks |mix(h0, i)| % 32 (so content
   * length = Σ word lengths + (n-1) separators + the optional <img>
   * insert), h0 replayed via [[mixChain]].
   */
  private def dsv2OracleSql(scale: Long, limit: Long, sites: Seq[String]): String = {
    val vocabVals = graft.crawl.SyntheticWeb.vocabWords.zipWithIndex
      .map { case (w, i) => s"($i, '$w')" }.mkString(", ")
    s"""WITH ${crawlOracleCtes(scale, limit)},
       |vocab(vi, vw) AS (VALUES $vocabVals),
       |posts AS (SELECT site_id, host, idhash, post_id FROM p2
       |  WHERE site_id IN (${sites.map(s => s"'$s'").mkString(", ")})),
       |${mixChain("ma", "posts", "42", "idhash")},
       |${mixChain("h0", "ma6", "ma", "post_id * 31")},
       |pf AS (SELECT site_id, host, post_id, h0,
       |  CAST(20 + ${absu("h0")} % 60 AS INT) AS n_tokens,
       |  CASE WHEN ${absu("h0")} % 3 = 0 THEN 1 ELSE 0 END AS img
       |  FROM h06),
       |wi AS (SELECT site_id, host, post_id, h0, n_tokens, img,
       |  CAST(unnest(range(0, n_tokens)) AS INT) AS i FROM pf),
       |${mixChain("gw", "wi", "h0", "i")},
       |wl AS (SELECT site_id, host, post_id, n_tokens, img, length(v.vw) AS wlen
       |  FROM gw6 JOIN vocab v ON v.vi = CAST(${absu("gw")} % 32 AS INT)),
       |cl AS (SELECT site_id, host, post_id, any_value(n_tokens) AS n_tokens,
       |  any_value(img) AS img, sum(wlen) AS sumlen FROM wl GROUP BY 1, 2, 3),
       |len AS (SELECT site_id, sumlen + (n_tokens - 1) + img * (13 +
       |    length(concat('https://', host, '/files/img_', post_id, '.jpg')))
       |    AS content_len
       |  FROM cl)
       |SELECT site_id, CAST(count(*) AS BIGINT) AS n_posts,
       |  CAST(max(content_len) AS INT) AS max_content_len
       |FROM len GROUP BY 1""".stripMargin
  }

  /**
   * q37 oracle: the daemon's per-site feed byte sizes recomputed end to
   * end in DuckDB — posts replayed from the content grammar (mixChain),
   * then the RSS 2.0 channel (Sinks.Rss.channelXml/itemXml field order,
   * XML escaping, CDATA framing) and the serde-pretty per-site JSON
   * (SiteJson.pretty 2-space layout, SsufidPost declaration field order,
   * None as null, RFC3339 timestamps) rebuilt as literal strings and
   * measured with length(). Every byte of both serializers is replayed:
   * a one-character drift in either sink fails the hash.
   */
  private def feedsOracleSql(scale: Long, limit: Long): String = {
    val vocabVals = graft.crawl.SyntheticWeb.vocabWords.zipWithIndex
      .map { case (w, i) => s"($i, '$w')" }.mkString(", ")
    // XML escaping exactly as Rss.esc: & first, then < and >
    def xesc(e: String): String =
      s"replace(replace(replace($e, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    val nl = "chr(10)"
    // raw post URL (SyntheticWeb.postUrl — NOT the canonical form: the two
    // offset sites whose base params sort after idx keep raw append order)
    val rawUrl =
      """CASE family
        |  WHEN 'gnuboard' THEN concat(base_url, '&wr_id=', post_id)
        |  WHEN 'wordpress' THEN concat(base_url, '/?slug=post-', post_id)
        |  WHEN 'ssucatch' THEN concat(base_url, sep, 'slug=notice-', post_id)
        |  WHEN 'offset' THEN concat(base_url, sep, 'idx=', post_id)
        |  WHEN 'cursor' THEN concat(base_url, '/view?no=', post_id)
        |  WHEN 'api' THEN concat(base_url, '/api/post?id=', post_id)
        |  WHEN 'lz' THEN concat(replace(base_url, 'notice_list.do', 'notice_view.do'),
        |    sep, 'sbSeq=', to_base64(CAST(CAST(post_id AS VARCHAR) AS BLOB)))
        |  WHEN 'auth' THEN concat(base_url, sep, 'encSddpbSeq=enc', post_id)
        |  WHEN 'calendar' THEN concat(base_url, sep, 'event=', post_id)
        |END""".stripMargin
    val itemXml =
      "'<item>' || '<title>' || " + xesc("title") + " || '</title>'" +
        " || '<link>' || " + xesc("url") + " || '</link>'" +
        " || '<pubDate>' || strftime(created, '%a, %d %b %Y %H:%M:%S +0000') || '</pubDate>'" +
        " || '<guid isPermaLink=\"false\">' || post_id || '</guid>'" +
        " || '<description>' || " + xesc("descr") + " || '</description>'" +
        " || '<content:encoded><![CDATA[' || content || ']]></content:encoded>'" +
        " || CASE WHEN author IS NULL THEN '' ELSE '<author>' || author || '</author>' END" +
        " || CASE WHEN has_cat THEN '<category>공지</category>' ELSE '' END" +
        " || CASE WHEN img THEN '<enclosure url=\"' || " + xesc("img_ref") +
        " || '\" length=\"0\" type=\"image/jpeg\"/>' ELSE '' END" +
        " || '</item>'"
    // serde_json::to_string_pretty item block at 4-space array indent
    // (SiteJson.pretty + serdeShapedItem): every field, None -> null,
    // Jackson-escaped content (the <img src="..."> quotes become \")
    val itemJson = Seq(
      s"'    {' || $nl",
      s"'      \"id\": \"' || post_id || '\",' || $nl",
      s"'      \"url\": \"' || url || '\",' || $nl",
      s"'      \"author\": ' || CASE WHEN author IS NULL THEN 'null' ELSE '\"' || author || '\"' END || ',' || $nl",
      s"'      \"title\": \"' || title || '\",' || $nl",
      s"'      \"description\": null,' || $nl",
      s"'      \"category\": ' || CASE WHEN has_cat THEN '[' || $nl || '        \"공지\"' || $nl || '      ]' ELSE '[]' END || ',' || $nl",
      s"'      \"created_at\": \"' || strftime(created, '%Y-%m-%dT%H:%M:%SZ') || '\",' || $nl",
      s"'      \"updated_at\": null,' || $nl",
      s"'      \"thumbnail\": ' || CASE WHEN img THEN '\"' || img_ref || '\"' ELSE 'null' END || ',' || $nl",
      s"'      \"content\": \"' || replace(content, '\"', '\\\"') || '\",' || $nl",
      s"'      \"attachments\": ' || CASE WHEN att THEN '[' || $nl || '        {' || $nl || " +
        s"'          \"url\": \"' || att_ref || '\",' || $nl || " +
        s"'          \"name\": \"doc_' || post_id || '.hwp\",' || $nl || " +
        s"'          \"mime_type\": \"application/x-hwp\"' || $nl || '        }' || $nl || '      ]' ELSE '[]' END || ',' || $nl",
      s"'      \"metadata\": null' || $nl",
      "'    }'").mkString(" || ")
    s"""WITH ${crawlOracleCtes(scale, limit)},
       |vocab(vi, vw) AS (VALUES $vocabVals),
       |posts AS (SELECT p2.site_id, p2.host, p2.family, p2.base_url, p2.idhash,
       |    p2.post_id, s.zipf_rank,
       |    CASE WHEN contains(p2.base_url, '?') THEN '&' ELSE '?' END AS sep
       |  FROM p2 JOIN sites s USING (site_id)),
       |${mixChain("ma", "posts", "42", "idhash")},
       |${mixChain("h0", "ma6", "ma", "post_id * 31")},
       |pf AS (SELECT site_id, host, family, base_url, sep, post_id, zipf_rank, h0,
       |  CAST(20 + ${absu("h0")} % 60 AS INT) AS n_tokens,
       |  (${absu("h0")} % 3 = 0) AS img, (${absu("h0")} % 4 = 0) AS att,
       |  (${absu("h0")} % 5 <> 0) AS has_author,
       |  CAST(${absu("h0")} % 50 AS BIGINT) AS author_k
       |  FROM h06),
       |wi AS (SELECT site_id, post_id, h0, n_tokens,
       |  CAST(unnest(range(0, n_tokens)) AS INT) AS i FROM pf),
       |${mixChain("gw", "wi", "h0", "i")},
       |words AS (SELECT site_id, post_id, n_tokens, i, v.vw AS w
       |  FROM gw6 JOIN vocab v ON v.vi = CAST(${absu("gw")} % 32 AS INT)),
       |agg AS (SELECT site_id, post_id,
       |  string_agg(w, ' ' ORDER BY i) FILTER (WHERE i < n_tokens // 2) AS part1,
       |  string_agg(w, ' ' ORDER BY i) FILTER (WHERE i >= n_tokens // 2) AS part2,
       |  min(w) FILTER (WHERE i = 0) AS w0, min(w) FILTER (WHERE i = 1) AS w1
       |  FROM words GROUP BY 1, 2),
       |fields AS (SELECT pf.*, agg.w0, agg.w1,
       |  'https://' || host || '/files/img_' || post_id || '.jpg' AS img_ref,
       |  'https://' || host || '/files/doc_' || post_id || '.hwp' AS att_ref,
       |  agg.part1 || CASE WHEN img
       |    THEN ' <img src="https://' || host || '/files/img_' || post_id || '.jpg">'
       |    ELSE '' END || ' ' || agg.part2 AS content,
       |  '[' || site_id || '] ' || agg.w0 || ' ' || agg.w1 || ' #' || post_id AS title,
       |  $rawUrl AS url,
       |  TIMESTAMP '2026-01-01 00:00:00'
       |    + to_seconds(post_id * 60 + zipf_rank) AS created,
       |  CASE WHEN has_author THEN concat('작성자', author_k) END AS author,
       |  (post_id % 9 = 0) AS has_cat
       |  FROM pf JOIN agg USING (site_id, post_id)),
       |fd AS (SELECT *, CASE WHEN length(content) <= 50 THEN content
       |    ELSE substr(content, 1, 50) || '...' END AS descr FROM fields),
       |item AS (SELECT site_id, post_id, $itemXml AS item_xml,
       |  $itemJson AS item_json FROM fd),
       |rss AS (SELECT site_id, length(
       |    '<?xml version="1.0" encoding="utf-8"?><rss version="2.0"' ||
       |    ' xmlns:atom="http://www.w3.org/2005/Atom"' ||
       |    ' xmlns:content="http://purl.org/rss/1.0/modules/content/"><channel>' ||
       |    '<title>' || site_id || '</title>' ||
       |    '<link>https://' || site_id || '</link>' ||
       |    '<description>' || site_id || ' notices</description>' ||
       |    string_agg(item_xml, '' ORDER BY post_id DESC) ||
       |    '</channel></rss>') AS rss_len FROM item GROUP BY 1),
       |js AS (SELECT site_id, length(
       |    '{' || $nl || '  "title": "' || site_id || '",' || $nl ||
       |    '  "source": "https://' || site_id || '",' || $nl ||
       |    '  "description": "' || site_id || ' notices",' || $nl ||
       |    '  "items": [' || $nl ||
       |    string_agg(item_json, ',' || $nl ORDER BY post_id DESC) ||
       |    $nl || '  ]' || $nl || '}') AS json_len FROM item GROUP BY 1)
       |SELECT rss.site_id, CAST(rss.rss_len AS INT) AS rss_bytes,
       |  CAST(js.json_len AS INT) AS json_bytes
       |FROM rss JOIN js USING (site_id)""".stripMargin
  }

  private def bpeOracle(rounds: Int, finalSelect: String): String = {
    val S = "e'\\x1f'"
    val sb = new StringBuilder
    sb ++= s"""WITH wc AS (
      |  SELECT word, count(*) AS n FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
      |      x -> len(x) > 0)) AS word FROM documents) GROUP BY 1),
      |w0 AS (SELECT $S || array_to_string(string_split(word, ''), $S||$S)
      |  || $S || $S || '</w>' || $S AS w, n FROM wc)""".stripMargin
    for (k <- 0 until rounds) {
      sb ++= s""",
      |p$k AS (SELECT unnest(list_transform(range(1, len(l)),
      |    i -> l[i] || ' ' || l[i+1])) AS pair, n
      |  FROM (SELECT string_split(substr(w, 2, len(w) - 2), $S||$S) AS l, n
      |        FROM w$k) WHERE len(l) >= 2),
      |b$k AS (SELECT pair, sum(n) AS c FROM p$k GROUP BY 1
      |  ORDER BY c DESC, pair ASC LIMIT 1),
      |w${k + 1} AS (SELECT replace(w.w,
      |    $S || split_part(b.pair, ' ', 1) || $S || $S || split_part(b.pair, ' ', 2) || $S,
      |    $S || split_part(b.pair, ' ', 1) || split_part(b.pair, ' ', 2) || $S) AS w, n
      |  FROM w$k w, b$k b)""".stripMargin
    }
    sb ++= "\n" + finalSelect
    sb.toString
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles — one per query.
  // ---------------------------------------------------------------------
  def oracleSql: Map[String, String] = Map(
    // MinHash-LSH verified pairs: at (bands=32, rows=2) the per-pair miss
    // probability at jaccard 0.5 is (1 - 0.25)^32 ≈ 1e-4 and the detector
    // recovers the COMPLETE exact pair set on this corpus (asserted at
    // sf0.001/0.01/0.1) — the oracle is the exact all-pairs jaccard with
    // the same threshold and no df-cut (q26's replay, cut removed), so a
    // single missed candidate or wrong verify value fails the row
    "q27_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 0) + 1),
        |  i -> array_to_string(t[i:i+2], ' ')))) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
        |FROM inter JOIN sz x ON a = x.doc_id JOIN sz y ON b = y.doc_id
        |WHERE i * 1.0 / (x.n + y.n - i) >= 0.5""".stripMargin,

    "q28_simhash" -> simhashOracleSql(maxDist = 3),

    "q30_ann_lsh" -> lshTopKOracleSql(bits = 4, tables = 16, dim = 64, k = 5),

    // the full two-wave frontier schedule replayed from the site registry
    "q34_crawl_schedule" ->
      ("WITH " + crawlOracleCtes(scale = 100, limit = 30) +
        "\nSELECT * FROM w0r UNION ALL SELECT * FROM w1r"),

    // seen-set growth per wave = the schedule's wave sizes (every scheduled
    // URL is fresh at this config: seeds are distinct by construction and
    // post ids are listed exactly once)
    "q35_crawl_seen" ->
      ("WITH " + crawlOracleCtes(scale = 100, limit = 30) + """
        |SELECT first_wave, CAST(count(*) AS BIGINT) AS n_urls FROM (
        |  SELECT 0 AS first_wave FROM w0r
        |  UNION ALL SELECT 1 AS first_wave FROM w1r)
        |GROUP BY 1""".stripMargin),

    // wave-grain lineage: scheduled = the wave's frontier offer, deduped =
    // scheduled - fetched (0 here — no duplicate URLs at this config),
    // fetched = staged rows
    "q36_crawl_lineage" ->
      ("WITH " + crawlOracleCtes(scale = 100, limit = 30) + """,
        |c0 AS (SELECT count(*) AS n FROM w0r),
        |c1 AS (SELECT count(*) AS n FROM w1r)
        |SELECT 0 AS wave, CAST(c0.n AS BIGINT) AS scheduled,
        |  CAST(0 AS BIGINT) AS deduped, CAST(c0.n AS BIGINT) AS fetched FROM c0
        |UNION ALL
        |SELECT 1, CAST(c1.n AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(c1.n AS BIGINT) FROM c1""".stripMargin),

    // the calendar pipeline (year-page synth -> parse -> replace-in-range)
    // replayed in full, mix() emulated bit-exactly in HUGEINT
    "q44_calendar" -> calendarOracleSql(scale = 100, year = 2026),

    // the daemon's feed sinks replayed byte-for-byte (RSS channel + serde
    // -pretty site JSON string-built in SQL, lengths compared)
    "q37_pipeline_feeds" -> feedsOracleSql(scale = 100, limit = 30),

    // recrawl merge events as id-set algebra: created = rev-1 window \
    // rev-0 cache; updated = intersection ∩ {n%17==0} (rev-1 content
    // always differs there — the ' [개정판 rev1]' suffix)
    "q38_recrawl_events" ->
      ("WITH " + crawlOracleCtes(scale = 100, limit = 30) + """,
        |r0 AS (SELECT site_id, (visible - pos) + ((visible - pos) - 1) // 22 AS id
        |  FROM (SELECT site_id, visible, unnest(range(0, wanted)) AS pos FROM s2)),
        |r1 AS (SELECT site_id, total0 - pos AS id
        |  FROM (SELECT site_id, total0,
        |        unnest(range(0, least(total0, 30))) AS pos FROM s2)),
        |created AS (SELECT count(*) AS n FROM r1 ANTI JOIN r0 USING (site_id, id)),
        |updated AS (SELECT count(*) AS n FROM (
        |  SELECT * FROM r1 SEMI JOIN r0 USING (site_id, id)) WHERE id % 17 = 0)
        |SELECT 'post_created' AS event, CAST(created.n AS BIGINT) AS n FROM created
        |UNION ALL
        |SELECT 'post_updated', CAST(updated.n AS BIGINT) FROM updated""".stripMargin),

    // span decomposition of the crawled corpus / the DSv2 connector's
    // slice: per-kind counts from the content grammar (mix replay)
    "q43_post_spans" -> spanCountsOracleSql(scale = 100, limit = 30),
    "q47_dsv2_spans" -> spanCountsOracleSql(scale = 200, limit = 20,
      siteFilter = Seq("biz.ssu.ac.kr", "scatch.ssu.ac.kr")),

    "q46_dsv2_source" -> dsv2OracleSql(scale = 200, limit = 20,
      sites = Seq("biz.ssu.ac.kr", "scatch.ssu.ac.kr", "infocom.ssu.ac.kr")),

    // the streaming crawl's per-site post volume = the wave-1 fan-out of
    // the same registry at (scale=60, limit=10)
    "q49_streaming_crawl" ->
      ("WITH " + crawlOracleCtes(scale = 60, limit = 10) + """
        |SELECT site_id, CAST(count(*) AS BIGINT) AS n_posts
        |FROM w1r GROUP BY 1""".stripMargin),

    "q76_bpe_learn" -> bpeOracle(6,
      (0 until 6).map(k =>
        s"""SELECT $k AS rank, split_part(pair, ' ', 1) AS "left",
           |  split_part(pair, ' ', 2) AS "right",
           |  replace(pair, ' ', '') AS merged,
           |  CAST(c AS BIGINT) AS pair_count FROM b$k""".stripMargin)
        .mkString("\nUNION ALL\n")),

    "q80_inverted_index" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS term FROM documents),
        |dt AS (SELECT DISTINCT doc_id, term FROM t)
        |SELECT term, count(*) AS df,
        |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |FROM dt GROUP BY 1 HAVING count(*) BETWEEN 3 AND 400""".stripMargin,

    "q81_pmi" ->
      """WITH toks AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS w
        |  FROM documents),
        |uni AS (SELECT w, count(*) AS cw FROM toks GROUP BY 1),
        |nu AS (SELECT sum(cw) AS n_uni FROM uni),
        |g AS (SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> len(x) > 0) AS t FROM documents)
        |  WHERE len(t) >= 2),
        |bi AS (SELECT bigram, count(*) AS cxy FROM g GROUP BY 1),
        |nb AS (SELECT sum(cxy) AS n_bi FROM bi),
        |f AS (SELECT bigram, cxy FROM bi WHERE cxy >= 5)
        |SELECT f.bigram, f.cxy,
        |  round(ln(CAST(f.cxy AS DOUBLE) * CAST(nu.n_uni AS DOUBLE) *
        |    CAST(nu.n_uni AS DOUBLE) /
        |    (CAST(nb.n_bi AS DOUBLE) * CAST(ux.cw AS DOUBLE) *
        |     CAST(uy.cw AS DOUBLE))), 6) AS pmi
        |FROM f CROSS JOIN nu CROSS JOIN nb
        |JOIN uni ux ON ux.w = split_part(f.bigram, ' ', 1)
        |JOIN uni uy ON uy.w = split_part(f.bigram, ' ', 2)""".stripMargin,

    // the oracle replays the integer Lloyd loop of kmeansClusters as an
    // unrolled CTE chain (the q76 BPE technique): quantize -> md5-order
    // seeds -> [assign -> floor-div centroid update] x iters. Every value
    // is BIGINT, so equality is exact, not approximate.
    "q83_kmeans" ->
      ("WITH " + kmeansOracleCtes(dim = 64, k = 8, iters = 3) +
        "\nSELECT vec_id, c AS cluster, d AS dist_q FROM a3"),

    // same Lloyd replay + per-cluster md5-rank quota
    "q84_cluster_sample" ->
      ("WITH " + kmeansOracleCtes(dim = 64, k = 8, iters = 3) + """,
        |r AS (SELECT e.vec_id, e.label, a3.c AS cluster,
        |  row_number() OVER (PARTITION BY a3.c
        |    ORDER BY md5(CAST(e.vec_id AS VARCHAR)), e.vec_id) AS rk
        |  FROM embeddings e JOIN a3 ON a3.vec_id = e.vec_id)
        |SELECT vec_id, label, cluster FROM r WHERE rk <= 20""".stripMargin),

    // Lloyd replay + within-cluster cosine pairs + recursive transitive
    // closure (the q53 scheme restricted to same-cluster pairs)
    "q85_semantic_dedup" ->
      ("WITH RECURSIVE " + kmeansOracleCtes(dim = 64, k = 8, iters = 3) + """,
        |pairs AS (SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  JOIN a3 ca ON ca.vec_id = a.vec_id
        |  JOIN a3 cb ON cb.vec_id = b.vec_id
        |  WHERE ca.c = cb.c AND list_cosine_similarity(
        |    a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
        |edg AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |reach AS (SELECT u, v FROM edg
        |  UNION SELECT r.u, e2.v FROM reach r JOIN edg e2 ON r.v = e2.u),
        |lbl AS (SELECT u AS id, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT e.vec_id, e.label, a3.c AS cluster
        |FROM embeddings e JOIN a3 ON a3.vec_id = e.vec_id
        |WHERE e.vec_id NOT IN (SELECT id FROM lbl WHERE id <> comp)""".stripMargin),

    // the q85 replay (Lloyd loop + within-cluster pairs + recursive
    // closure) with the composed pipeline's output shape: kept ids only
    "q96_embedding_dedup_clustered" ->
      ("WITH RECURSIVE " + kmeansOracleCtes(dim = 64, k = 8, iters = 3) + """,
        |pairs AS (SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  JOIN a3 ca ON ca.vec_id = a.vec_id
        |  JOIN a3 cb ON cb.vec_id = b.vec_id
        |  WHERE ca.c = cb.c AND list_cosine_similarity(
        |    a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
        |edg AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |reach AS (SELECT u, v FROM edg
        |  UNION SELECT r.u, e2.v FROM reach r JOIN edg e2 ON r.v = e2.u),
        |lbl AS (SELECT u AS id, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT e.vec_id FROM embeddings e
        |WHERE e.vec_id NOT IN (SELECT id FROM lbl WHERE id <> comp)""".stripMargin),

    // chr(4352,4449,4363,4454) = decomposed 가에; chr(769) = combining acute
    "q82_normalize_text" ->
      """SELECT doc_id, trim(regexp_replace(lower(nfc_normalize(
        |  '  MiXeD ' || chr(9) || upper(substr(text, 1, 40)) || chr(10) ||
        |  chr(4352) || chr(4449) || chr(4363) || chr(4454) ||
        |  ' CaFE' || chr(769) || '  tail  ')), '\s+', ' ', 'g')) AS norm
        |FROM documents""".stripMargin,

    "q79_recrawl" ->
      """WITH a AS (SELECT o_orderpriority AS site_id, count(*) AS n_posts,
        |  CAST(epoch(min(o_orderdate)) AS BIGINT) AS f,
        |  CAST(epoch(max(o_orderdate)) AS BIGINT) AS l
        |  FROM orders GROUP BY 1),
        |b AS (SELECT site_id, n_posts, (l - f) // 60 AS span_minutes, l FROM a),
        |c AS (SELECT site_id, n_posts, span_minutes,
        |  least(greatest((30 * span_minutes) // greatest(n_posts - 1, 1), 60),
        |        10080) AS interval_minutes, l FROM b)
        |SELECT site_id, n_posts, CAST(span_minutes AS BIGINT) AS span_minutes,
        |  CAST(interval_minutes AS BIGINT) AS interval_minutes,
        |  make_timestamp((l + interval_minutes * 60) * 1000000) AS next_due
        |FROM c""".stripMargin,

    "q78_boilerplate" ->
      """WITH toks AS (SELECT doc_id, source,
        |  list_filter(string_split(text, ' '), x -> len(x) > 0) AS t FROM documents),
        |ls AS (SELECT doc_id, source, list_transform(range(0, CAST(ceil(len(t) / 2.0) AS INT)),
        |         i -> array_to_string(t[2*i+1:2*i+2], ' ')) AS ls FROM toks),
        |ex AS (SELECT doc_id, source,
        |         unnest(list_transform(range(1, len(ls) + 1), i -> {'ord': i, 'line': ls[i]})) AS u
        |       FROM ls),
        |e2 AS (SELECT doc_id, source, u.ord AS ord, u.line AS line FROM ex),
        |gs AS (SELECT source, count(DISTINCT doc_id) AS gd FROM documents GROUP BY 1),
        |bl AS (SELECT source, line
        |       FROM (SELECT source, line, count(DISTINCT doc_id) AS nd FROM e2 GROUP BY 1, 2)
        |       JOIN gs USING (source) WHERE nd * 100 >= gd * 16),
        |kept AS (SELECT e2.* FROM e2 ANTI JOIN bl ON e2.source = bl.source AND e2.line = bl.line),
        |txt AS (SELECT doc_id, array_to_string(list(line ORDER BY ord), chr(10)) AS clean_text,
        |               count(*) AS n_kept FROM kept GROUP BY 1),
        |nl AS (SELECT doc_id, len(ls) AS n_lines FROM ls)
        |SELECT d.doc_id, coalesce(t2.clean_text, '') AS clean_text,
        |       CAST(nl.n_lines AS BIGINT) AS n_lines,
        |       CAST(nl.n_lines - coalesce(t2.n_kept, 0) AS BIGINT) AS n_removed
        |FROM documents d JOIN nl USING (doc_id) LEFT JOIN txt t2 USING (doc_id)""".stripMargin,

    "q77_bpe_segment" -> bpeOracle(6,
      """SELECT subword, CAST(sum(n) AS BIGINT) AS n_occ FROM (
        |  SELECT unnest(string_split(substr(w, 2, len(w) - 2),
        |    e'\x1f'||e'\x1f')) AS subword, n FROM w6)
        |GROUP BY 1""".stripMargin),

    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
        |count(*) AS n_rows FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_join_enrich" ->
      """SELECT r_name, n_name,
        |CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q03_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, price_cents, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,

    "q04_merge_upsert" ->
      """WITH old AS (
        |  SELECT o_orderpriority AS site_id, CAST(o_orderkey AS VARCHAR) AS id,
        |         'T' || o_orderstatus AS title,
        |         'C' || CAST(o_orderkey % 7 AS VARCHAR) AS content,
        |         o_orderdate AS created_at, CAST(NULL AS TIMESTAMP) AS updated_at
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |new AS (
        |  SELECT o_orderpriority AS site_id, CAST(o_orderkey AS VARCHAR) AS id,
        |         'T' || o_orderstatus AS title,
        |         CASE WHEN o_orderkey % 10 = 0 THEN 'CHANGED'
        |              ELSE 'C' || CAST(o_orderkey % 7 AS VARCHAR) END AS content,
        |         o_orderdate AS created_at,
        |         CASE WHEN o_orderkey % 20 = 0 THEN TIMESTAMP '2026-02-02 00:00:00'
        |              ELSE NULL END AS updated_at,
        |         o_orderkey AS seq
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |oldr AS (SELECT *, row_number() OVER (PARTITION BY site_id
        |                   ORDER BY created_at, id) AS orank FROM old),
        |mx AS (SELECT site_id, max(orank) AS maxr FROM oldr GROUP BY site_id),
        |j AS (
        |  SELECT coalesce(o.site_id, n.site_id) AS site_id,
        |         coalesce(o.id, n.id) AS id,
        |         o.id IS NULL AS is_insert,
        |         (o.id IS NOT NULL AND n.id IS NOT NULL AND
        |          NOT (trim(o.title) = trim(n.title) AND trim(o.content) = trim(n.content))) AS is_update,
        |         o.title AS o_title, n.title AS n_title,
        |         o.content AS o_content, n.content AS n_content,
        |         o.created_at AS o_created, n.created_at AS n_created,
        |         o.updated_at AS o_updated, n.updated_at AS n_updated,
        |         o.orank AS o_rank, n.seq AS n_seq
        |  FROM oldr o FULL OUTER JOIN new n ON o.site_id = n.site_id AND o.id = n.id),
        |ins AS (SELECT site_id, id, row_number() OVER (PARTITION BY site_id
        |               ORDER BY n_created, n_seq) AS ins_rn FROM j WHERE is_insert)
        |SELECT j.site_id, j.id,
        |  CASE WHEN is_insert OR is_update THEN n_title ELSE o_title END AS title,
        |  CASE WHEN is_insert OR is_update THEN n_content ELSE o_content END AS content,
        |  CASE WHEN is_insert THEN n_created
        |       WHEN is_update AND n_updated IS NOT NULL THEN n_created
        |       WHEN is_update THEN o_created
        |       ELSE o_created END AS created_at,
        |  CASE WHEN is_insert THEN n_updated
        |       WHEN is_update THEN coalesce(n_updated, TIMESTAMP '2026-01-15 00:00:00')
        |       ELSE o_updated END AS updated_at,
        |  CAST(CASE WHEN is_insert THEN coalesce(mx.maxr, 0) + ins.ins_rn
        |       ELSE o_rank END AS BIGINT) AS "rank"
        |FROM j LEFT JOIN mx ON j.site_id = mx.site_id
        |LEFT JOIN ins ON j.site_id = ins.site_id AND j.id = ins.id""".stripMargin,

    "q05_merge_events" ->
      """WITH old AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |         'T' || o_orderstatus AS title,
        |         'C' || CAST(o_orderkey % 7 AS VARCHAR) AS content
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |new AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |         'T' || o_orderstatus AS title,
        |         CASE WHEN o_orderkey % 10 = 0 THEN 'CHANGED'
        |              ELSE 'C' || CAST(o_orderkey % 7 AS VARCHAR) END AS content
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT CASE WHEN o.id IS NULL THEN 'post_created' ELSE 'post_updated' END AS event,
        |       count(*) AS n
        |FROM new n LEFT JOIN old o ON n.id = o.id
        |WHERE o.id IS NULL
        |   OR NOT (trim(o.title) = trim(n.title) AND trim(o.content) = trim(n.content))
        |GROUP BY 1""".stripMargin,

    "q06_replace_in_range" ->
      """WITH ev AS (SELECT CAST(event_id AS VARCHAR) AS id, event_type AS title,
        |                   ts AS starts_at FROM events),
        |newe AS (SELECT id, title || '_refreshed' AS title, starts_at FROM ev
        |         WHERE starts_at BETWEEN TIMESTAMP '2024-01-20 00:00:00'
        |                             AND TIMESTAMP '2024-01-25 23:59:59')
        |SELECT id, title, starts_at FROM (
        |  SELECT * FROM ev WHERE starts_at NOT BETWEEN TIMESTAMP '2024-01-20 00:00:00'
        |                                           AND TIMESTAMP '2024-01-25 23:59:59'
        |    AND id NOT IN (SELECT id FROM newe)
        |  UNION ALL SELECT * FROM newe)""".stripMargin,

    "q07_dedup_keeplast" ->
      """SELECT user_id, event_id, ts FROM (
        |  SELECT user_id, event_id, ts, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "q08_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)""".stripMargin,

    "q09_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)""".stripMargin,

    "q10_union_pages" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey % 10 = 0
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey % 10 = 5""".stripMargin,

    "q11_event_counts" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,

    "q12_range_filter" ->
      """SELECT event_id, ts, event_type FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |             AND TIMESTAMP '2024-01-15 23:59:59'""".stripMargin,

    "q13_running_window" ->
      """SELECT user_id, event_id, round(sum(value) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
        |FROM events""".stripMargin,

    "q55_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q59_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY 1""".stripMargin,

    // the STREAMING path gets a value-exact oracle too: its input is the
    // deterministic 200-row slice, so DuckDB can replay the same
    // sessionization the stream emits (parity streamed==batch is the
    // operator's own spec; this makes it driver-visible)
    // streamed first-arrival dedup with a full-span horizon == batch DISTINCT
    "q88_streaming_dedup" ->
      """SELECT md5(text) AS fp, text
        |FROM (SELECT DISTINCT text FROM documents)""".stripMargin,

    "q58_streaming_sessions" ->
      """WITH input AS (
        |  SELECT user_id, event_id, ts, value FROM events
        |  ORDER BY ts, event_id LIMIT 200
        |), g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM input WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q14_url_canonicalize" ->
      """SELECT doc_id, 'http://board.ssu.ac.kr/bbs/list.php?a=1&z=' || CAST(doc_id AS VARCHAR)
        |  AS canon FROM documents""".stripMargin,

    "q15_url_resolve" ->
      """SELECT doc_id, CASE
        |  WHEN doc_id % 4 = 0 THEN 'http://other.host/abs/' || CAST(doc_id AS VARCHAR)
        |  WHEN doc_id % 4 = 1 THEN 'https://h.example/root/view.php?id=' || CAST(doc_id AS VARCHAR)
        |  WHEN doc_id % 4 = 2 THEN 'https://h.example/a/up/' || CAST(doc_id AS VARCHAR) || '.html'
        |  ELSE 'https://h.example/a/b/list.php?page=' || CAST(doc_id AS VARCHAR)
        |  END AS resolved FROM documents""".stripMargin,

    "q16_url_params" ->
      """SELECT doc_id, CAST(doc_id AS VARCHAR) AS wr_id FROM documents""".stripMargin,

    "q17_slugify" ->
      """SELECT p_partkey, trim(regexp_replace(
        |  lower(p_name || ' (ssu) #' || CAST(p_partkey AS VARCHAR)),
        |  '[^a-z0-9]+', '-', 'g'), '-') AS slug FROM part""".stripMargin,

    "q18_date_dialects" ->
      """SELECT o_orderkey, CASE
        |  WHEN o_orderkey % 3 = 0 THEN strptime(strftime(o_orderdate, '%Y.%m.%d'), '%Y.%m.%d')
        |  WHEN o_orderkey % 3 = 1 THEN strptime(strftime(o_orderdate, '%Y년 %-m월 %-d일'), '%Y년 %-m월 %-d일')
        |  ELSE strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M')
        |  END - INTERVAL 9 HOUR AS created_utc FROM orders""".stripMargin,

    "q19_mime_guess" ->
      """SELECT p_partkey, CASE p_partkey % 6
        |  WHEN 0 THEN 'application/pdf' WHEN 1 THEN 'application/x-hwp'
        |  WHEN 2 THEN 'image/jpeg' WHEN 3 THEN 'application/zip'
        |  WHEN 4 THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
        |  ELSE NULL END AS mime FROM part""".stripMargin,

    "q20_desc_fallback" ->
      """SELECT doc_id, CASE WHEN length(text) <= 50 THEN text
        |  ELSE substr(text, 1, 50) || '...' END AS description FROM documents""".stripMargin,

    "q21_ics_escape" ->
      """SELECT doc_id, replace(replace(replace(replace(replace(
        |  'loc;A,B\' || substr(text, 1, 40),
        |  '\', '\\'), ';', '\;'), ',', '\,'), chr(13), ''), chr(10), '\n') AS escaped
        |FROM documents""".stripMargin,

    "q22_span_explode" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, 'text' AS kind, unnest(t) AS text,
        |       CAST(NULL AS VARCHAR) AS media_ref,
        |       CAST(generate_subscripts(t, 1) - 1 AS INTEGER) AS "offset"
        |FROM toks
        |UNION ALL
        |SELECT doc_id, 'image' AS kind, CAST(NULL AS VARCHAR) AS text,
        |       'media://' || source || '/' || CAST(doc_id AS VARCHAR) AS media_ref,
        |       CAST(len(t) AS INTEGER) AS "offset"
        |FROM toks""".stripMargin,

    "q23_span_roundtrip" ->
      """SELECT doc_id, text FROM documents""".stripMargin,

    "q24_dedup_exact" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)""".stripMargin,

    "q25_fingerprint" ->
      """WITH fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0))), ' '))
        |  AS fingerprint FROM documents)
        |SELECT doc_id, fingerprint,
        |  row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1 AS keep
        |FROM fp""".stripMargin,

    "q60_containment" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 0) + 1),
        |  i -> array_to_string(t[i:i+2], ' ')))) AS s FROM toks),
        |cf AS (SELECT doc_id, s FROM sh
        |  WHERE s IN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20)),
        |pf AS (SELECT doc_id, s FROM cf WHERE doc_id % 17 = 0),
        |np AS (SELECT doc_id, count(*) AS n FROM pf GROUP BY 1),
        |inter AS (SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id, count(*) AS i
        |  FROM cf c JOIN pf p USING (s) WHERE c.doc_id <> p.doc_id
        |  GROUP BY 1, 2)
        |SELECT probe_id, corpus_id, round(i * 1.0 / np.n, 6) AS containment
        |FROM inter JOIN np ON probe_id = np.doc_id
        |WHERE i * 1.0 / np.n >= 0.5""".stripMargin,

    "q26_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 0) + 1),
        |  i -> array_to_string(t[i:i+2], ' ')))) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
        |  AND s IN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20)
        |  GROUP BY 1, 2)
        |SELECT a, b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
        |FROM inter JOIN sz x ON a = x.doc_id JOIN sz y ON b = y.doc_id
        |WHERE i * 1.0 / (x.n + y.n - i) >= 0.5""".stripMargin,

    // winnowing (k=4 grams, w=4 windows): md5-prefix hashes are
    // lexicographically ordered like their numeric value, so list_min
    // replays the engine's window-min selection byte-for-byte
    "q86_winnow_fp" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, list_transform(
        |  range(1, greatest(len(t) - 3, 0) + 1),
        |  i -> substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15)) AS hs
        |  FROM toks WHERE len(t) >= 4)
        |SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(hs) - 3, 1) + 1),
        |  j -> list_min(hs[j:j+3])))) AS fp
        |FROM h""".stripMargin,

    "q87_winnow_pairs" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, list_transform(
        |  range(1, greatest(len(t) - 3, 0) + 1),
        |  i -> substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15)) AS hs
        |  FROM toks WHERE len(t) >= 4),
        |fp AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(hs) - 3, 1) + 1),
        |  j -> list_min(hs[j:j+3])))) AS f FROM h),
        |cut AS (SELECT doc_id, f FROM fp
        |  WHERE f IN (SELECT f FROM fp GROUP BY f HAVING count(*) <= 20)),
        |sz AS (SELECT doc_id, count(*) AS n FROM cut GROUP BY 1),
        |sh AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
        |  FROM cut x JOIN cut y USING (f) WHERE x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, shared, round(shared * 1.0 / least(x.n, y.n), 6) AS overlap
        |FROM sh JOIN sz x ON a = x.doc_id JOIN sz y ON b = y.doc_id
        |WHERE shared * 1.0 / least(x.n, y.n) >= 0.5""".stripMargin,

    // full portable-minhash LSH replay: md5 permutation minima -> 3-band
    // keys -> batch x corpus collisions -> exact-Jaccard verify
    "q89_cross_corpus" ->
      """WITH ctoks AS (SELECT doc_id AS id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |ptoks AS (SELECT 'p-' || CAST(doc_id AS VARCHAR) AS id,
        |  list_filter(string_split_regex(
        |    regexp_replace(lower(text), '\btable\b', 'tables', 'g'), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
        |csh AS (SELECT id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 0) + 1),
        |  i -> array_to_string(t[i:i+2], ' '))) AS sh FROM ctoks WHERE len(t) >= 3),
        |psh AS (SELECT id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 0) + 1),
        |  i -> array_to_string(t[i:i+2], ' '))) AS sh FROM ptoks WHERE len(t) >= 3),
        |csig AS (SELECT id, list_transform(range(0, 6), p ->
        |  list_min(list_transform(sh, s -> substr(md5(s), 1 + 5*p, 5)))) AS g
        |  FROM csh),
        |psig AS (SELECT id, list_transform(range(0, 6), p ->
        |  list_min(list_transform(sh, s -> substr(md5(s), 1 + 5*p, 5)))) AS g
        |  FROM psh),
        |cb AS (SELECT id, i AS band, g[2*i+1] || g[2*i+2] AS key
        |  FROM csig CROSS JOIN range(0, 3) r(i)),
        |pb AS (SELECT id, i AS band, g[2*i+1] || g[2*i+2] AS key
        |  FROM psig CROSS JOIN range(0, 3) r(i)),
        |cands AS (SELECT DISTINCT pb.id AS batch_id, cb.id AS corpus_id
        |  FROM pb JOIN cb ON pb.band = cb.band AND pb.key = cb.key),
        |pe AS (SELECT id, len(sh) AS n, unnest(sh) AS s FROM psh),
        |ce AS (SELECT id, len(sh) AS n, unnest(sh) AS s FROM csh),
        |iv AS (SELECT cd.batch_id, cd.corpus_id, x.n AS nb, y.n AS nc,
        |    count(*) AS i
        |  FROM cands cd JOIN pe x ON x.id = cd.batch_id
        |  JOIN ce y ON y.id = cd.corpus_id AND y.s = x.s
        |  GROUP BY 1, 2, 3, 4)
        |SELECT batch_id, corpus_id, jaccard FROM (
        |  SELECT batch_id, corpus_id,
        |    round(i * 1.0 / (nb + nc - i), 6) AS jaccard FROM iv)
        |WHERE jaccard >= 0.5""".stripMargin,

    // BM25: per-term score and ascending-term total as textually mirrored
    // fixed-order double expressions (the q81 PMI float-parity treatment)
    "q90_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |base AS (SELECT doc_id, len(t) AS dl,
        |  list_filter(t, x -> x IN ('customer', 'merge', 'window')) AS qt FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |  SELECT doc_id, dl, unnest(qt) AS term FROM base) GROUP BY 1, 2, 3),
        |stats AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM base),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (SELECT t.doc_id, t.term,
        |  round(ln(1.0 + (CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) /
        |      (CAST(d.df AS DOUBLE) + 0.5))
        |    * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
        |    / (CAST(t.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
        |        CAST(t.dl AS DOUBLE) /
        |        (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))), 6) AS sc
        |  FROM tf t JOIN dfx d USING (term) CROSS JOIN stats s),
        |tot AS (SELECT doc_id,
        |  coalesce(max(CASE WHEN term = 'customer' THEN sc END), 0.0)
        |  + coalesce(max(CASE WHEN term = 'merge' THEN sc END), 0.0)
        |  + coalesce(max(CASE WHEN term = 'window' THEN sc END), 0.0) AS raw
        |  FROM scored GROUP BY 1),
        |r AS (SELECT doc_id, round(raw, 6) AS score, row_number() OVER (
        |  ORDER BY round(raw, 6) DESC, doc_id) AS rank FROM tot)
        |SELECT doc_id, score, rank FROM r WHERE rank <= 10""".stripMargin,

    // the full recipe chain replayed as ONE SQL pipeline: q54 quality
    // feats -> q24 dedup winners -> q60 containment (df-cut over the
    // deduped corpus) -> q70 next-fit packing over the survivors
    "q92_recipe" ->
      """WITH RECURSIVE base AS (SELECT doc_id, source, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |feats AS (SELECT doc_id, len(t) AS n_tokens,
        |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
        |    * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
        |    * 1.0 / greatest(len(t), 1), 6) AS stopword_ratio,
        |  round(CASE WHEN len(t) > 0 THEN list_aggregate(list_transform(t, x -> len(x)), 'sum')
        |    * 1.0 / len(t) ELSE 0.0 END, 6) AS mean_word_len
        |  FROM base),
        |q AS (SELECT b.doc_id, b.source, b.text, b.t FROM base b
        |  JOIN feats f USING (doc_id)
        |  WHERE f.n_tokens BETWEEN 20 AND 100000 AND f.punct_ratio <= 0.3
        |    AND f.stopword_ratio >= 0.02 AND f.mean_word_len BETWEEN 2.0 AND 5.0),
        |d AS (SELECT * FROM q WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY text)),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 0) + 1),
        |  i -> array_to_string(t[i:i+2], ' ')))) AS s FROM d),
        |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 20),
        |cf AS (SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)),
        |ptoks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id % 17 = 0),
        |pshall AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 0) + 1),
        |  i -> array_to_string(t[i:i+2], ' ')))) AS s FROM ptoks),
        |pf AS (SELECT doc_id, s FROM pshall WHERE s NOT IN (SELECT s FROM hot)),
        |np AS (SELECT doc_id, count(*) AS n FROM pf GROUP BY 1),
        |inter AS (SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id, count(*) AS i
        |  FROM cf c JOIN pf p USING (s) WHERE c.doc_id <> p.doc_id GROUP BY 1, 2),
        |hits AS (SELECT DISTINCT corpus_id FROM inter JOIN np ON probe_id = np.doc_id
        |  WHERE i * 1.0 / np.n >= 0.5),
        |clean AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS tk,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM d WHERE doc_id NOT IN (SELECT corpus_id FROM hits)
        |    AND doc_id % 17 <> 0),
        |pack AS (SELECT doc_id, source, tk, rn, CAST(0 AS BIGINT) AS bin_id,
        |    0 AS bin_pos, tk AS fill
        |  FROM clean WHERE rn = 1
        |  UNION ALL
        |  SELECT b.doc_id, b.source, b.tk, b.rn,
        |    CASE WHEN p.fill + b.tk <= 128 THEN p.bin_id ELSE p.bin_id + 1 END,
        |    CASE WHEN p.fill + b.tk <= 128 THEN p.bin_pos + 1 ELSE 0 END,
        |    CASE WHEN p.fill + b.tk <= 128 THEN p.fill + b.tk ELSE b.tk END
        |  FROM pack p JOIN clean b ON b.source = p.source AND b.rn = p.rn + 1)
        |SELECT doc_id, source, tk AS n_tokens, bin_id,
        |  CAST(bin_pos AS INTEGER) AS bin_pos FROM pack""".stripMargin,

    // single grouped pass over the q54 feature formulas; ratios are one
    // fixed-order double each, rounded to 6 dp
    "q93_dataset_card" ->
      """WITH base AS (SELECT source, lang, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |feats AS (SELECT source, lang, text, len(t) AS n_tokens,
        |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
        |    * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
        |    * 1.0 / greatest(len(t), 1), 6) AS stopword_ratio,
        |  round(CASE WHEN len(t) > 0 THEN list_aggregate(list_transform(t, x -> len(x)), 'sum')
        |    * 1.0 / len(t) ELSE 0.0 END, 6) AS mean_word_len
        |  FROM base),
        |agg AS (SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  count(DISTINCT md5(text)) AS n_distinct_texts,
        |  CAST(sum(CASE WHEN n_tokens BETWEEN 20 AND 100000 AND punct_ratio <= 0.3
        |    AND stopword_ratio >= 0.02 AND mean_word_len BETWEEN 2.0 AND 5.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
        |  FROM feats GROUP BY 1, 2)
        |SELECT source, lang, n_docs, n_tokens, n_distinct_texts, n_quality_pass,
        |  round(CAST(n_docs - n_distinct_texts AS DOUBLE) /
        |    CAST(n_docs AS DOUBLE), 6) AS dup_ratio,
        |  round(CAST(n_quality_pass AS DOUBLE) /
        |    CAST(n_docs AS DOUBLE), 6) AS quality_pass_ratio
        |FROM agg""".stripMargin,

    // content EQUALITY is what status depends on, so the oracle compares
    // text directly (the engine compares md5 digests — equal modulo
    // collision); the synthetic previous release replays the same md5
    // doc_id slices
    "q94_release_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
        |    THEN text || ' legacy' ELSE text END AS text
        |  FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> 'f'
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'e')
        |SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text <> n.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM prev o FULL JOIN documents n ON o.doc_id = n.doc_id""".stripMargin,

    // same windowing arithmetic: window i = tokens [i*16+1, i*16+32];
    // emission stops with the first window covering the document end
    // (chunk count = 1 for len<=32, else (len-32+15)//16 + 1), so no
    // window is a strict suffix-subset of its predecessor
    "q95_train_windows" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (SELECT doc_id, t,
        |  unnest(range(0, CASE WHEN len(t) <= 32 THEN 1
        |    ELSE (len(t) - 32 + 15) // 16 + 1 END)) AS i
        |  FROM toks WHERE len(t) > 0)
        |SELECT doc_id, i AS chunk_idx,
        |  array_to_string(t[(i*16+1):(i*16+32)], ' ') AS chunk FROM w""".stripMargin,

    // integer-exact hashed linear model: generated weight table = Knuth
    // multiplier mix folded to [-1000, 1000]
    "q91_quality_model" ->
      """WITH w AS (SELECT printf('%02x', i) AS bucket,
        |  ((i * 2654435761) % 1000003) % 2001 - 1000 AS w FROM range(256) t(i)),
        |tf AS (SELECT doc_id, substr(md5(token), 1, 2) AS bucket,
        |  count(*) AS tf FROM (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS token FROM documents) GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(tf * w.w) AS BIGINT) AS score_micro,
        |  CAST(sum(tf * w.w) >= 0 AS INT) AS keep
        |FROM tf JOIN w USING (bucket) GROUP BY doc_id""".stripMargin,

    // transitive closure of the q26 pair graph via recursive CTE; cluster
    // label = component minimum, exactly the engine's min-label fixpoint
    "q51_dedup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 0) + 1),
        |  i -> array_to_string(t[i:i+2], ' ')))) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
        |  AND s IN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20)
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a, b FROM inter JOIN sz x ON a = x.doc_id
        |  JOIN sz y ON b = y.doc_id WHERE i * 1.0 / (x.n + y.n - i) >= 0.5),
        |e AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |reach AS (SELECT u, v FROM e
        |  UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u)
        |SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u""".stripMargin,

    // kept corpus = every document except non-representative cluster members
    "q52_dedup_corpus" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 0) + 1),
        |  i -> array_to_string(t[i:i+2], ' ')))) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
        |  AND s IN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20)
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a, b FROM inter JOIN sz x ON a = x.doc_id
        |  JOIN sz y ON b = y.doc_id WHERE i * 1.0 / (x.n + y.n - i) >= 0.5),
        |e AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |reach AS (SELECT u, v FROM e
        |  UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
        |labels AS (SELECT u AS id, least(u, min(v)) AS cluster FROM reach GROUP BY u)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)""".stripMargin,

    // transitive closure of the exact-cosine pair graph; kept corpus =
    // everything except non-representative cluster members (the embedding
    // analog of q52)
    "q53_embedding_dedup" ->
      """WITH RECURSIVE pairs AS (SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
        |e AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |reach AS (SELECT u, v FROM e
        |  UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
        |labels AS (SELECT u AS id, least(u, min(v)) AS cluster FROM reach GROUP BY u)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM labels WHERE id <> cluster)""".stripMargin,

    // same feature arithmetic as q32, applied as a filter (the gate is
    // tuned to actually DROP rows on the synthetic corpus — 420/500 kept
    // at sf0.01 — so a filter bug cannot hide behind keep-everything)
    "q54_quality_filter" ->
      """WITH base AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |feats AS (SELECT doc_id,
        |  len(t) AS n_tokens,
        |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
        |    * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
        |    * 1.0 / greatest(len(t), 1), 6) AS stopword_ratio,
        |  round(CASE WHEN len(t) > 0 THEN list_aggregate(list_transform(t, x -> len(x)), 'sum')
        |    * 1.0 / len(t) ELSE 0.0 END, 6) AS mean_word_len
        |  FROM base)
        |SELECT doc_id FROM feats
        |WHERE n_tokens BETWEEN 20 AND 100000 AND punct_ratio <= 0.3
        |  AND stopword_ratio >= 0.02
        |  AND mean_word_len BETWEEN 2.0 AND 5.0""".stripMargin,

    "q29_ann_brute" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        |  FROM q, embeddings c WHERE q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, rk, round(sim, 6) AS sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rk FROM scored) WHERE rk <= 5""".stripMargin,

    // IVF replayed end-to-end: integer-Lloyd coarse quantizer on the
    // md5-order sample (the q83 technique, trainLimit = nlist*trainPerList),
    // full-corpus bucket assignment = a3, query probe = nprobe smallest
    // integer L2² buckets, exact-cosine rerank (the q29 technique)
    "q48_ann_ivf" ->
      ("WITH " + kmeansOracleCtes(dim = 64, k = 8, iters = 3, trainLimit = 2048) + """,
        |qq AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id < 10),
        |pd AS (SELECT qq.query_id, ct.c,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (qq.qv[i] - ct.qv[i]) * (qq.qv[i] - ct.qv[i]))) AS BIGINT) AS d
        |  FROM qq CROSS JOIN c2 ct),
        |probe AS (SELECT query_id, c FROM pd
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, c) <= 3),
        |cand AS (SELECT p.query_id, b.vec_id AS neighbor_id
        |  FROM probe p JOIN a3 b ON b.c = p.c AND b.vec_id <> p.query_id),
        |scored AS (SELECT cand.query_id, cand.neighbor_id,
        |    list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) AS sim
        |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
        |            JOIN embeddings ne ON ne.vec_id = cand.neighbor_id)
        |SELECT query_id, neighbor_id, rk, round(sim, 6) AS sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rk FROM scored) WHERE rk <= 5""").stripMargin,

    "q68_ann_pq" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        |  FROM q, embeddings c WHERE q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, rk, round(sim, 6) AS sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rk FROM scored) WHERE rk <= 5""".stripMargin,

    "q31_token_count" ->
      """SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |  x -> len(x) > 0)) AS INTEGER) AS n_tokens FROM documents""".stripMargin,

    "q56_vocab" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS token FROM documents)
        |GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5""".stripMargin,

    "q57_ngram_counts" ->
      """SELECT ngram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS ngram
        |  FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> len(x) > 0) AS t FROM documents)
        |  WHERE len(t) >= 2)
        |GROUP BY 1 HAVING count(*) >= 5""".stripMargin,

    "q32_quality" ->
      """WITH base AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(t) AS INTEGER) AS n_tokens,
        |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
        |    * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
        |    * 1.0 / greatest(len(t), 1), 6) AS stopword_ratio,
        |  round(CASE WHEN len(t) > 0 THEN list_aggregate(list_transform(t, x -> len(x)), 'sum')
        |    * 1.0 / len(t) ELSE 0.0 END, 6) AS mean_word_len
        |FROM base""".stripMargin,

    "q39_json_envelope" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |       'T' || o_orderstatus AS title,
        |       o_orderkey % 2 = 0 AS is_announcement,
        |       strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%dT%H:%M:%S')
        |         - INTERVAL 9 HOUR AS created_at
        |FROM orders""".stripMargin,

    "q40_lz_roundtrip" ->
      """SELECT doc_id, text AS rt_text FROM documents""".stripMargin,

    "q41_html_extract" ->
      """SELECT doc_id,
        |       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        |       '/view?idx=' || CAST(doc_id AS VARCHAR) AS href,
        |       text AS body
        |FROM documents""".stripMargin,

    "q42_multimodal_meta" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(strlen(text) AS INTEGER) AS n_bytes,
        |       'media://' || source || '/' || CAST(doc_id AS VARCHAR) AS media_ref
        |FROM documents""".stripMargin,

    // Spark parses these values out of REAL BMP/WAV headers it encoded from
    // the document; the oracle derives them arithmetically — a header
    // encode/parse round-trip check over the whole corpus
    "q50_media_decode" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 8 + doc_id % 16 WHEN 1 THEN 0 ELSE 320 END AS INTEGER) AS width,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 8 WHEN 1 THEN 0 ELSE 240 END AS INTEGER) AS height,
        |       CAST(CASE doc_id % 3 WHEN 1 THEN 16000 ELSE 0 END AS INTEGER) AS sample_rate,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 0
        |                            WHEN 1 THEN strlen(text) * 1000 // 16000
        |                            ELSE strlen(text) * 10 END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,

    "q45_embedding_neardup" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""".stripMargin,

    "q33_langid" ->
      """WITH base AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |scores AS (SELECT doc_id,
        |  len(list_filter(t, x -> x IN ('the','and','of','is'))) AS s_en,
        |  len(list_filter(t, x -> x IN ('der','und','die','ist'))) AS s_de,
        |  len(list_filter(t, x -> x IN ('el','la','de','es'))) AS s_es,
        |  len(list_filter(t, x -> x IN ('le','la','et','est'))) AS s_fr
        |  FROM base)
        |SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
        |  WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
        |  WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
        |  WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
        |  ELSE 'fr' END AS lang_pred FROM scores""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN is the oracle; the right side is
    // pre-deduped per (user_id, ts) keeping the greatest event_id — the
    // same tie rule the union-window realizes via its ordering
    "q61_asof_join" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'click'
        |), rd AS (
        |  SELECT user_id, ts, event_id AS click_id, value AS click_value
        |  FROM r WHERE rn = 1
        |), l AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
        |)
        |SELECT l.event_id, l.user_id, l.ts, rd.click_id, rd.click_value
        |FROM l ASOF LEFT JOIN rd
        |  ON l.user_id = rd.user_id AND l.ts >= rd.ts""".stripMargin,

    "q62_range_join" ->
      """SELECT e.event_id, count(*) AS n_matches, min(c.event_id) AS first_match
        |FROM events e JOIN events c
        |  ON e.user_id = c.user_id
        | AND e.event_type = 'error' AND c.event_type = 'click'
        | AND c.ts >= e.ts AND epoch_us(c.ts) < epoch_us(e.ts) + 86400000000
        |GROUP BY 1""".stripMargin,

    "q63_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
        |), dfx AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT t.doc_id, t.term, (t.tf * 1000000) // d.df AS score
        |  FROM tf t JOIN dfx d USING (term)
        |), ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, score, rnk AS term_rank FROM ranked WHERE rnk <= 5""".stripMargin,

    "q64_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rnk
        |  FROM documents)
        |SELECT doc_id, lang, source, rnk AS sample_rank FROM r WHERE rnk <= 50""".stripMargin,

    "q69_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT lang, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM c),
        |tot AS (SELECT sum(wt) AS W FROM w),
        |q0 AS (SELECT lang, wt, (200 * wt) // W AS base, (200 * wt) % W AS rem
        |       FROM w, tot),
        |d AS (SELECT 200 - sum(base) AS deficit FROM q0),
        |q AS (SELECT lang, base + CASE WHEN row_number()
        |        OVER (ORDER BY rem DESC, lang) <= deficit THEN 1 ELSE 0 END AS quota
        |      FROM q0, d),
        |r AS (SELECT doc_id, lang, source, row_number() OVER (PARTITION BY lang
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |      FROM documents)
        |SELECT r.doc_id, r.lang, r.source, CAST(r.rnk AS BIGINT) AS mix_rank
        |FROM r JOIN q USING (lang) WHERE r.rnk <= q.quota""".stripMargin,

    "q70_pack" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS t,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |), pack AS (
        |  SELECT doc_id, source, t, rn, CAST(0 AS BIGINT) AS bin_id,
        |    0 AS bin_pos, t AS fill
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.doc_id, b.source, b.t, b.rn,
        |    CASE WHEN p.fill + b.t <= 128 THEN p.bin_id ELSE p.bin_id + 1 END,
        |    CASE WHEN p.fill + b.t <= 128 THEN p.bin_pos + 1 ELSE 0 END,
        |    CASE WHEN p.fill + b.t <= 128 THEN p.fill + b.t ELSE b.t END
        |  FROM pack p JOIN base b ON b.source = p.source AND b.rn = p.rn + 1
        |)
        |SELECT doc_id, source, t AS n_tokens, bin_id,
        |  CAST(bin_pos AS INTEGER) AS bin_pos FROM pack""".stripMargin,

    "q71_interleaved" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(t) > 0 THEN array_to_string(t, ' ') || ' <|media|>'
        |       ELSE '<|media|>' END AS stream,
        |  CAST(len(t) AS BIGINT) AS n_text_tokens,
        |  CAST(1 AS BIGINT) AS n_media,
        |  CAST(len(t) + 64 AS BIGINT) AS n_tokens
        |FROM base""".stripMargin,

    "q72_balance" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |mx AS (SELECT max(n) AS maxN FROM c),
        |s AS (SELECT lang, n, least(300, (100 * maxN) // n) AS pct FROM c, mx),
        |spec AS (SELECT lang, pct // 100 AS efull,
        |           (n * (pct % 100)) // 100 AS extraq FROM s),
        |r AS (SELECT doc_id, lang, source, row_number() OVER (PARTITION BY lang
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |      FROM documents)
        |SELECT r.doc_id, r.lang, r.source, CAST(unnest(range(
        |  spec.efull + CASE WHEN r.rnk <= spec.extraq THEN 1 ELSE 0 END))
        |  AS BIGINT) AS epoch
        |FROM r JOIN spec USING (lang)""".stripMargin,

    "q73_pagerank" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |nodes AS (SELECT doc_id AS id FROM documents),
        |src0 AS (SELECT doc_id, n_chars FROM documents WHERE n_chars % 7 <> 0),
        |edges AS (
        |  SELECT doc_id AS src, (doc_id * 7 + n_chars) % nn.n AS dst
        |    FROM src0, nn WHERE (doc_id * 7 + n_chars) % nn.n <> doc_id
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 11 + n_chars) % nn.n
        |    FROM src0, nn WHERE (doc_id * 11 + n_chars) % nn.n <> doc_id
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + n_chars) % nn.n
        |    FROM src0, nn WHERE (doc_id * 13 + n_chars) % nn.n <> doc_id),
        |deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
        |r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes, nn),
        |c1 AS (SELECT e.dst AS id, sum(r.rank / d.out_deg) AS im FROM edges e
        |       JOIN r0 r ON e.src = r.id JOIN deg d ON e.src = d.src GROUP BY 1),
        |d1 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r0
        |       WHERE id NOT IN (SELECT src FROM deg)),
        |r1 AS (SELECT nodes.id, (1 - 0.85) / nn.n +
        |         0.85 * (coalesce(c1.im, 0) + d1.dm / nn.n) AS rank
        |       FROM nodes CROSS JOIN nn CROSS JOIN d1
        |       LEFT JOIN c1 ON nodes.id = c1.id),
        |c2 AS (SELECT e.dst AS id, sum(r.rank / d.out_deg) AS im FROM edges e
        |       JOIN r1 r ON e.src = r.id JOIN deg d ON e.src = d.src GROUP BY 1),
        |d2 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r1
        |       WHERE id NOT IN (SELECT src FROM deg)),
        |r2 AS (SELECT nodes.id, (1 - 0.85) / nn.n +
        |         0.85 * (coalesce(c2.im, 0) + d2.dm / nn.n) AS rank
        |       FROM nodes CROSS JOIN nn CROSS JOIN d2
        |       LEFT JOIN c2 ON nodes.id = c2.id),
        |c3 AS (SELECT e.dst AS id, sum(r.rank / d.out_deg) AS im FROM edges e
        |       JOIN r2 r ON e.src = r.id JOIN deg d ON e.src = d.src GROUP BY 1),
        |d3 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r2
        |       WHERE id NOT IN (SELECT src FROM deg)),
        |r3 AS (SELECT nodes.id, (1 - 0.85) / nn.n +
        |         0.85 * (coalesce(c3.im, 0) + d3.dm / nn.n) AS rank
        |       FROM nodes CROSS JOIN nn CROSS JOIN d3
        |       LEFT JOIN c3 ON nodes.id = c3.id),
        |c4 AS (SELECT e.dst AS id, sum(r.rank / d.out_deg) AS im FROM edges e
        |       JOIN r3 r ON e.src = r.id JOIN deg d ON e.src = d.src GROUP BY 1),
        |d4 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r3
        |       WHERE id NOT IN (SELECT src FROM deg)),
        |r4 AS (SELECT nodes.id, (1 - 0.85) / nn.n +
        |         0.85 * (coalesce(c4.im, 0) + d4.dm / nn.n) AS rank
        |       FROM nodes CROSS JOIN nn CROSS JOIN d4
        |       LEFT JOIN c4 ON nodes.id = c4.id),
        |c5 AS (SELECT e.dst AS id, sum(r.rank / d.out_deg) AS im FROM edges e
        |       JOIN r4 r ON e.src = r.id JOIN deg d ON e.src = d.src GROUP BY 1),
        |d5 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r4
        |       WHERE id NOT IN (SELECT src FROM deg)),
        |r5 AS (SELECT nodes.id, (1 - 0.85) / nn.n +
        |         0.85 * (coalesce(c5.im, 0) + d5.dm / nn.n) AS rank
        |       FROM nodes CROSS JOIN nn CROSS JOIN d5
        |       LEFT JOIN c5 ON nodes.id = c5.id)
        |SELECT id AS doc_id, round(rank, 6) AS rank FROM r5""".stripMargin,

    "q74_profile" ->
      """SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*),
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderstatus),
        |  min(o_orderstatus), max(o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderpriority),
        |  min(o_orderpriority), max(o_orderpriority) FROM orders""".stripMargin,

    "q75_lm_score" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS gram
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> len(x) > 0) AS t FROM documents)
        |  WHERE len(t) >= 2),
        |c AS (SELECT gram, count(*) AS c FROM g GROUP BY 1),
        |tot AS (SELECT sum(c) AS total FROM c)
        |SELECT g.doc_id, round(avg(ln(CAST(c.c AS DOUBLE) /
        |  CAST(tot.total AS DOUBLE))), 6) AS lm_score
        |FROM g JOIN c USING (gram) CROSS JOIN tot
        |GROUP BY 1""".stripMargin,

    "q65_span_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM documents
        |), chunks AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)), c -> c)) AS off,
        |    unnest(list_transform(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)),
        |      c -> array_to_string(list_slice(t, c * 8 + 1, c * 8 + 8), ' '))) AS chunk
        |  FROM base
        |), ranked AS (
        |  SELECT doc_id, off, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, off) AS rn
        |  FROM chunks
        |), kept AS (
        |  SELECT doc_id, count(*) AS n_text_kept FROM ranked WHERE rn = 1 GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(k.n_text_kept, 0) + 1 AS n_kept,
        |       coalesce(k.n_text_kept, 0) AS n_text_kept
        |FROM documents d LEFT JOIN kept k USING (doc_id)""".stripMargin,

    "q66_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t FROM documents
        |), tc AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2
        |), ts AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct, max(c) AS top_c
        |  FROM tc GROUP BY 1
        |), bc AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |    FROM toks) GROUP BY 1, 2
        |), bs AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    count(*) AS n_distinct_bi FROM bc GROUP BY 1
        |)
        |SELECT ts.doc_id, ts.n_tokens,
        |  round((ts.n_tokens - ts.n_distinct) / greatest(ts.n_tokens, 1), 6)
        |    AS dup_token_frac,
        |  round(ts.top_c / greatest(ts.n_tokens, 1), 6) AS top_token_frac,
        |  round((coalesce(bs.n_bigrams, 0) - coalesce(bs.n_distinct_bi, 0))
        |    / greatest(coalesce(bs.n_bigrams, 0), 1), 6) AS dup_bigram_frac
        |FROM ts LEFT JOIN bs USING (doc_id)""".stripMargin,

    "q67_pii_scrub" ->
      """WITH noisy AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or 02-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    '-1234' || CASE WHEN doc_id % 3 = 0
        |      THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@ssu.ac.kr'
        |      ELSE '' END AS t
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, t, regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS ne
        |  FROM noisy
        |)
        |SELECT doc_id,
        |  regexp_replace(ne, '\b\d{2,3}-\d{3,4}-\d{4}\b', '<PHONE>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(ne,
        |    '\b\d{2,3}-\d{3,4}-\d{4}\b')) AS INTEGER) AS n_phones
        |FROM e""".stripMargin
  )
}
