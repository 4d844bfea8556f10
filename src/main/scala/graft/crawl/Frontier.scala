package graft.crawl

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.functions.GraftFunctions
import graft.model.Post

/**
 * The frontier scheduler: breadth-ordered crawl over the (synthetic) web,
 * generalizing the reference's per-site sequential crawl
 * (packages/cli/src/main.rs:110-114 all sites concurrent;
 * plugins/common/src/common/gnuboard/mod.rs:72-147 page walk + ordered
 * detail fan-out) to a 10^10-scale URL frontier.
 *
 * Per wave (one BFS depth level):
 *  1. key every row with ONE kernel call ([[FrontierKey]]): the URL is
 *     rebuilt from the row's grammar coordinates ([[UrlGrammar]]) and
 *     parsed once into url_hash (of the canonical form), host_hash and the
 *     robots crawl delay; a robots-Disallowed row yields no key and drops
 *     out before any scheduling work;
 *  2. seen-set filter: incremental Bloom/cuckoo pre-filter + exact
 *     anti-join on the maybe slice ([[SeenSet.filterNewProbe]]; each
 *     branch of its union keys its own rows, one kernel call per row). A
 *     seen set under one task's rows (`graft.rows.per.task`) has no
 *     sketch: the exact anti-join alone probes it, its hashes collected
 *     into a driver-local relation;
 *  3. in-wave dedup on url_hash (keep the breadth-first-smallest order key);
 *  4. politeness schedule: per-HOST virtual clock — the k-th fetch of a
 *     host is scheduled at (k-1) * crawl_delay(host) (robots-derived
 *     delays; reference precedent: fixed 300 ms,
 *     wordpress/mod.rs:146). Multiple sites on one host (cse/sw boards)
 *     share the bucket. Steps 3 and 4 are ONE by-host exchange plus one
 *     sorted per-partition pass (duplicates of a URL share its host);
 *  5. salted repartition (host_hash, salt) of the fetch stage so a hot
 *     host (Zipf rank 1 = scatch) spreads across `numSalts` partitions
 *     instead of serializing on one — the salted-key priority queue. A
 *     wave that fits one task writes from the politeness pass directly.
 *     Priority = (depth, ready_ms, host, site, page, row), carried as
 *     explicit columns so order is independent of partitioning;
 *  6. link discovery: list pages expand to the next frontier
 *     ([[SyntheticWeb.links]]), which is written out; post documents are
 *     fetched lazily, once, where the run's posts are consumed;
 *  7. state: every wave stages out into one table root, partitioned by
 *     wave, and the run's seen set and schedule are views over the waves
 *     it wrote, one scan each; the per-(wave, partition) lineage is read
 *     from the part files' parquet footers. The wave's counts are observed
 *     on the stage-out and links writes ([[Dataset.observe]]), not counted
 *     by extra jobs.
 *
 * Determinism: every ordering is an explicit sort key; no
 * monotonically_increasing_id, no partition-order dependence — identical
 * output at local[8] and local[32] (asserted in CrawlSpec + Bench).
 *
 * Pagination: with `probePagination` (default) the page count per site is
 * computed up front and ALL list pages are seeded at wave 0 (reference
 * precedent: ssucatch static fan-out S3, chemeng total-pages probe A3), so
 * the crawl is exactly two breadth levels — lists, then posts — instead of
 * a sequential page-chain of waves. `probePagination = false` reproduces
 * the strict sequential walk (gnuboard S1) for small fidelity tests.
 *
 * robots.txt: per-host rules are parsed from the synthetic bodies
 * ([[Robots]]) — Crawl-delay feeds the politeness clock, Disallow filters
 * the frontier before any scheduling work (both inside step 1's kernel).
 */
/** One output row of the fetch stage: a document or a discovered link. */
final case class ExpandRow(post: Option[Post], link: Option[SyntheticWeb.Req])

/** A frontier row entering the fused dedup+politeness pass. */
final case class WaveRow(site_id: String, kind: String, page: Int, row: Int,
    depth: Int, crawl_delay_ms: Int, url_hash: Long, host_hash: Long)

/** A scheduled row leaving the fused pass (politeness clock assigned).
  * No `url` field: the URL string is grammar-derived from the coordinates
  * ([[UrlGrammar]]), so the dedup+politeness exchange and the salted
  * write exchange move 8-byte hashes and small ints instead of the
  * 60-90-byte URL string — it is re-materialized in the write projection. */
final case class RankedRow(site_id: String, kind: String, page: Int, row: Int,
    depth: Int, crawl_delay_ms: Int, url_hash: Long, host_hash: Long, ready_ms: Long)

/**
 * JVM-wide registry of transient work dirs (the crawl's wave stage-out,
 * the streaming queries' fixtures), reclaimed by ONE shutdown hook
 * (registering a hook per Crawl.run would accumulate threads in
 * long-lived sessions). Deletion walks depth-first with the directory
 * stream closed eagerly (Files.walk in try/finally — Files.list left open
 * leaks an fd per directory during the recursive delete).
 */
private[graft] object TempDirs {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() => {
    dirs.forEach { dir =>
      try {
        val walk = java.nio.file.Files.walk(dir)
        try {
          walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } finally walk.close()
      } catch { case _: Throwable => () }
    }
  }))

  /** A fresh dir for transient work files, reclaimed at JVM exit: on tmpfs
    * when `/dev/shm` is writable (RAM-backed scratch has no fsync or disk
    * jitter; a cluster would use HDFS/S3 here), else under
    * `java.io.tmpdir`. Not deleted earlier: result DataFrames may lazily
    * re-read its files for the session's lifetime. */
  def create(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base = if (java.nio.file.Files.isWritable(shm)) shm
               else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = java.nio.file.Files.createTempDirectory(base, prefix)
    hook; dirs.add(dir)
    dir.toString
  }
}

object Crawl {

  val DefaultSeed = 42L

  /** The wave stage-out as written (a [[RankedRow]], its salt and the
    * writer's partition id), then the `wave` directory column. */
  private val StageSchema = Encoders.product[RankedRow].schema
    .add("salt", LongType).add("partition_id", IntegerType).add("wave", IntegerType)

  /** A frontier of [[SyntheticWeb.Req]] rows, every column nullable. */
  private val FrontierSchema = StructType(
    Encoders.product[SyntheticWeb.Req].schema.map(_.copy(nullable = true)))

  /** The per-(wave, partition) lineage: the stage-out's `wave` and
    * `partition_id`, the wave's frontier offer and its duplicates, and the
    * rows the partition staged. */
  private val LineageSchema = StructType(Seq(
    StructField("wave", IntegerType), StructField("partition_id", IntegerType),
    StructField("scheduled", LongType, nullable = false),
    StructField("deduped", LongType, nullable = false),
    StructField("fetched", LongType, nullable = false)))

  /** `(partition_id, rows)` of each non-empty part file of the stage-out
    * wave in `dir`, in partition order, read from the parquet footers: a
    * file's row count, and its `partition_id` statistics, whose min equals
    * the max because one writer task wrote the file. */
  private def partitionRows(spark: SparkSession, dir: String): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val files = path.getFileSystem(conf).listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    files.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val blocks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
      val ids = blocks.filter(_.getRowCount > 0).flatMap { b =>
        val stats = b.getColumns.asScala.find(_.getPath.toDotString == "partition_id")
          .getOrElse(sys.error(s"${f.getPath}: no partition_id column")).getStatistics
        Seq(stats.genericGetMin, stats.genericGetMax)
      }.distinct
      require(ids.size <= 1, s"${f.getPath} holds partition ids ${ids.mkString(", ")}")
      ids.map(id => id.asInstanceOf[Integer].intValue -> blocks.map(_.getRowCount).sum)
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
  }

  final case class Config(
      scale: Long = 1000L,
      limitPerSite: Long = 100L, // reference POST_COUNT_LIMIT (mod.rs:26)
      rev: Int = 0,
      numSalts: Int = 8,
      probePagination: Boolean = true,
      maxWaves: Int = 64,
      snapshotDir: Option[String] = None,
      seenSketch: String = "bloom", // "bloom" | "cuckoo"
      // Deterministic fetch-fault injection for the synthetic web:
      // ((site_id, wave) -> number of attempts that fail). The reference
      // tests inject failing plugins the same way to drive run_with_retry
      // (mod.rs:38-93 + the gnuboard try_collect whole-plugin retry,
      // gnuboard mod.rs:76-81). Non-empty faults switch the fetch stage to
      // per-site materialized slices wrapped in whole-site Retry.
      faults: Map[(String, Int), Int] = Map.empty,
      // Live pacing: route the fetch stage through the ThrottledFetch
      // token bucket (real wall-clock politeness + real SSO sessions)
      // instead of the virtual-clock schedule alone. Off by default —
      // the no-network sandbox needs no wall-clock pacing; the spec
      // drives it with numSalts=1 for strict per-host spacing.
      livePacing: Boolean = false,
      // Site selection BEFORE any scheduling work — the reference prunes
      // plugins before task creation (cli macros.rs:46-113): an unselected
      // site contributes zero seeds, zero fetches, zero shuffle rows.
      include: Seq[String] = Seq.empty,
      exclude: Seq[String] = Seq.empty)

  /** A crawl run's outputs. `posts`, `lineage` and `batch` are built on
    * first use: a caller that reads only the schedule and the seen set
    * pays neither the stage-out footer reads nor the analysis of the post
    * fetch. */
  final class Result(
      postsOf: => DataFrame,    // fetched documents (Post schema)
      val seen: DataFrame,      // url_hash table
      val schedule: DataFrame,  // the crawl-order artifact
      lineageOf: => DataFrame,  // per (wave, partition) lineage rows
      // SSO bootstrap counter (S8): one init per partition×host that
      // touches an auth-family site — NOT one per fetched row
      val ssoBootstraps: org.apache.spark.util.LongAccumulator,
      // sites whose fetch stage exhausted whole-site retries mid-crawl
      // (reference error tally, cli main.rs:118-125): their posts are
      // excluded from the run's output, the daemon reports crawl_failed
      val failedSites: Map[String, Throwable],
      // live-pacing audit trail: one (host, started_at_ms, wave) row per
      // fetch — empty unless Config.livePacing
      val fetchLog: DataFrame,
      // the posts with their crawl order `seq` (page * 10^6 + row of the
      // request that fetched each): the daemon merge's batch
      batchOf: => DataFrame) {
    lazy val posts: DataFrame = postsOf
    lazy val lineage: DataFrame = lineageOf
    lazy val batch: DataFrame = batchOf
  }

  /**
   * Per-partition fetch expansion shared by the batch waves and the
   * streaming crawl: lazy once-per-host SSO bootstrap for auth-family
   * sites (S8), then the deterministic synthetic fetch. `faultCheck` is
   * the executor-side fault-injection hook (throws to simulate a failed
   * fetch — a task failure that fails the site's whole slice, like a
   * failed HTTP request fails the reference's whole plugin attempt).
   */
  /** Expand ONE request with an already-resolved session provider — the
    * single expansion used by the batch fetch stage AND the live-pacing
    * path (so probe/link semantics can never diverge between the two). */
  private[graft] def expandOne(
      req: SyntheticWeb.Req, scale: Long, limit: Long, rev: Int, probe: Boolean,
      sessionFor: String => Sso.Session): (Option[Post], Seq[SyntheticWeb.Req]) = {
    val (post, links) = SyntheticWeb.expand(req, scale, limit, rev, session(req, sessionFor))
    (post, discovered(links, probe))
  }

  private def session(req: SyntheticWeb.Req,
      sessionFor: String => Sso.Session): Option[Sso.Session] = {
    val site = SyntheticWeb.siteById(req.site_id)
    if (site.family == "auth") Some(sessionFor(site.host)) else None
  }

  // with the static pagination fan-out, list pages were all seeded at
  // wave 0 — drop the rediscovered next-page links (they are in the
  // seen set anyway; this just avoids scheduling work)
  private def discovered(links: Seq[SyntheticWeb.Req], probe: Boolean): Seq[SyntheticWeb.Req] =
    if (probe) links.filter(_.kind != "list") else links

  private[graft] def expandPartition(
      it: Iterator[SyntheticWeb.Req], scale: Long, limit: Long, rev: Int,
      probe: Boolean, onBootstrap: () => Unit,
      faultCheck: SyntheticWeb.Req => Unit = _ => ()): Iterator[ExpandRow] = {
    val sessionFor = Sso.partitionSessions(onBootstrap)
    it.flatMap { req =>
      faultCheck(req)
      val (post, links) = expandOne(req, scale, limit, rev, probe, sessionFor)
      (post.map(p => ExpandRow(Some(p), None)) ++
        links.map(l => ExpandRow(None, Some(l)))).iterator
    }
  }

  /** The documents half of [[expandPartition]], each with the crawl order
    * of its request: page * 10^6 + row. */
  private def postsPartition(
      it: Iterator[SyntheticWeb.Req], scale: Long, limit: Long, rev: Int,
      onBootstrap: () => Unit): Iterator[(Post, Long)] = {
    val sessionFor = Sso.partitionSessions(onBootstrap)
    it.flatMap(req => SyntheticWeb.expand(req, scale, limit, rev, session(req, sessionFor))._1
      .map(p => (p, req.page * 1000000L + req.row)))
  }

  /** The links half of [[expandPartition]]: no document is built. */
  private[graft] def linksPartition(
      it: Iterator[SyntheticWeb.Req], scale: Long, limit: Long, rev: Int,
      probe: Boolean, onBootstrap: () => Unit): Iterator[SyntheticWeb.Req] = {
    val sessionFor = Sso.partitionSessions(onBootstrap)
    it.flatMap(req =>
      discovered(SyntheticWeb.links(req, scale, limit, rev, session(req, sessionFor)), probe))
  }

  /** Rows that `obs` counted on the write that just ran (a wave write or
    * a snapshot table). The count is a by-product of that write job. An
    * observation Spark could not fill (its plan lost the metrics node, or
    * the listener event never came) falls back to `recount`, an exact
    * count of what was written. */
  private[crawl] def observedRows(obs: Observation, recount: => Long): Long =
    Try(Await.result(obs.future, 1.minute)).toOption
      .filter(_.length > 0).map(_.getLong(0))
      .getOrElse(recount)

  /** The seed list of `cfg`'s selected sites: a pure function of the
    * config, built on the driver, so its size is known without a job. */
  def seedRequests(cfg: Config): Seq[SyntheticWeb.Req] = {
    val calendarYears = 2 // reference: this year + next (cli main.rs:268-277)
    Sites.selected(cfg.include, cfg.exclude).flatMap { s =>
      if (s.family == "calendar")
        (1 to calendarYears).map(y =>
          SyntheticWeb.Req(SyntheticWeb.listUrl(s, y), s.site_id, "list", y, 0, 0))
      else if (cfg.probePagination) {
        // static pagination fan-out: the page count is computable up front
        // (reference precedent: ssucatch page fan-out S3,
        // plugins/ssucatch/src/lib.rs:261-295, and chemeng total-pages
        // probe A3, lib.rs:341-372) — every list page is a seed, keeping
        // the crawl at two breadth levels (lists, then posts)
        val total0 = Sites.postCount(s, cfg.scale)
        val wanted = math.min(SyntheticWeb.visibleCount(total0, cfg.rev), cfg.limitPerSite)
        val lastPage = math.max(1L, (wanted + s.page_size - 1) / s.page_size).toInt
        (1 to lastPage).map(p =>
          SyntheticWeb.Req(SyntheticWeb.listUrl(s, p), s.site_id, "list", p, 0, 0))
      } else
        Seq(SyntheticWeb.Req(SyntheticWeb.listUrl(s, 1), s.site_id, "list", 1, 0, 0))
    }
  }

  /** [[seedRequests]] as a Dataset. A local relation already spreads its
    * rows over the default parallelism, so no repartition exchange. */
  def seeds(spark: SparkSession, cfg: Config): Dataset[SyntheticWeb.Req] = {
    import spark.implicits._
    spark.createDataset(seedRequests(cfg))
  }

  def run(spark: SparkSession, cfg: Config): Result = {
    import spark.implicits._
    val seedReqs = seedRequests(cfg)
    // typed nullable, as every later wave reads its frontier back from
    // parquet: each wave's scheduling stages then generate the same code
    val seeds = spark.createDataFrame(seedReqs.map(r =>
      Row(r.url, r.site_id, r.kind, r.page, r.row, r.depth)).asJava, FrontierSchema)
    runFrom(spark, cfg, seeds, wave0 = 0,
      seen0 = Seq.empty[(Long, Int)].toDF("url_hash", "first_wave"),
      posts0 = spark.emptyDataset[Post].toDF(),
      schedule0 = None, lineage0 = None,
      frontierRows = Some(seedReqs.size.toLong), seenRows = Some(0L))
  }

  /** Continue a crawl from an arbitrary state (used by snapshot resume).
    * `failures0` carries a resumed snapshot's recorded mid-crawl failures
    * forward so the resumed run still reports (and keeps excluding) them.
    * `frontierRows`/`seenRows` are the row counts of `frontier0`/`seen0`
    * when the caller already knows them; a missing one is counted here. */
  def runFrom(
      spark: SparkSession, cfg: Config, frontier0: DataFrame, wave0: Int,
      seen0: DataFrame, posts0: DataFrame,
      schedule0: Option[DataFrame], lineage0: Option[DataFrame],
      failures0: Map[String, Throwable] = Map.empty,
      frontierRows: Option[Long] = None, seenRows: Option[Long] = None): Result = {
    import spark.implicits._

    val ssoBootstraps = spark.sparkContext.longAccumulator("sso_bootstraps")
    // wave stage-out root: the snapshot dir when snapshotting, else a
    // transient dir — without the exit cleanup every crawl would leak its
    // wave files into tmpfs
    val workDir = cfg.snapshotDir.getOrElse(TempDirs.create("graft-crawl-"))
    // the frontier is url-free inside the wave loop (UrlGrammar derives
    // the string from coordinates at the consumption edges); dropping the
    // column here normalizes every entry path — fresh seeds (which carry
    // the Req url) and resumed snapshots (already url-free) alike
    var frontier = frontier0.drop("url")

    require(!cfg.livePacing || cfg.faults.isEmpty,
      "livePacing and fault injection are separate test modes")
    val midCrawlFailures = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    midCrawlFailures ++= failures0
    // A failed site contributes NO rows to persisted/returned posts — its
    // earlier-wave fetches happened, but the reference's failed plugin
    // yields an error, not partial output (mod.rs:38-93).
    def excludeFailedSites(df: DataFrame): DataFrame =
      if (midCrawlFailures.isEmpty) df
      else df.filter(!col("site_id").isin(midCrawlFailures.keys.toSeq: _*))

    // Every wave stages out into ONE table root, hive-partitioned by wave,
    // and the run's seen, schedule and lineage are views over the waves it
    // wrote: one scan of their explicit leaf dirs per view. A union tree
    // of per-wave frames would grow every wave, and Catalyst/AQE would
    // re-plan the ever-larger plan — a serial driver cost that destroys
    // N->4N scaling efficiency. The root itself is never listed: a resumed
    // snapshot dir can still hold stage-outs of waves after its CURRENT.
    val stageRoot = s"$workDir/waves/w/schedule"
    def staged(waves: Seq[Int]): DataFrame =
      if (waves.isEmpty) spark.createDataFrame(java.util.List.of[Row](), StageSchema)
      else spark.read.schema(StageSchema).option("basePath", stageRoot)
        .parquet(waves.map(w => s"$stageRoot/wave=$w"): _*)
    // the URL string re-enters HERE, at read time (one grammar-kernel
    // evaluation per consuming projection — per-row CPU in parallel
    // stages, traded for the dominant stage-out write/read bytes)
    def withUrls(df: DataFrame): DataFrame = df
      .withColumn("url", UrlGrammar.rebuild_url(col("site_id"), col("kind"),
        col("page"), col("row"), cfg.scale, cfg.rev))
      .withColumn("canonical", GraftFunctions.url_canonicalize(col("url")))
      .withColumn("host", GraftFunctions.url_host(col("url")))
    // seen0 is not persisted: it is an empty local relation or a snapshot
    // parquet read, both cheap to re-scan. A site that exhausted mid-crawl
    // retries keeps its URLs OUT of the seen set: its fetches never
    // happened, so a snapshot resume (or the next daemon run) must
    // re-schedule them — its schedule rows remain as the attempt record
    // the error report cites
    def seen(waves: Seq[Int]): DataFrame = seen0.unionByName(
      excludeFailedSites(staged(waves)).select(col("url_hash"), col("wave").as("first_wave")))
    def schedule(waves: Seq[Int]): DataFrame = {
      val run = withUrls(staged(waves)).select("wave", "host", "url", "canonical",
        "url_hash", "site_id", "page", "row", "depth", "ready_ms", "crawl_delay_ms")
      schedule0.fold(run)(_ unionByName run)
    }
    // (scheduled, deduped) per wave this run wrote: driver values the
    // writes observed
    val waveCounts = scala.collection.mutable.HashMap.empty[Int, (Long, Long)]
    // a local relation: each stage-out part file holds one writer task's
    // rows, so its footer gives that (wave, partition)'s fetched count
    // without a job over the data
    def lineage(waves: Seq[Int]): DataFrame = {
      val run = spark.createDataFrame(waves.flatMap { w =>
        val (scheduled, deduped) = waveCounts(w)
        partitionRows(spark, s"$stageRoot/wave=$w").map { case (pid, fetched) =>
          Row(w, pid, scheduled, deduped, fetched)
        }
      }.asJava, LineageSchema)
      lineage0.fold(run)(_ unionByName run)
    }
    // The seen table carries only url_hash (and a resumed seen0 may hold a
    // site that fails later in this run) — recover the failed sites'
    // hashes from the schedule (every seen hash has a schedule row) and
    // anti-join them out. Bounded by the failed sites' slice, and only
    // runs on failure.
    def excludeFailedSeen(seen: DataFrame, schedule: DataFrame): DataFrame =
      if (midCrawlFailures.isEmpty) seen
      else seen.join(schedule.filter(col("site_id").isin(midCrawlFailures.keys.toSeq: _*))
        .select("url_hash").distinct(), Seq("url_hash"), "left_anti")

    // The fetch (step 6 below) is a deterministic synthetic expansion.
    // Auth-family (SSO) sites need a bootstrapped session: init ONCE PER
    // PARTITION per host inside mapPartitions (S8, sso.rs:26-92 — the
    // authenticated client is constructed once and reused), counted by an
    // accumulator so the spec can assert inits << fetches.
    val scale = cfg.scale; val limit = cfg.limitPerSite; val rev = cfg.rev
    val probe = cfg.probePagination
    val onBootstrap = () => ssoBootstraps.add(1L)
    def requests(input: DataFrame): Dataset[SyntheticWeb.Req] = input
      .select("url", "site_id", "kind", "page", "row", "depth")
      .as[SyntheticWeb.Req]
    // the fast path (no faults, no live pacing) fetches each post once,
    // where the posts are consumed: ONE expansion over the staged post
    // rows of every wave, each document with its request's crawl order
    val lazyFetch = cfg.faults.isEmpty && !cfg.livePacing
    def fetchedPosts(waves: Seq[Int]): DataFrame =
      requests(withUrls(staged(waves)).filter(col("kind") === "post"))
        .mapPartitions(it => postsPartition(it, scale, limit, rev, onBootstrap))
        .toDF("post", "seq").select(col("post.*"), col("seq"))
    // posts0 and the documents the fault and live-pacing paths fetched
    val postParts = scala.collection.mutable.ArrayBuffer(posts0)
    // a site that exhausted mid-crawl retries contributes NO posts to the
    // run (the reference's failed plugin yields an error, not partial
    // output — mod.rs:38-93); its schedule/lineage rows remain as the
    // attempt record the error report cites
    def posts(waves: Seq[Int]): DataFrame = {
      val eager = postParts.reduce(_ unionByName _)
      excludeFailedSites(
        if (lazyFetch) eager.unionByName(fetchedPosts(waves).drop("seq")) else eager)
    }
    // the merge batch: every post with its crawl order `seq`. A post this
    // run fetched on the fast path carries it; any other finds its request
    // in the schedule (a fresh fast-path crawl has no other: its empty
    // part folds away in planning)
    def batch(waves: Seq[Int]): DataFrame = {
      val order = schedule(waves).filter(col("site_id").isNotNull)
        .select(col("url"), ((col("page").cast("long") * 1000000L) + col("row")).as("seq"))
      val ordered = postParts.reduce(_ unionByName _).join(order, Seq("url"), "left")
        .withColumn("seq", coalesce(col("seq"), lit(0L)))
      excludeFailedSites(if (lazyFetch) ordered.unionByName(fetchedPosts(waves)) else ordered)
    }
    val fetchLogParts = scala.collection.mutable.ArrayBuffer(
      Seq.empty[(String, Long, Int)].toDF("host", "started_at_ms", "wave"))
    var seenCount = seenRows.getOrElse(seen0.count())
    // Scale-adaptive partition counts (guide §2.5/§6): a wave's task count
    // follows its size, at `rowsPerTask` rows per task
    val rowsPerTask = sys.props.getOrElse("graft.rows.per.task", "8192").toLong
    // incrementally-maintained seen sketch: each wave folds its fresh delta
    // in (O(|delta|)) instead of re-aggregating the whole seen set
    // (O(|seen|) per wave — a full-state scan per wave at 10^10 URLs). A
    // seen set under one task's rows has none: the exact anti-join alone
    // probes it, and the first build covers the whole set once it crosses
    // that size
    val sketch = new SeenSet.IncrementalSketch(cfg.seenSketch,
      initialCapacity = seenCount * 4)
    if (seenCount >= rowsPerTask) sketch.add(seen0, seenCount, "url_hash")(seen0)
    var wave = wave0
    // frontier size is carried between waves (the links write observed it) —
    // no extra action per wave just to test emptiness
    var frontierCount = frontierRows.getOrElse(frontier.count())

    while (wave < cfg.maxWaves && frontierCount > 0) {
      // a site that already exhausted its retries fetches nothing further
      // this run (the reference drops the failed plugin for the whole run)
      // — its leftover frontier rows are pruned before any scheduling work
      val frontierLive = excludeFailedSites(frontier)
      // 1. key every row with ONE kernel call: FrontierKey rebuilds the URL
      //    from the grammar coordinates (the frontier persists/shuffles only
      //    (site_id, kind, page, row, depth) — see UrlGrammar), parses it
      //    once, and yields (url_hash, host_hash, crawl_delay_ms), or nothing
      //    for a robots-Disallowed URL — `inline` drops those rows BEFORE any
      //    scheduling work. Only the 8-byte hashes travel through the wave's
      //    shuffles: the canonical and host strings are recomputed at
      //    stage-out read time (shuffle bytes are the contended resource,
      //    per-row CPU is not; 64-bit host_hash collisions across a host
      //    fleet are negligible, and the politeness spec verifies per-host
      //    spacing on the reconstructed column).
      val keyed = frontierLive.select(col("site_id"), col("kind"), col("page"),
        col("row"), col("depth"),
        inline(FrontierKey.wave_key(col("site_id"), col("kind"), col("page"),
          col("row"), cfg.scale, cfg.rev)))

      // fetch-stage task count follows the session's reducer knob (finer
      // than core count so stragglers overlap), not the raw core count
      val parallelism = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // the wave's task count follows the WAVE SIZE (frontierCount is
      // already known — the producer's write observed it), capped at the
      // core-derived counts so big-crawl plans are byte-identical to
      // before. Without the floor a 3k-row daemon crawl fans out 128
      // politeness tasks + 96 writer tasks per wave — pure scheduler
      // overhead and a 96-file stage-out for a wave that fits one task.
      def adaptiveParts(cap: Int): Int =
        math.max(1L, math.min(cap.toLong,
          (frontierCount + rowsPerTask - 1) / rowsPerTask)).toInt
      val politeParts = adaptiveParts(parallelism * 4)

      // 2-4. seen-set filter first (sketch prefilter: the big slice never
      // joins; an empty seen set needs no filter), then ONE exchange
      // clusters each host's rows — duplicates of a URL always share the
      // host, so a single sorted per-partition pass does the exact in-wave
      // dedup (breadth-smallest order key per url_hash) AND assigns the
      // per-host politeness rank. One wave exchange + one local sort; the
      // split row_number/min_by shapes paid two of each (dedup shuffle +
      // host window exchange) and lost the BENCH.md §7 A/B — shuffle bytes
      // are the scaling-limited resource.
      //
      // Without a sketch the exact anti-join probes the seen set's hashes
      // as a driver-local relation: its broadcast is no codegen stage, so
      // the wave's later stages keep the stage ids, and with them the
      // generated classes, of a wave that probes nothing.
      val sketched = sketch.probe(col("url_hash"))
      val fresh =
        if (seenCount == 0) keyed
        else SeenSet.filterNewProbe(keyed,
          if (sketched.isDefined) seen(wave0 until wave)
          else seen(wave0 until wave).select("url_hash").as[Long].collect().toSeq.toDF("url_hash"),
          "url_hash", sketched)
      val scheduled = fresh
        .select(col("site_id"), col("kind"), col("page"), col("row"),
          col("depth"), col("crawl_delay_ms"), col("url_hash"), col("host_hash"))
        .as[WaveRow]
        // finer than the reducer knob: a host cannot split across
        // partitions (the politeness rank needs the host contiguous),
        // so the hot host is a fixed-size task — smaller sibling tasks
        // let the scheduler overlap it instead of idling at the barrier
        .repartition(politeParts, col("host_hash"))
        .sortWithinPartitions(col("host_hash"), col("depth"), col("site_id"),
          col("page"), col("row"), col("url_hash"))
        .mapPartitions { it =>
          // hosts are hash-disjoint across partitions and contiguous
          // after the sort: the dedup set resets per host, so memory is
          // bounded by the hottest host's wave slice (8 B per URL)
          val seenUrl = new java.util.HashSet[java.lang.Long]()
          var curHost = 0L
          var rank = 0L
          var started = false
          it.flatMap { r =>
            if (!started || r.host_hash != curHost) {
              curHost = r.host_hash; rank = 0L; seenUrl.clear(); started = true
            }
            if (seenUrl.add(r.url_hash)) {
              val out = RankedRow(r.site_id, r.kind, r.page, r.row, r.depth,
                r.crawl_delay_ms, r.url_hash, r.host_hash,
                rank * r.crawl_delay_ms)
              rank += 1
              Some(out)
            } else None
          }
        }
        .toDF()
        .withColumn("salt", pmod(col("url_hash"), lit(cfg.numSalts)))

      // 5. salted repartition for the fetch stage (defeats host skew — the
      // by-host exchange leaves the hot host in one partition, so writing
      // directly from it would skew both the parquet encode and the
      // read-back; Zipf rank 1 was a ~25% single-task straggler without
      // the salt; a wave of one politeness task and one writer task has no
      // skew to spread, and writes from the politeness pass directly: the
      // same single partition, rows in the same order), then ONE
      // streaming pass stages the wave out to columnar storage
      // (parquet). Wide rows are never cached in memory: the
      // in-memory columnar cache build cost ~3x the compute at 10^6 rows
      // and is pure GC pressure at 10^10 — stage-out to storage is the
      // 100 TB design, and every downstream consumer (seen-set, lineage,
      // the fetch stage itself) reads the columnar file back.
      // derivable columns (canonical = url_canonicalize(url), host =
      // url_host(url)) are NOT stored: the codegen'd kernels recompute them
      // lazily at read time, so the wave file carries one URL string
      // instead of three — fewer parquet bytes through the (memory-
      // bandwidth-contended) stage-out, and consumers that never touch
      // them (the fetch stage prunes to url/site/kind/page/row/depth)
      // never pay for them at all
      // finer-than-core write tasks: (host, salt) groups are few enough at
      // fleet scale that hashing them into exactly `cores` buckets leaves
      // visible imbalance; 3x gives the scheduler room to overlap without
      // shrinking row groups much (quiet-window A/B at N=2/8: 3x edged 2x
      // on both wall and cpu at 8 cores, flat at 2)
      val writeParts = adaptiveParts(parallelism * 3)
      // the wave's fresh count is observed on this write; the metrics node
      // sits in the write's result stage, where Spark merges one update per
      // partition even when a task is retried
      val stagedRows = Observation()
      val stageOut =
        (if (politeParts == 1 && writeParts == 1) scheduled
         else scheduled.repartition(writeParts, col("host_hash"), col("salt")))
        // coordinates only: like `canonical`/`host` (and like the
        // exchanges above), the wave FILE does not store the URL
        // string either — at scale 1M the big-wave stage-out parquet
        // drops 93 → 55 MB (the residue is the incompressible 8-byte
        // url/host hashes), the dominant wave-write cost. Consumers
        // re-derive url/canonical/host from the grammar kernel at
        // read time (fetchInput below); the PERSISTED
        // schedule/snapshot artifacts still materialize the URL.
        .withColumn("partition_id", spark_partition_id())
      stageOut.observe(stagedRows, count(lit(1)))
        .write.mode("overwrite")
        // wave files are transient single-reader stage-out; pinned A/B at
        // N=2/N=8 over snappy/lz4/none showed lz4 ~15% slower and
        // snappy vs none within host noise
        .option("compression", "snappy")
        // the file is coordinates-only: its string columns (site_id,
        // kind) have 54/2 distinct values — exactly what dictionary
        // encoding is for
        .option("parquet.enable.dictionary", "true")
        // hive-style wave=N leaf dir: the wave number rides as a
        // PARTITION column on read-back instead of a `lit(wave)` in the
        // write projection — an int literal is inlined into the
        // generated code, so every wave used to Janino-compile a fresh
        // write-stage class (same machine code, different constant);
        // with the constant in the directory name the projection source
        // is wave-invariant and every wave of every crawl in a session
        // shares one compiled class. Value-identical: the read-back
        // types `wave` as the same IntegerType the literal had.
        .parquet(s"$stageRoot/wave=$wave")
      val fetchInput = withUrls(staged(Seq(wave)))

      // 6. fetch = deterministic synthetic expansion (typed transform).
      val faults = cfg.faults; val wv = wave
      def expandDs(input: DataFrame, attempt: Int): Dataset[ExpandRow] =
        requests(input).mapPartitions(it =>
          expandPartition(it, scale, limit, rev, probe, onBootstrap,
            req => if (faults.getOrElse((req.site_id, wv), 0) > attempt)
              throw new RuntimeException(
                s"synthetic fetch failure: ${req.site_id} wave=$wv attempt=$attempt")))
      // keeps the documents of an eagerly fetched wave, returns its links
      def split(expanded: Dataset[ExpandRow]): Dataset[SyntheticWeb.Req] = {
        postParts += expanded.filter(_.post.isDefined).map(_.post.get).toDF()
        expanded.filter(_.link.isDefined).map(_.link.get)
      }
      // The wave's documents stay LAZY views — caching a million Post rows
      // per wave is pure GC pressure, and downstream consumers (merge,
      // snapshots) recompute the cheap expansion from the staged inputs.
      // Mid-crawl WHOLE-SITE retry (reference run_with_retry around the
      // whole plugin attempt, mod.rs:38-93; a failed detail fetch retries
      // the site from scratch, gnuboard mod.rs:76-81 try_collect). The
      // fast path (no faults configured) keeps the fetch lazy: post pages
      // link nothing, so the links write expands only the list pages
      // without building a document, and each post is fetched once, where
      // the posts are consumed. With faults the wave's fetch runs as
      // per-site materialized slices so one site's failure neither poisons
      // nor re-runs its siblings. Re-fetch is idempotent: the expansion is
      // deterministic and the seen-set/merge tolerate at-least-once
      // delivery, so a fail-then-succeed site yields byte-identical output
      // (CrawlSpec).
      val links: Dataset[SyntheticWeb.Req] =
        if (cfg.livePacing) {
          // LIVE politeness: the wave's fetch runs through the token-bucket
          // executor — real wall-clock spacing per host within each salt
          // lane (numSalts=1 => strict per-host pacing), real lazy SSO
          // sessions (one bootstrap per task×host). The paced result is
          // staged out ONCE so downstream consumers re-read files instead
          // of re-triggering paced fetches.
          val delays: Map[String, Long] =
            Robots.fleetRules.map(r => r.host -> r.crawl_delay_ms.toLong).toMap
          val fetched = ThrottledFetch.run[
              SyntheticWeb.Req, (Option[Post], Seq[SyntheticWeb.Req])](
            requests(fetchInput),
            hostOf = r => SyntheticWeb.siteById(r.site_id).host,
            delayMsFor = h => delays.getOrElse(h, FrontierKey.DefaultDelayMs.toLong),
            // the SAME expansion as the batch fetch stage (expandOne), and
            // the same bootstrap accounting — live mode must not diverge
            fetch = (req, sessionFor) =>
              expandOne(req, scale, limit, rev, probe, sessionFor),
            onBootstrap = onBootstrap)
          // a wave=N leaf dir, like the stage-out: `wave` is read back as
          // a partition column, not inlined into every wave's code as a
          // literal
          val root = s"$workDir/waves/w/fetched"
          fetched.toDF().write.mode("overwrite").parquet(s"$root/wave=$wave")
          val f = spark.read.option("basePath", root).parquet(s"$root/wave=$wave")
          fetchLogParts += f
            .select(col("host"), col("startedAtMs").as("started_at_ms"), col("wave"))
          split(f.as[ThrottledFetch.Fetched[(Option[Post], Seq[SyntheticWeb.Req])]]
            .flatMap { fr =>
              fr.result._1.map(p => ExpandRow(Some(p), None)).toSeq ++
                fr.result._2.map(l => ExpandRow(None, Some(l)))
            })
        } else if (faults.isEmpty)
          requests(fetchInput.filter(col("kind") === "list"))
            .mapPartitions(it => linksPartition(it, scale, limit, rev, probe, onBootstrap))
        else {
          val sites = fetchInput.select("site_id").distinct().as[String].collect().sorted
          val okParts = scala.collection.mutable.ArrayBuffer.empty[String]
          sites.foreach { sid =>
            val p = s"$workDir/waves/w$wave/expand/" +
              java.net.URLEncoder.encode(sid, "UTF-8")
            try {
              Retry.withRetry(3) { attempt =>
                expandDs(fetchInput.filter(col("site_id") === sid), attempt)
                  .toDF().write.mode("overwrite").parquet(p)
              }
              okParts += p
            } catch {
              case e: Retry.RetryExhausted => midCrawlFailures(sid) = e
            }
          }
          split(
            if (okParts.isEmpty) spark.emptyDataset[ExpandRow]
            else spark.read.parquet(okParts.toSeq: _*).as[ExpandRow])
        }

      // The discovered-link frontier is staged to parquet like every other
      // wave product, NOT held in the in-memory columnar cache: at 1M-scale
      // the "small" link set is 3.7M rows, and the next wave's scheduling
      // scan then pays the cache's row-at-a-time deserialization on the hot
      // path (measured: the biggest single CPU consumer of the 8-core
      // bench). Columnar files read back splittable and prunable.
      // the link rows persist COORDINATES only — the URL string (~70 B of
      // the ~100 B row) is grammar-derived, so dropping it shrinks the
      // inter-wave frontier file (written AND re-read every wave) by ~2/3;
      // the next wave's `keyed` re-materializes it (UrlGrammar)
      val linksDf = links.toDF().drop("url")
      val linksPath = s"$workDir/waves/w$wave/links"
      // the next frontier's size is observed on this write (result stage,
      // as for the stage-out above)
      val linkRows = Observation()
      linksDf.observe(linkRows, count(lit(1)))
        .write.mode("overwrite").parquet(linksPath)
      // empty-frontier writes may leave no part files — pin the schema
      val nextFrontier = spark.read.schema(linksDf.schema).parquet(linksPath)

      // 7. state updates + lineage. Both wave counts come from the writes
      // above; the count of what was OFFERED to scheduling excludes
      // failed-site rows pruned by frontierLive — they were never duplicate
      // URLs and must not be absorbed into the 'deduped' lineage metric
      // (that extra count runs only on the rare failure path)
      val scheduledCount =
        if (midCrawlFailures.isEmpty) frontierCount
        else frontierLive.count()
      val freshCount = observedRows(stagedRows, fetchInput.count())
      frontierCount = observedRows(linkRows, nextFrontier.count())
      waveCounts(wave) = (scheduledCount, scheduledCount - freshCount)
      val seenInput = excludeFailedSites(fetchInput)
      val seenDelta = if (midCrawlFailures.isEmpty) freshCount else seenInput.count()
      seenCount += seenDelta
      // the sketch exists to prefilter the NEXT wave's frontier — when the
      // crawl just drained (no discovered links), folding the final wave in
      // would be a full-scan aggregate + driver-side bitmap merge that no
      // probe ever reads (at the 1M-scale bench this is a ~3.7M-row Bloom
      // rebuild on the last wave, pure Amdahl overhead)
      if (frontierCount > 0 && seenCount >= rowsPerTask) {
        val seenAll = seen(wave0 to wave)
        if (sketch.isEmpty) sketch.add(seenAll, seenCount, "url_hash")(seenAll)
        else sketch.add(seenInput, seenDelta, "url_hash")(seenAll)
      }

      cfg.snapshotDir.foreach { dir =>
        val done = wave0 to wave
        val sched = schedule(done)
        // failed sites are filtered OUT of the persisted posts/seen state
        // (their earlier-wave contributions included — the 'failed plugin
        // yields an error, not partial output' contract must survive a
        // snapshot resume) and recorded in the manifest so a resumed run
        // still reports them
        Snapshots.write(spark, dir, wave, Map(
          "posts" -> posts(done),
          "seen" -> excludeFailedSeen(seen(done), sched),
          "frontier" -> nextFrontier,
          "schedule" -> sched,
          "lineage" -> lineage(done)), cfg,
          failures = midCrawlFailures.toMap.view.mapValues(_.getMessage).toMap)
      }

      frontier = nextFrontier
      wave += 1
    }

    val done = wave0 until wave
    val sched = schedule(done)
    new Result(
      posts(done),
      excludeFailedSeen(seen(done), sched),
      sched,
      lineage(done),
      ssoBootstraps,
      midCrawlFailures.toMap,
      fetchLogParts.reduce(_ unionByName _),
      batch(done))
  }
}
