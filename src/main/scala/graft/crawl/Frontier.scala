package graft.crawl

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.functions.GraftFunctions
import graft.model.Post

/*
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
 *  5. salted repartition (host_hash, salt) of the wave's stage-out so a
 *     hot host (Zipf rank 1 = scatch) spreads across `numSalts` partitions
 *     instead of serializing on one — the salted-key priority queue. A
 *     wave that fits one task writes from the politeness pass directly.
 *     Priority = (depth, ready_ms, host, site, page, row), carried as
 *     explicit columns so order is independent of partitioning;
 *  6. fetch: the wave writes only the links it discovers, the next
 *     frontier ([[linksPartition]]). Every fetch mode does: the default
 *     expands the list pages alone; fault injection runs each site's slice
 *     under whole-site [[Retry]], with the fault check on every request;
 *     live pacing fetches every request through [[ThrottledFetch]] and
 *     stages its links and its document under `fetched/wave=N`. The posts
 *     are fetched once, where the run's posts are consumed
 *     ([[postsPartition]] over the staged post rows), or, under live
 *     pacing, read back from the paced fetch's waves;
 *  7. state: every wave stages out into one table root, partitioned by
 *     wave, and the run's seen set, schedule, posts, merge batch and fetch
 *     log are views over the waves staged there — a resumed crawl's
 *     earlier waves, then this run's — and over nothing else; the
 *     per-(wave, partition) lineage is read from the part files' parquet
 *     footers. The wave's counts are observed on the stage-out and links
 *     writes ([[Dataset.observe]]), not counted by extra jobs.
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
 * long-lived sessions).
 */
private[graft] object TempDirs {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() => {
    dirs.forEach(dir => try deleteRecursively(dir) catch { case _: Throwable => () })
  }))

  /** Delete `p` and everything under it, depth-first, closing the walk's
    * directory stream eagerly (one left open leaks an fd per directory). */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }

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

  /** What the live-paced fetch stages for one request: its document with
    * its crawl order, and its links. */
  private type LiveFetch = (Option[(Post, Long)], Seq[SyntheticWeb.Req])

  /** The live-paced fetch as staged (host, start time and [[LiveFetch]] of
    * each request), then the `wave` directory column. Lazy, like the fetch
    * log: deriving the encoder is start-up time only a live-paced run
    * needs. */
  private lazy val FetchedSchema = Encoders.product[ThrottledFetch.Fetched[LiveFetch]].schema
    .add("wave", IntegerType)

  /** A frontier of [[SyntheticWeb.Req]] rows, every column nullable. */
  private[crawl] val FrontierSchema = StructType(
    Encoders.product[SyntheticWeb.Req].schema.map(_.copy(nullable = true)))

  /** The per-(wave, partition) lineage: the stage-out's `wave` and
    * `partition_id`, the wave's frontier offer and its duplicates, and the
    * rows the partition staged. */
  private val LineageSchema = StructType(Seq(
    StructField("wave", IntegerType), StructField("partition_id", IntegerType),
    StructField("scheduled", LongType, nullable = false),
    StructField("deduped", LongType, nullable = false),
    StructField("fetched", LongType, nullable = false)))

  /** The row groups of each part file in `dir`, from its parquet footer. */
  private[crawl] def footers(spark: SparkSession, dir: String): Seq[(Path, Seq[BlockMetaData])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    path.getFileSystem(conf).listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        f.getPath -> (try reader.getFooter.getBlocks.asScala.toSeq finally reader.close())
      }
  }

  /** `(partition_id, rows)` of each non-empty part file of the stage-out
    * wave in `dir`, in partition order, read from the parquet footers: a
    * file's row count, and its `partition_id` statistics, whose min equals
    * the max because one writer task wrote the file. */
  private def partitionRows(spark: SparkSession, dir: String): Seq[(Int, Long)] =
    footers(spark, dir).flatMap { case (file, blocks) =>
      val ids = blocks.filter(_.getRowCount > 0).flatMap { b =>
        val stats = b.getColumns.asScala.find(_.getPath.toDotString == "partition_id")
          .getOrElse(sys.error(s"$file: no partition_id column")).getStatistics
        Seq(stats.genericGetMin, stats.genericGetMax)
      }.distinct
      require(ids.size <= 1, s"$file holds partition ids ${ids.mkString(", ")}")
      ids.map(id => id.asInstanceOf[Integer].intValue -> blocks.map(_.getRowCount).sum)
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted

  /** A crawl dir's stage-out root, and one wave's links (the next frontier). */
  private[crawl] def stageRoot(dir: String): String = s"$dir/waves/w/schedule"
  private[crawl] def linksDir(dir: String, wave: Int): String = s"$dir/waves/w$wave/links"

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
      // gnuboard mod.rs:76-81). Non-empty faults write each site's links
      // of a wave as one job, retried whole by Retry.
      faults: Map[(String, Int), Int] = Map.empty,
      // Live pacing: fetch every request through the ThrottledFetch
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

  /** A crawl run's outputs. `posts`, `lineage`, `fetchLog` and `batch` are
    * built on first use: a caller that reads only the schedule and the seen
    * set pays neither the stage-out footer reads nor the analysis of the
    * post fetch. */
  final class Result(
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
      fetchLogOf: => DataFrame,
      // the posts with their crawl order `seq` (page * 10^6 + row of the
      // request that fetched each): the daemon merge's batch
      batchOf: => DataFrame) {
    lazy val lineage: DataFrame = lineageOf
    lazy val fetchLog: DataFrame = fetchLogOf
    lazy val batch: DataFrame = batchOf
    /** The fetched documents (Post schema): the batch without its order. */
    lazy val posts: DataFrame = batch.drop("seq")
  }

  // The crawl's two expansion kernels, shared by every fetch mode and the
  // streaming crawl. Each expands the requests of one task with its
  // session provider: a lazy once-per-host SSO bootstrap for auth-family
  // sites (S8, [[Sso.partitionSessions]]), then the deterministic
  // synthetic fetch.

  /** The documents of the post requests in `it`, each with the crawl order
    * of its request: page * 10^6 + row. */
  private[graft] def postsPartition(
      it: Iterator[SyntheticWeb.Req], scale: Long, limit: Long, rev: Int,
      sessionFor: String => Sso.Session): Iterator[(Post, Long)] =
    it.filter(_.kind == "post").flatMap(req =>
      SyntheticWeb.expand(req, scale, limit, rev, session(req, sessionFor))._1
        .map(p => (p, req.page * 1000000L + req.row)))

  /** The links the requests in `it` discover. No document is built: a post
    * page links nothing. */
  private[graft] def linksPartition(
      it: Iterator[SyntheticWeb.Req], scale: Long, limit: Long, rev: Int,
      probe: Boolean, sessionFor: String => Sso.Session): Iterator[SyntheticWeb.Req] =
    it.flatMap(req =>
      discovered(SyntheticWeb.links(req, scale, limit, rev, session(req, sessionFor)), probe))

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

  /** Rows that `obs` counted on the write that just ran (a stage-out or
    * links write). The count is a by-product of that write job. An
    * observation Spark could not fill (its plan lost the metrics node, or
    * the listener event never came) falls back to `recount`, an exact
    * count of what was written. */
  private def observedRows(obs: Observation, recount: => Long): Long =
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
    val seedReqs = seedRequests(cfg)
    // typed nullable, as every later wave reads its frontier back from
    // parquet: each wave's scheduling stages then generate the same code
    val seeds = spark.createDataFrame(seedReqs.map(r =>
      Row(r.url, r.site_id, r.kind, r.page, r.row, r.depth)).asJava, FrontierSchema)
    crawlFrom(spark, cfg, seeds, wave0 = 0, frontierRows = Some(seedReqs.size.toLong))
  }

  /** Crawl from `frontier0` at `wave0` with no crawl state: a crawl
    * resumes one way, [[Snapshots.resume]]. The state parameters are
    * accepted only empty, checked on their plans with no job. */
  def runFrom(
      spark: SparkSession, cfg: Config, frontier0: DataFrame, wave0: Int,
      seen0: DataFrame, posts0: DataFrame,
      schedule0: Option[DataFrame], lineage0: Option[DataFrame]): Result = {
    require(Seq(seen0, posts0).forall(_.queryExecution.analyzed.maxRows.contains(0L)) &&
      schedule0.isEmpty && lineage0.isEmpty, "runFrom takes no crawl state: seen0 and posts0 " +
      "must be empty, schedule0 and lineage0 None; resume a crawl with Snapshots.resume")
    crawlFrom(spark, cfg, frontier0, wave0)
  }

  /** Crawl from `frontier0` at `wave0`. `waves0` maps the waves before
    * `wave0` already staged in `cfg.snapshotDir` (a snapshot resume) to
    * their `(scheduled, deduped)` counts: the run's only starting state,
    * over which its views range too. `failures0` carries a resumed
    * snapshot's mid-crawl failures forward, still reported and excluded.
    * `frontierRows` is `frontier0`'s row count when the caller knows it. */
  private[crawl] def crawlFrom(
      spark: SparkSession, cfg: Config, frontier0: DataFrame, wave0: Int,
      failures0: Map[String, Throwable] = Map.empty,
      frontierRows: Option[Long] = None,
      waves0: Map[Int, (Long, Long)] = Map.empty): Result = {
    import spark.implicits._
    require(!cfg.livePacing || cfg.faults.isEmpty,
      "livePacing and fault injection are separate test modes")
    require(cfg.seenSketch == "bloom" || cfg.seenSketch == "cuckoo",
      s"seenSketch must be \"bloom\" or \"cuckoo\", got \"${cfg.seenSketch}\"")

    val ssoBootstraps = spark.sparkContext.longAccumulator("sso_bootstraps")
    // wave stage-out root: the snapshot dir when snapshotting, else a
    // transient dir — without the exit cleanup every crawl would leak its
    // wave files into tmpfs
    val workDir = cfg.snapshotDir.getOrElse(TempDirs.create("graft-crawl-"))
    // the waves staged before wave `w`: those of the dir, then this run's
    def wavesBefore(w: Int): Seq[Int] = waves0.keys.toSeq.sorted ++ (wave0 until w)
    // the frontier is url-free inside the wave loop (UrlGrammar derives
    // the string from coordinates at the consumption edges); dropping the
    // column here normalizes every entry path — fresh seeds (which carry
    // the Req url) and resumed snapshots (already url-free) alike
    var frontier = frontier0.drop("url")

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
    // staged: one scan of their explicit leaf dirs per view. A union tree
    // of per-wave frames would grow every wave, and Catalyst/AQE would
    // re-plan the ever-larger plan — a serial driver cost that destroys
    // N->4N scaling efficiency. The root itself is never listed: a resumed
    // snapshot dir can still hold stage-outs of waves after its CURRENT.
    def scan(root: String, schema: StructType)(waves: Seq[Int]): DataFrame =
      if (waves.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.schema(schema).option("basePath", root)
        .parquet(waves.map(w => s"$root/wave=$w"): _*)
    val stageRoot = Crawl.stageRoot(workDir)
    def staged(waves: Seq[Int]): DataFrame = scan(stageRoot, StageSchema)(waves)
    // the live-paced fetch stages its results beside the stage-out; a run
    // without live pacing has none
    val fetchedRoot = s"$workDir/waves/w/fetched"
    def fetched(waves: Seq[Int]): DataFrame =
      scan(fetchedRoot, FetchedSchema)(if (cfg.livePacing) waves else Nil)
    // the URL string re-enters HERE, at read time (one grammar-kernel
    // evaluation per consuming projection — per-row CPU in parallel
    // stages, traded for the dominant stage-out write/read bytes)
    def withUrls(df: DataFrame): DataFrame = df
      .withColumn("url", UrlGrammar.rebuild_url(col("site_id"), col("kind"),
        col("page"), col("row"), cfg.scale, cfg.rev))
      .withColumn("canonical", GraftFunctions.url_canonicalize(col("url")))
      .withColumn("host", GraftFunctions.url_host(col("url")))
    // A site that exhausted mid-crawl retries keeps its URLs OUT of the
    // seen set: its fetches never happened, so a snapshot resume (or the
    // next daemon run) must re-schedule them — its schedule rows remain as
    // the attempt record the error report cites
    def seen(waves: Seq[Int]): DataFrame =
      excludeFailedSites(staged(waves)).select(col("url_hash"), col("wave").as("first_wave"))
    def schedule(waves: Seq[Int]): DataFrame =
      withUrls(staged(waves)).select("wave", "host", "url", "canonical",
        "url_hash", "site_id", "page", "row", "depth", "ready_ms", "crawl_delay_ms")
    // (scheduled, deduped) per staged wave: driver values the writes
    // observed
    val waveCounts = scala.collection.mutable.HashMap.empty[Int, (Long, Long)] ++= waves0
    // a local relation: each stage-out part file holds one writer task's
    // rows, so its footer gives that (wave, partition)'s fetched count
    // without a job over the data
    def lineage(waves: Seq[Int]): DataFrame =
      spark.createDataFrame(waves.flatMap { w =>
        val (scheduled, deduped) = waveCounts(w)
        partitionRows(spark, s"$stageRoot/wave=$w").map { case (pid, fetched) =>
          Row(w, pid, scheduled, deduped, fetched)
        }
      }.asJava, LineageSchema)

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
    // The documents this run fetched, each with its request's crawl order.
    // A wave builds none: each post is fetched once, here, where the posts
    // are consumed — ONE expansion over the staged post rows of every wave,
    // or, under live pacing, a scan of what the paced fetch staged
    def fetchedPosts(waves: Seq[Int]): DataFrame =
      if (cfg.livePacing)
        fetched(waves).filter(col("result._1").isNotNull)
          .select(col("result._1._1.*"), col("result._1._2").as("seq"))
      else
        requests(withUrls(staged(waves)).filter(col("kind") === "post"))
          .mapPartitions(it =>
            postsPartition(it, scale, limit, rev, Sso.partitionSessions(onBootstrap)))
          .toDF("post", "seq").select(col("post.*"), col("seq"))
    // the merge batch: the posts with their crawl order `seq`. A site that
    // exhausted mid-crawl retries contributes NO posts to the run (the
    // reference's failed plugin yields an error, not partial output —
    // mod.rs:38-93); its schedule/lineage rows remain as the attempt record
    // the error report cites
    def batch(waves: Seq[Int]): DataFrame = excludeFailedSites(fetchedPosts(waves))
    // the starting seen set is the staged rows of the dir's waves
    var seenCount = waves0.values.map { case (scheduled, deduped) => scheduled - deduped }.sum
    var wave = wave0
    // frontier size is carried between waves (the links write observed it) —
    // no extra action per wave just to test emptiness
    var frontierCount = frontierRows.getOrElse(frontier.count())
    // Scale-adaptive partition counts (guide §2.5/§6): a wave's task count
    // follows its size, at `rowsPerTask` rows per task
    val rowsPerTask = sys.props.getOrElse("graft.rows.per.task", "8192").toLong
    // incrementally-maintained seen sketch: each wave folds its fresh delta
    // in (O(|delta|)) instead of re-aggregating the whole seen set
    // (O(|seen|) per wave — a full-state scan per wave at 10^10 URLs). A
    // seen set under one task's rows has none: the exact anti-join alone
    // probes it, and the first build covers the whole set once it crosses
    // that size: a resumed run's covers the waves it read from the dir
    val sketch = new SeenSet.IncrementalSketch(cfg.seenSketch,
      initialCapacity = seenCount * 4)
    if (seenCount >= rowsPerTask && wave < cfg.maxWaves && frontierCount > 0)
      sketch.add(seen(wavesBefore(wave)), seenCount, "url_hash")(seen(wavesBefore(wave)))

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
          if (sketched.isDefined) seen(wavesBefore(wave))
          else seen(wavesBefore(wave)).select("url_hash").as[Long].collect().toSeq.toDF("url_hash"),
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
        // read time (fetchInput below and every view of the run).
        .withColumn("partition_id", spark_partition_id())
      // a reused snapshot dir's versions from this wave on would mix two
      // crawls' waves
      cfg.snapshotDir.foreach(Snapshots.uncommitFrom(_, wave))
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

      // 6. fetch: the wave writes only the links it discovers; each post is
      // fetched once, where the run's posts are consumed (`posts` and
      // `batch` above). Re-fetch is idempotent: the expansion is
      // deterministic and the seen-set/merge tolerate at-least-once
      // delivery, so a fail-then-succeed site yields byte-identical output
      // (CrawlSpec).
      val links: Dataset[SyntheticWeb.Req] =
        if (cfg.livePacing) {
          // LIVE politeness: the wave's fetch runs through the token-bucket
          // executor — real wall-clock spacing per host within each salt
          // lane (numSalts=1 => strict per-host pacing), real lazy SSO
          // sessions (one bootstrap per task×host). Each request's links and
          // document are staged out ONCE, in a wave=N leaf dir like the
          // stage-out's, so the links write, the posts and the fetch log
          // re-read files instead of re-triggering paced fetches.
          val delays: Map[String, Long] =
            Robots.fleetRules.map(r => r.host -> r.crawl_delay_ms.toLong).toMap
          ThrottledFetch.run[SyntheticWeb.Req, LiveFetch](
            requests(fetchInput),
            hostOf = r => SyntheticWeb.siteById(r.site_id).host,
            delayMsFor = h => delays.getOrElse(h, FrontierKey.DefaultDelayMs.toLong),
            // the same two kernels as every other mode, on the paced
            // task's sessions
            fetch = (req, sessionFor) => (
              postsPartition(Iterator.single(req), scale, limit, rev, sessionFor).nextOption(),
              linksPartition(Iterator.single(req), scale, limit, rev, probe, sessionFor).toSeq),
            onBootstrap = onBootstrap)
            .toDF().write.mode("overwrite").parquet(s"$fetchedRoot/wave=$wave")
          fetched(Seq(wave)).select(inline(col("result._2"))).as[SyntheticWeb.Req]
        } else if (cfg.faults.isEmpty)
          // post pages link nothing: only the list pages are expanded
          requests(fetchInput.filter(col("kind") === "list"))
            .mapPartitions(it => linksPartition(it, scale, limit, rev, probe,
              Sso.partitionSessions(onBootstrap)))
        else {
          // Mid-crawl WHOLE-SITE retry (reference run_with_retry around the
          // whole plugin attempt, mod.rs:38-93; a failed detail fetch
          // retries the site from scratch, gnuboard mod.rs:76-81
          // try_collect). Each site's slice, post rows included, is one job
          // that checks for an injected fault on every request: a failed
          // check fails the task and with it the site's attempt, like a
          // failed HTTP request fails the reference's plugin attempt. One
          // site's failure neither poisons nor re-runs its siblings.
          val faults = cfg.faults; val wv = wave
          val sites = fetchInput.select("site_id").distinct().as[String].collect().sorted
          val okParts = scala.collection.mutable.ArrayBuffer.empty[String]
          sites.foreach { sid =>
            val p = s"$workDir/waves/w$wave/site-links/" +
              java.net.URLEncoder.encode(sid, "UTF-8")
            try {
              Retry.withRetry(3) { attempt =>
                requests(fetchInput.filter(col("site_id") === sid))
                  .mapPartitions(it => linksPartition(
                    it.tapEach(req => if (faults.getOrElse((req.site_id, wv), 0) > attempt)
                      throw new RuntimeException(
                        s"synthetic fetch failure: ${req.site_id} wave=$wv attempt=$attempt")),
                    scale, limit, rev, probe, Sso.partitionSessions(onBootstrap)))
                  .write.mode("overwrite").parquet(p)
              }
              okParts += p
            } catch {
              case e: Retry.RetryExhausted => midCrawlFailures(sid) = e
            }
          }
          if (okParts.isEmpty) spark.emptyDataset[SyntheticWeb.Req]
          else spark.read.schema(FrontierSchema).parquet(okParts.toSeq: _*).as[SyntheticWeb.Req]
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
      val linksPath = linksDir(workDir, wave)
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
        val seenAll = seen(wavesBefore(wave + 1))
        if (sketch.isEmpty) sketch.add(seenAll, seenCount, "url_hash")(seenAll)
        else sketch.add(seenInput, seenDelta, "url_hash")(seenAll)
      }

      // the version commits counts over the waves staged in the dir, and
      // the failed sites a resumed run keeps excluding and reporting
      cfg.snapshotDir.foreach(
        Snapshots.write(_, wave, cfg, waveCounts, frontierCount, midCrawlFailures))

      frontier = nextFrontier
      wave += 1
    }

    val done = wavesBefore(wave)
    new Result(
      seen(done),
      schedule(done),
      lineage(done),
      ssoBootstraps,
      midCrawlFailures.toMap,
      fetched(done).select(col("host"), col("startedAtMs").as("started_at_ms"), col("wave")),
      batch(done))
  }
}
