package graft.crawl

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Post

/**
 * Iceberg-STYLE snapshots over Parquet (no Iceberg runtime jar is available
 * offline — SURVEY.md §7). A snapshot crawl stages its waves in its dir
 * like any crawl (`waves/w/schedule/wave=N`, `waves/wN/links`); version N is
 * metadata over them, never a copy: `snapshots/vN/manifest.json` records
 * the pinned config, the counts of waves 0..N and the failed sites, and an
 * atomically-replaced `CURRENT` names the latest. Reading or resuming
 * version N is the crawl's own views over waves 0..N: resumability,
 * snapshot isolation and lineage behind a small API a real Iceberg catalog
 * could replace.
 *
 * Reference analog: the crawl output repo itself is the checkpoint
 * (cache JSON round-tripped through git, .github/workflows/
 * daemon.yml:73-84,127-143).
 */
object Snapshots {

  /** The config fields a snapshot's waves depend on (the URL grammar, the
    * place of a live-paced crawl's documents): the manifest records them
    * and [[resume]] refuses a mismatch. */
  private def pinned(cfg: Crawl.Config): Seq[(String, Any)] = Seq(
    "scale" -> cfg.scale, "limit_per_site" -> cfg.limitPerSite, "rev" -> cfg.rev,
    "num_salts" -> cfg.numSalts, "probe_pagination" -> cfg.probePagination,
    "live_pacing" -> cfg.livePacing)

  /** Commit version `wave`: `waves` maps every wave staged in `dir` up to
    * it to its `(scheduled, deduped)` counts, `links` is the rows of its
    * links file. */
  private[crawl] def write(dir: String, wave: Int, cfg: Crawl.Config,
      waves: collection.Map[Int, (Long, Long)], links: Long,
      failures: collection.Map[String, Throwable]): Unit = {
    val vdir = Paths.get(dir, "snapshots", s"v$wave")
    // jackson-rendered (site messages are free text — hand-quoting would
    // break the manifest on the first embedded quote)
    val node = graft.sinks.SiteJson.mapper.createObjectNode()
    node.put("wave", wave)
    pinned(cfg).foreach { case (k, v) =>
      node.set[JsonNode](k, graft.sinks.SiteJson.mapper.valueToTree[JsonNode](v)) }
    val staged = node.putArray("waves")
    waves.toSeq.sorted.foreach { case (w, (scheduled, deduped)) =>
      staged.addObject().put("wave", w).put("scheduled", scheduled)
        .put("deduped", deduped).put("staged", scheduled - deduped)
    }
    node.put("links", links)
    // mid-crawl retry-exhausted sites: a resumed or time-travel read
    // excludes their rows from every view and keeps reporting them
    val fails = node.putObject("failed_sites")
    failures.toSeq.sortBy(_._1).foreach { case (s, e) => fails.put(s, e.getMessage) }
    Files.createDirectories(vdir)
    // the manifest's EXISTENCE is the version's commit marker (versions()/
    // read() key on it), so it must appear atomically: tmp + ATOMIC_MOVE,
    // never a direct write a crash could tear into a half-committed version
    val mtmp = vdir.resolve(".manifest.tmp")
    Files.writeString(mtmp, node.toPrettyString)
    Files.move(mtmp, vdir.resolve("manifest.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // atomic CURRENT pointer swap
    val tmp = Paths.get(dir, "snapshots", s".CURRENT.tmp$wave")
    Files.writeString(tmp, s"v$wave")
    Files.move(tmp, Paths.get(dir, "snapshots", "CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def currentVersion(dir: String): Option[Int] = {
    val cur = Paths.get(dir, "snapshots", "CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim.stripPrefix("v").toInt)
    else None
  }

  /** All committed snapshot versions, oldest first. A version directory
    * only counts once its manifest exists (the wave writes precede the
    * manifest, so a crashed half-written snapshot is invisible here). */
  def versions(dir: String): Seq[Int] = {
    val root = Paths.get(dir, "snapshots")
    if (!Files.isDirectory(root)) return Seq.empty
    val stream = Files.list(root)
    try {
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit))
        .map(_.drop(1).toInt)
        .filter(v => Files.exists(root.resolve(s"v$v/manifest.json")))
        .toSeq.sorted
    } finally stream.close()
  }

  /**
   * Time-travel read of `posts`, `seen`, `schedule`, `lineage` or
   * `frontier`: `version = None` reads the CURRENT snapshot, `Some(v)`
   * exactly version v, whatever was committed later (the Iceberg
   * snapshot-isolation property). The frontier is wave v's links; every
   * other table is that view of the crawl continued at v for no wave.
   */
  def read(spark: SparkSession, dir: String, table: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(dir)).getOrElse(
      throw new IllegalStateException(s"no CURRENT snapshot under $dir"))
    val node = manifest(dir, v)
    lazy val r = continueAt(spark, dir, v, node, recorded(node).copy(maxWaves = v + 1))
    table match {
      case "frontier" => frontier(spark, dir, v)
      case "posts"    => r.posts
      case "seen"     => r.seen
      case "schedule" => r.schedule
      case "lineage"  => r.lineage
      case _ => throw new IllegalArgumentException(s"no snapshot table $table")
    }
  }

  /**
   * Incremental changefeed between two committed versions: the rows of
   * `table` present at `toV` but absent at `fromV`, keyed by `keyCols`
   * (the Iceberg incremental-read shape — a consumer that processed
   * version `fromV` reads ONLY the delta, never the accumulated state).
   * Both sides shuffle on the key columns only when neither fits in a
   * broadcast; the usual daemon delta (one crawl batch against deep
   * history) broadcasts the small side automatically.
   */
  def changes(spark: SparkSession, dir: String, table: String,
      fromV: Int, toV: Int, keyCols: Seq[String]): DataFrame = {
    require(fromV <= toV, s"changefeed range must be ordered: v$fromV..v$toV")
    require(keyCols.nonEmpty, "changefeed needs at least one key column")
    val to = read(spark, dir, table, Some(toV))
    if (fromV == toV) to.limit(0)
    else to.join(read(spark, dir, table, Some(fromV)), keyCols, "left_anti")
  }

  /**
   * Resume the crawl staged in `dir` from its CURRENT version v: re-enter
   * the wave loop at wave v+1 with wave v's links as the frontier, staging
   * and committing in `dir` whatever `cfg.snapshotDir` names. Idempotent by
   * construction: the seen-set makes re-fetching a no-op and the schedule
   * is a pure function of the frontier. Throws if `cfg` differs from the
   * snapshot's config in any [[pinned]] field, or a staged wave or wave v's
   * links hold other than the manifest's row count.
   */
  def resume(spark: SparkSession, dir: String, cfg: Crawl.Config): Crawl.Result = {
    val v = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no CURRENT snapshot under $dir"))
    val node = manifest(dir, v)
    val mismatched = pinned(cfg).zip(pinned(recorded(node))).collect {
      case ((k, want), (_, got)) if want != got => s"$k: snapshot $got, config $want"
    }
    require(mismatched.isEmpty, s"snapshot v$v under $dir was written by a " +
      s"different crawl config (${mismatched.mkString("; ")})")
    continueAt(spark, dir, v, node, cfg)
  }

  /** The committed manifest of version `v`. One without wave counts, a
    * copy of the crawl's tables, is refused. */
  private def manifest(dir: String, v: Int): JsonNode = {
    val path = Paths.get(dir, "snapshots", s"v$v", "manifest.json")
    require(Files.exists(path), s"snapshot v$v is not committed under $dir")
    val node = graft.sinks.SiteJson.mapper.readTree(Files.readString(path))
    if (node.has("waves")) node
    else throw new IllegalStateException(s"snapshot v$v under $dir records no wave counts")
  }

  /** The crawl config that a manifest pins. */
  private def recorded(node: JsonNode): Crawl.Config = Crawl.Config(
    scale = node.get("scale").asLong, limitPerSite = node.get("limit_per_site").asLong,
    rev = node.get("rev").asInt, numSalts = node.get("num_salts").asInt,
    probePagination = node.get("probe_pagination").asBoolean,
    livePacing = node.get("live_pacing").asBoolean)

  private def frontier(spark: SparkSession, dir: String, v: Int): DataFrame =
    spark.read.schema(Crawl.FrontierSchema).parquet(Crawl.linksDir(dir, v)).drop("url")

  /** The crawl staged in `dir`, continued at version `v` under `cfg`. Every
    * staged wave and wave v's links are checked against the manifest's row
    * counts, read from the parquet footers: a truncated wave — a lost part
    * file — fails here instead of silently re-crawling less. */
  private def continueAt(spark: SparkSession, dir: String, v: Int, node: JsonNode,
      cfg: Crawl.Config): Crawl.Result = {
    import spark.implicits._
    def checked(what: String, path: String, want: Long): Long = {
      val got = Crawl.footers(spark, path).flatMap(_._2).map(_.getRowCount).sum
      if (got == want) got else throw new IllegalStateException(
        s"snapshot v$v under $dir is incomplete: $what has $got rows, its manifest records $want")
    }
    val waves = node.get("waves").elements().asScala.map { w =>
      val wave = w.get("wave").asInt
      checked(s"wave $wave's stage-out", s"${Crawl.stageRoot(dir)}/wave=$wave",
        w.get("staged").asLong)
      wave -> (w.get("scheduled").asLong, w.get("deduped").asLong)
    }.toSeq
    val links = checked(s"waves/w$v/links", Crawl.linksDir(dir, v), node.get("links").asLong)
    val failures0 = node.get("failed_sites").fields().asScala
      .map(e => e.getKey -> (new RuntimeException(e.getValue.asText()): Throwable)).toMap
    Crawl.runFrom(spark, cfg.copy(snapshotDir = Some(dir)), frontier(spark, dir, v), v + 1,
      seen0 = Seq.empty[(Long, Int)].toDF("url_hash", "first_wave"),
      posts0 = spark.emptyDataset[Post].toDF(), schedule0 = None, lineage0 = None, failures0,
      frontierRows = Some(links), seenRows = Some(waves.map { case (_, (s, d)) => s - d }.sum),
      waves0 = waves.toMap)
  }
}
