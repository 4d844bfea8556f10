package graft.crawl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/**
 * Iceberg-STYLE snapshot convention over Parquet (no Iceberg runtime jar is
 * available offline — SURVEY.md §7): versioned snapshot dirs
 * `snapshots/v<N>/<table>/` + a JSON manifest with per-partition lineage,
 * and an atomically-replaced `CURRENT` pointer. This gives the properties
 * the north rule exercises — resumability, snapshot isolation, lineage —
 * behind a small API a real Iceberg catalog could replace.
 *
 * Reference analog: the crawl output repo itself is the checkpoint
 * (cache JSON round-tripped through git, .github/workflows/
 * daemon.yml:73-84,127-143).
 */
object Snapshots {

  /** The config fields a snapshot's coordinates-only frontier depends on:
    * the URL grammar rebuilds different URLs under any other values, so
    * the manifest records them and [[resume]] refuses a mismatch. */
  private def pinned(cfg: Crawl.Config): Seq[(String, Any)] = Seq(
    "scale" -> cfg.scale, "limit_per_site" -> cfg.limitPerSite, "rev" -> cfg.rev,
    "num_salts" -> cfg.numSalts, "probe_pagination" -> cfg.probePagination)

  def write(spark: SparkSession, dir: String, wave: Int,
      tables: Map[String, DataFrame], cfg: Crawl.Config,
      failures: Map[String, String] = Map.empty): Unit = {
    val vdir = Paths.get(dir, "snapshots", s"v$wave")
    // each table's row count is observed on its write; the fallback
    // recount pins the schema, as an empty write may leave no part file
    val rowCounts = tables.toSeq.map { case (name, df) =>
      val path = vdir.resolve(name).toString
      val rows = Observation()
      df.observe(rows, count(lit(1))).write.mode("overwrite").parquet(path)
      name -> Crawl.observedRows(rows, spark.read.schema(df.schema).parquet(path).count())
    }
    // jackson-rendered (site messages are free text — hand-quoting would
    // break the manifest on the first embedded quote)
    val node = graft.sinks.SiteJson.mapper.createObjectNode()
    node.put("wave", wave)
    pinned(cfg).foreach { case (k, v) =>
      node.set[JsonNode](k, graft.sinks.SiteJson.mapper.valueToTree[JsonNode](v)) }
    val counts = node.putObject("row_counts")
    rowCounts.foreach { case (n, rows) => counts.put(n, rows) }
    // mid-crawl retry-exhausted sites: their state rows are already
    // filtered out of posts/seen above; the record here lets a RESUMED run
    // keep reporting (and excluding) them
    val fails = node.putObject("failed_sites")
    failures.toSeq.sortBy(_._1).foreach { case (s, m) => fails.put(s, m) }
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
    * only counts once its manifest exists (the table writes precede the
    * manifest, so a crashed half-written snapshot is invisible here). */
  def versions(dir: String): Seq[Int] = {
    val root = Paths.get(dir, "snapshots")
    if (!Files.isDirectory(root)) return Seq.empty
    val stream = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit))
        .map(_.drop(1).toInt)
        .filter(v => Files.exists(root.resolve(s"v$v/manifest.json")))
        .toSeq.sorted
    } finally stream.close()
  }

  /**
   * Time-travel read of a snapshotted table: `version = None` reads the
   * CURRENT snapshot, `Some(v)` reads exactly version v — every committed
   * version stays readable (the Iceberg snapshot-isolation property: a
   * reader pinned to v sees v's files regardless of later commits).
   */
  def read(spark: SparkSession, dir: String, table: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(dir)).getOrElse(
      throw new IllegalStateException(s"no CURRENT snapshot under $dir"))
    require(Files.exists(Paths.get(dir, "snapshots", s"v$v", "manifest.json")),
      s"snapshot v$v is not committed under $dir")
    readTable(spark, dir, v, table)
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

  private def readTable(spark: SparkSession, dir: String, v: Int, name: String): DataFrame =
    spark.read.parquet(Paths.get(dir, "snapshots", s"v$v", name).toString)

  /**
   * Resume a crawl from the latest snapshot: re-enter the wave loop at
   * wave v+1 with the persisted frontier/seen/posts state. Idempotent by
   * construction: the seen-set makes re-fetching a no-op and the schedule
   * is a pure function of the frontier. Throws if `cfg` differs from the
   * snapshot's config in any [[pinned]] field, or if the frontier or seen
   * table read back holds other than the manifest's row count.
   */
  def resume(spark: SparkSession, dir: String, cfg: Crawl.Config): Crawl.Result = {
    val v = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no CURRENT snapshot under $dir"))
    val manifest = Paths.get(dir, "snapshots", s"v$v", "manifest.json")
    require(Files.exists(manifest), s"snapshot v$v is not committed under $dir")
    val node = graft.sinks.SiteJson.mapper.readTree(Files.readString(manifest))
    val mismatched = pinned(cfg).flatMap { case (k, want) =>
      val got = Option(node.get(k)).map(_.asText).orNull
      if (got == want.toString) None else Some(s"$k: snapshot $got, config $want")
    }
    require(mismatched.isEmpty, s"snapshot v$v under $dir was written by a " +
      s"different crawl config (${mismatched.mkString("; ")})")
    val failures0: Map[String, Throwable] =
      Option(node.get("failed_sites")).toSeq.flatMap { f =>
        val it = f.fields()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(e => e.getKey -> (new RuntimeException(e.getValue.asText()): Throwable))
          .toSeq
      }.toMap
    // the frontier and seen tables are counted anyway (the crawl sizes its
    // first wave and its seen sketch from them), so checking them against
    // the manifest's row_counts costs no extra job: a truncated vN — a
    // lost part file — fails here instead of silently re-crawling less
    val frontier0 = readTable(spark, dir, v, "frontier")
    val seen0 = readTable(spark, dir, v, "seen")
    val frontierRows = checkedCount(node, v, dir, "frontier", frontier0)
    val seenRows = checkedCount(node, v, dir, "seen", seen0)
    Crawl.runFrom(spark, cfg,
      frontier0 = frontier0,
      wave0 = v + 1,
      seen0 = seen0,
      posts0 = readTable(spark, dir, v, "posts"),
      schedule0 = Some(readTable(spark, dir, v, "schedule")),
      lineage0 = Some(readTable(spark, dir, v, "lineage")),
      failures0 = failures0,
      frontierRows = Some(frontierRows), seenRows = Some(seenRows))
  }

  /** Row count of `table` as read back, which must equal the count the
    * manifest recorded when version `v` was written. */
  private def checkedCount(manifest: JsonNode, v: Int, dir: String,
      table: String, df: DataFrame): Long = {
    val want = Option(manifest.path("row_counts").get(table)).map(_.asLong).getOrElse(
      throw new IllegalStateException(s"snapshot v$v under $dir records no $table row count"))
    val got = df.count()
    if (got != want) throw new IllegalStateException(
      s"snapshot v$v under $dir is incomplete: $table has $got rows, " +
        s"its manifest row_counts records $want")
    got
  }
}
