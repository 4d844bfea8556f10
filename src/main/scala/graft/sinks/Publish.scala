package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Publish (K6): the reference's post-crawl CI step re-expressed as an
 * engine sink — analyze the content report into the markdown summary
 * (actions/analyze-report/action.yml:38-77), then copy `out/` + `.cache/`
 * into the data repository and commit ("update: YYYY-MM-DD HH:MM",
 * no-op when nothing changed — .github/workflows/daemon.yml:127-143).
 *
 * The git side is modeled as a content-addressed commit chain over the
 * published tree (what `git add . && git commit || echo "no changes"`
 * observes): per-file digests are computed DISTRIBUTED via the binaryFile
 * source (one task per file — at a 10^4-site fleet the hashing, the only
 * data-proportional cost, scales out; the commit record itself is O(files)
 * metadata), the tree hash is the digest of the sorted manifest, and a
 * publish whose tree hash equals HEAD's writes nothing ("no changes to
 * commit"). Slack notify (daemon.yml:114-125) is network-bound and out of
 * engine scope: the block-message payload is the same markdown content,
 * documented in COVERAGE.md.
 */
object Publish {

  final case class Commit(
      id: String,
      parent: Option[String],
      tree: String,
      message: String,
      files: Long,
      created: Boolean,
      // full path -> digest manifest of the committed tree (read back from
      // the commit record so the next publish can carry forward files it
      // did not re-emit)
      manifest: Map[String, String] = Map.empty)

  /**
   * Exact layout of the reference's markdown step
   * (analyze-report/action.yml:59-77): header, success/fail counts, a
   * per-plugin section per created/updated group, or the "nothing changed"
   * line. Every event's title and URL lands in the markdown, so the rows
   * are collected once and counted and grouped on the driver (the jq
   * `group_by(.span.plugin)` analog).
   */
  def markdownReport(events: DataFrame): String = {
    import events.sparkSession.implicits._
    val rows = events.select("event", "site_id", "post_id", "title", "url")
      .as[(String, String, String, String, String)].collect().toSeq
    def c(e: String): Long = rows.count(_._1 == e).toLong
    // One section per site: "### <site>\n> N new posts\n- [title](url)..."
    // (action.yml:67,72 jq template). The events table carries no emission
    // rank, so post order within a site is made DETERMINISTIC by a
    // numeric-aware post_id sort (length-then-value: "9" before "10";
    // plain lexicographic would invert numeric ids); a post without a
    // title or URL counts but renders no line
    def sections(eventType: String, noun: String): Seq[String] = rows
      .filter(_._1 == eventType).groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (site, posts) =>
        val lines = posts.sorted(PostOrder).collect {
          case (_, _, _, title, url) if title != null && url != null => s"- [$title]($url)"
        }
        s"### $site\n> ${posts.size} $noun\n${lines.mkString("\n")}"
      }

    val sb = new StringBuilder
    sb ++= "# 컨텐츠 업데이트\n\n"
    sb ++= s"${c("crawl_success")} 성공, **${c("crawl_failed")} 실패**\n"
    if (c("post_created") > 0) {
      sb ++= "## 게시된 공지\n"
      sections("post_created", "new posts").foreach(s => sb ++= s + "\n")
    }
    sb ++= "\n"
    if (c("post_updated") > 0) {
      sb ++= "## 수정된 공지\n"
      sections("post_updated", "updated posts").foreach(s => sb ++= s + "\n")
    }
    if (c("post_created") == 0 && c("post_updated") == 0)
      sb ++= "_게시 혹은 변경된 공지가 없습니다._\n"
    sb.result()
  }

  // Spark's order for (character length of post_id, post_id, title, url):
  // strings by UTF-8 bytes (UTF8String.compareTo), nulls first in each field
  private val PostOrder: Ordering[(String, String, String, String, String)] = {
    val str = Ordering.Option(Ordering.fromLessThan[String](
      (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0))
    Ordering.by[(String, String, String, String, String),
        (Option[Int], Option[String], Option[String], Option[String])] {
      case (_, _, id, title, url) =>
        (Option(id).map(i => i.codePointCount(0, i.length)),
          Option(id), Option(title), Option(url))
    }(Ordering.Tuple4(Ordering.Option(Ordering.Int), str, str, str))
  }

  private def sha(parts: String*): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => d.update(p.getBytes("UTF-8")))
    d.digest().map("%02x".format(_)).mkString
  }

  /** Spark part files embed a fresh job UUID in their names on every
    * write; publishing them verbatim would make the tree hash differ on
    * every daemon cycle even when the CONTENT is identical, so the no-op
    * path ("no changes to commit") would be unreachable. Normalize
    * `part-00000-<uuid>[.c000][.ext]` to the stable `part-00000[.ext]` —
    * the part index is the partition index (stable for the same data and
    * partitioning), so identical runs publish identical trees. */
  private val PartName = "^(part-\\d+)-[-a-zA-Z0-9]+?((?:\\.[a-z][a-z0-9]*)*)$".r
  private def stableName(name: String): String = name match {
    case PartName(part, ext) => part + ext.split("\\.").filterNot(_ == "c000")
      .filter(_.nonEmpty).map("." + _).mkString
    case other => other
  }

  /** Distributed per-file digest of every regular file under `dir`,
    * keyed by the repo-relative path `prefix/<relpath>`. */
  private def manifest(spark: SparkSession, prefix: String, dir: String): Seq[(String, String)] = {
    import spark.implicits._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return Seq.empty
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(dir)
      .select(col("path"), sha2(col("content"), 256).as("digest"))
      .as[(String, String)].collect().toSeq
      .map { case (p, h) =>
        val abs = java.nio.file.Paths.get(new java.net.URI(p).getPath)
        val relPath = root.toAbsolutePath.relativize(abs)
        val rel = Option(relPath.getParent).map(_.toString + "/").getOrElse("") +
          stableName(relPath.getFileName.toString)
        (if (prefix.isEmpty) rel else s"$prefix/$rel", h)
      }.sortBy(_._1)
  }

  private def readHead(repoDir: java.nio.file.Path): Option[Commit] = {
    val head = repoDir.resolve(".graft/HEAD")
    if (!java.nio.file.Files.exists(head)) None
    else {
      val id = java.nio.file.Files.readString(head).trim
      val node = SiteJson.mapper.readTree(
        java.nio.file.Files.readString(repoDir.resolve(s".graft/commits/$id.json")))
      val manifest = Option(node.get("manifest")).map { mn =>
        val it = mn.fields()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty[String, String])
      Some(Commit(id,
        Option(node.get("parent")).filterNot(_.isNull).map(_.asText()),
        node.get("tree").asText(), node.get("message").asText(),
        node.get("files").asLong(), created = false, manifest = manifest))
    }
  }

  /**
   * Publish `srcs` (prefix -> local directory, e.g. "out" -> the run's
   * sink dir, ".cache" -> the cache dir) into `repoDir`:
   * tree-hash the sources (distributed), compare against HEAD, and either
   * no-op or copy the tree + append a commit record. `now` stamps the
   * commit message in the reference's Asia/Seoul format
   * (daemon.yml:139-143 `update: $(date +'%Y-%m-%d %H:%M')`).
   */
  def publish(spark: SparkSession, repoDir: String,
      srcs: Seq[(String, String)], now: java.sql.Timestamp,
      exclude: Seq[String] = Seq.empty): Commit = {
    val repo = java.nio.file.Paths.get(repoDir)
    java.nio.file.Files.createDirectories(repo.resolve(".graft/commits"))

    def excluded(rel: String): Boolean =
      exclude.exists(e => rel == e || rel.startsWith(e + "/"))
    def parentOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    // This run's emitted files. The publish is ADDITIVE like the
    // reference's `cp -rv out/* . && git add .` (daemon.yml:127-143): a
    // site absent from this run (preflight failure, --include subset,
    // retry exhaustion) KEEPS its last-published files — they are carried
    // forward from HEAD's manifest into this commit's tree. Staleness is
    // scoped to directories fully re-emitted this run: a prior part file
    // that vanished from a re-emitted site partition is dropped; nothing
    // outside the emitted directories is ever touched.
    val incoming = srcs.flatMap { case (prefix, dir) => manifest(spark, prefix, dir) }
      .filterNot { case (p, _) => excluded(p) }
      .sortBy(_._1)
    val incomingPaths = incoming.map(_._1).toSet
    val emittedDirs = incoming.map { case (p, _) => parentOf(p) }.toSet
    // a file is stale when it lives ANYWHERE under a directory this run
    // re-emitted, so a layout that got SHALLOWER sweeps its old deeper
    // copies. The converse (layout got DEEPER: run 2 emits sites/a/sub/*
    // while sites/a/data.json was published before) deliberately RETAINS
    // the old file: sweeping an ancestor directory because one subtree
    // under it was re-emitted would delete sibling sites' last-good
    // outputs — the additive cp-rv bias (reference daemon.yml) wins over
    // tidiness, matching the failed-plugin-keeps-last-good contract. The
    // repo root ("") only matches as a DIRECT parent — a root-level
    // emitted file must not turn the whole repo into a sweep scope.
    def underEmitted(rel: String): Boolean = {
      var d = parentOf(rel)
      if (emittedDirs.contains(d)) return true
      while (d.nonEmpty) {
        d = parentOf(d)
        if (d.nonEmpty && emittedDirs.contains(d)) return true
      }
      false
    }
    val head = readHead(repo)
    // a HEAD written before manifests were recorded (empty manifest on a
    // real commit) would otherwise carry forward NOTHING and silently
    // drop every previously published file from the tree at the upgrade
    // boundary — fall back to digesting the committed working tree itself
    val headManifest = head match {
      case Some(h) if h.manifest.isEmpty && h.files > 0 =>
        // same digest the manifest() path records: sha-256 of raw bytes
        val out = Map.newBuilder[String, String]
        val walk = java.nio.file.Files.walk(repo)
        try {
          val it = walk.filter(java.nio.file.Files.isRegularFile(_)).iterator()
          while (it.hasNext) {
            val p = it.next()
            val rel = repo.relativize(p).toString.replace('\\', '/')
            val hidden = rel.split('/').exists(seg =>
              seg.startsWith(".") || seg.startsWith("_"))
            if (!hidden) {
              val d = java.security.MessageDigest.getInstance("SHA-256")
              out += rel -> d.digest(java.nio.file.Files.readAllBytes(p))
                .map("%02x".format(_)).mkString
            }
          }
        } finally walk.close()
        out.result()
      case Some(h) => h.manifest
      case None => Map.empty[String, String]
    }
    val carried = headManifest
      .filterNot { case (p, _) =>
        incomingPaths(p) || underEmitted(p) || excluded(p) }
      .toSeq
    val files = (carried ++ incoming).sortBy(_._1)
    val tree = sha(files.map { case (p, h) => s"$p $h\n" }: _*)
    if (head.exists(_.tree == tree))
      return head.get // "no changes to commit" (daemon.yml:143)

    // working-tree update (cp -rv analog): copy changed/new files, drop
    // files that vanished from the published tree
    srcs.foreach { case (prefix, dir) =>
      val root = java.nio.file.Paths.get(dir)
      val pubRoot = if (prefix.isEmpty) repo else repo.resolve(prefix)
      if (java.nio.file.Files.isDirectory(root)) {
        val walk = java.nio.file.Files.walk(root)
        // skip hidden marker files (_SUCCESS, .crc) — Spark's file index
        // excludes them from the manifest, so copying them would leave the
        // working tree out of sync with the committed tree
        try walk.filter(java.nio.file.Files.isRegularFile(_))
          .filter { p =>
            val n = p.getFileName.toString
            !n.startsWith("_") && !n.startsWith(".")
          }
          .filter { p =>
            val rel = root.relativize(p).toString
            !excluded(if (prefix.isEmpty) rel else s"$prefix/$rel")
          }
          .forEach { src =>
            val rel = root.relativize(src)
            val dst = pubRoot.resolve(
              Option(rel.getParent).map(_.toString + "/").getOrElse("") +
                stableName(rel.getFileName.toString))
            java.nio.file.Files.createDirectories(dst.getParent)
            java.nio.file.Files.copy(src, dst,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          } finally walk.close()
      }
    }
    // Scoped sweep: ONLY inside directories this run fully re-emitted, drop
    // files that vanished from the emitted set (e.g. a stale part file from
    // a previous partitioning). Hidden entries (.git internals, dotfiles —
    // `git add .` never stages into .git) are protected unless the hidden
    // name is itself a published prefix (the reference publishes `.cache/`).
    val keep = files.map { case (p, _) => repo.resolve(p).normalize }.toSet
    val srcPrefixes = srcs.map(_._1).filter(_.nonEmpty)
      .flatMap(_.split('/').headOption).toSet
    def protectedHidden(rel: java.nio.file.Path): Boolean = {
      val names = (0 until rel.getNameCount).map(rel.getName(_).toString)
      names.exists(n => n.startsWith(".") && !srcPrefixes.contains(n))
    }
    val sweep = java.nio.file.Files.walk(repo)
    try {
      sweep.filter(java.nio.file.Files.isRegularFile(_))
        .filter { p =>
          val rel = repo.relativize(p)
          !protectedHidden(rel) &&
            underEmitted(rel.toString.replace('\\', '/')) &&
            !keep.contains(p.normalize)
        }
        .forEach(p => { java.nio.file.Files.delete(p); () })
    } finally sweep.close()

    // the naive `now` wall clock is interpreted as UTC EXPLICITLY
    // (Timestamp.toInstant would read it in the host's default zone,
    // making the commit id depend on the machine's timezone), then
    // rendered on the reference's Asia/Seoul clock
    val seoul = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
      .withZone(java.time.ZoneId.of("Asia/Seoul"))
    val message = "update: " + seoul.format(
      now.toLocalDateTime.atOffset(java.time.ZoneOffset.UTC).toInstant)
    val parent = head.map(_.id)
    val id = sha(parent.getOrElse(""), tree, message)
    val node = SiteJson.mapper.createObjectNode()
    parent.fold { node.putNull("parent"); () } { p => node.put("parent", p); () }
    node.put("tree", tree)
    node.put("message", message)
    node.put("files", files.size.toLong)
    val filesNode = node.putObject("manifest")
    files.foreach { case (p, h) => filesNode.put(p, h) }
    java.nio.file.Files.writeString(
      repo.resolve(s".graft/commits/$id.json"), SiteJson.pretty(node))
    java.nio.file.Files.writeString(repo.resolve(".graft/HEAD"), id)
    Commit(id, parent, tree, message, files.size.toLong, created = true,
      manifest = files.toMap)
  }
}
