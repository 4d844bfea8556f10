package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * DataSource V2 connector for the synthetic web — the "remote paginated
 * source" as a first-class Spark table with REAL pushdown (SURVEY.md §4:
 * "Catalyst cannot early-stop a remote source — implement ... a
 * SupportsPushDownLimit DSv2 source"):
 *
 *   spark.read.format("graft.sources.WebSource")
 *     .option("scale", "1000").option("limit_per_site", "100")
 *     .load()
 *     .filter($"site_id" === "biz.ssu.ac.kr")   // -> site pruning (planning!)
 *     .select($"title")                          // -> column pruning (ReadSchema)
 *     .limit(500)                                // -> page-fetch budget
 *
 * Pushdown semantics:
 *  - `site_id = X` / `site_id IN (...)` prunes whole sites at PLANNING
 *    time — unselected sites get no input partitions at all (the
 *    include/exclude semi-join J4 done inside the source); conjunctive
 *    site_id constraints INTERSECT;
 *  - LIMIT N caps the per-partition page walk: a partition stops
 *    generating once it has produced its share — the reference's
 *    take(remain)/stop-on-limit loop (gnuboard mod.rs:92-108) expressed
 *    as connector-level limit pushdown;
 *  - column pruning (SupportsPushDownRequiredColumns): the reader
 *    materializes ONLY the requested fields — a 2-column projection never
 *    builds content/attachment values (`.explain` shows the pruned
 *    ReadSchema);
 *  - one input partition per (site, page-range) — the natural fetch
 *    parallelism unit.
 *
 * The full post shape is exposed, including the media columns the span
 * exploder / multimodal path needs (reference post.rs:24-41): `thumbnail`
 * and typed `attachments`.
 */
class WebSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WebSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WebTable(
      properties.getOrDefault("scale", "1000").toLong,
      properties.getOrDefault("limit_per_site", "100").toLong,
      properties.getOrDefault("rev", "0").toInt)
}

object WebSource {
  val attachmentType: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("mime_type", StringType, nullable = true)))

  val schema: StructType = StructType(Seq(
    StructField("site_id", StringType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("thumbnail", StringType, nullable = true),
    StructField("attachments", ArrayType(attachmentType, containsNull = false),
      nullable = false)))

  /** Materialize one post field as its InternalRow representation. */
  private[sources] def fieldValue(post: graft.model.Post, field: String): Any = field match {
    case "site_id"    => UTF8String.fromString(post.site_id)
    case "id"         => UTF8String.fromString(post.id)
    case "url"        => UTF8String.fromString(post.url)
    case "title"      => UTF8String.fromString(post.title)
    case "created_at" => post.created_at.getTime * 1000L // micros
    case "content"    => UTF8String.fromString(post.content)
    case "thumbnail"  => post.thumbnail.map(UTF8String.fromString).orNull
    case "attachments" => new GenericArrayData(post.attachments.map(a =>
      InternalRow(
        UTF8String.fromString(a.url),
        a.name.map(UTF8String.fromString).orNull,
        a.mime_type.map(UTF8String.fromString).orNull)).toArray[Any])
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }
}

private class WebTable(scale: Long, limitPerSite: Long, rev: Int)
  extends Table with SupportsRead {
  override def name(): String = s"graft_web(scale=$scale)"
  override def schema(): StructType = WebSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WebScanBuilder(scale, limitPerSite, rev)
}

private class WebScanBuilder(scale: Long, limitPerSite: Long, rev: Int)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownLimit
  with SupportsPushDownRequiredColumns {

  private var siteFilter: Option[Set[String]] = None
  private var pushedLimit: Option[Int] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = WebSource.schema

  private def narrowTo(vs: Set[String]): Unit =
    siteFilter = Some(siteFilter.fold(vs)(_ intersect vs))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("site_id", _: String) => true
      case In("site_id", _)              => true
      case _                             => false
    }
    // successive site_id constraints INTERSECT (filters are conjunctive):
    // `site_id = 'a' AND site_id IN ('a','b')` must prune to {'a'}, not
    // let the last-seen filter win
    accepted.foreach {
      case EqualTo("site_id", v: String) => narrowTo(Set(v))
      case In("site_id", vs)             => narrowTo(vs.map(_.toString).toSet)
      case _                             =>
    }
    pushed = accepted
    rejected // Spark re-applies these above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    true // fully handled: the page walk stops at the budget
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new WebScan(scale, limitPerSite, rev, siteFilter, pushedLimit, required)
}

private class WebScan(scale: Long, limitPerSite: Long, rev: Int,
    siteFilter: Option[Set[String]], pushedLimit: Option[Int], required: StructType)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_web sites=${siteFilter.map(_.mkString(",")).getOrElse("*")} " +
      s"pushedLimit=${pushedLimit.getOrElse(-1)} " +
      s"readColumns=${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    // site pruning happens HERE — at planning time
    val sites = graft.crawl.Sites.all
      .filter(_.family != "calendar")
      .filter(s => siteFilter.forall(_.contains(s.site_id)))
    // a LIMIT budget is split across sites up front (breadth fairness);
    // each partition knows exactly how many posts it may fetch
    val perSiteCap = pushedLimit match {
      case Some(l) if sites.nonEmpty =>
        math.max(1L, (l + sites.size - 1L) / sites.size).min(limitPerSite)
      case _ => limitPerSite
    }
    sites.map(s => WebPartition(s.site_id, perSiteCap, scale, rev): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WebReaderFactory(required.fieldNames)
}

private case class WebPartition(siteId: String, cap: Long, scale: Long, rev: Int)
  extends InputPartition

private class WebReaderFactory(fields: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WebPartition]
    new PartitionReader[InternalRow] {
      private val site = graft.crawl.SyntheticWeb.siteById(p.siteId)
      private val total0 = graft.crawl.Sites.postCount(site, p.scale)
      private val wanted =
        math.min(graft.crawl.SyntheticWeb.visibleCount(total0, p.rev), p.cap)
      private var produced = 0L
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (produced >= wanted) return false // limit pushdown: STOP fetching
        // same visible-id enumeration as the crawl's list walk (skips the
        // ids that don't exist yet at this rev)
        val post = graft.crawl.SyntheticWeb.fetchPost(
          site, graft.crawl.SyntheticWeb.idAt(total0, produced, p.rev), p.rev,
          graft.crawl.Crawl.DefaultSeed)
        // column pruning: only the REQUIRED fields are materialized
        row = InternalRow.fromSeq(fields.toIndexedSeq.map(WebSource.fieldValue(post, _)))
        produced += 1
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
