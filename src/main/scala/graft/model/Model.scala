package graft.model

import java.sql.Timestamp
import org.apache.spark.unsafe.types.UTF8String

/**
 * Core data model of the engine.
 *
 * Mirrors the reference record shapes (yourssu/ssufid) as idiomatic Spark
 * case classes with `Encoder`-friendly field types:
 *  - `Post`      <- packages/ssufid/src/core/post.rs:24-41 (`SsufidPost`)
 *  - `Attachment`<- packages/ssufid/src/core/post.rs:6-10
 *  - `CalendarEvent` <- packages/ssufid/src/core/calendar.rs:33-43
 *  - `Doc`/`Span` <- the interleaved text+media document shape
 *    (BASELINE.json input_hint): (doc_id, spans[kind,text,media_ref,offset]).
 *
 * All timestamps are UTC-normalized (`spark.sql.session.timeZone=UTC`);
 * KST (+09:00) is assumed at parse time like the reference.
 */
final case class Attachment(
    url: String,
    name: Option[String],
    mime_type: Option[String])

final case class Post(
    site_id: String,
    id: String,
    url: String,
    author: Option[String],
    title: String,
    description: Option[String],
    category: Seq[String],
    created_at: Timestamp,
    updated_at: Option[Timestamp],
    thumbnail: Option[String],
    content: String,
    attachments: Seq[Attachment],
    metadata: Option[Map[String, String]])

object Post {
  /**
   * Content-equality for change detection — reference semantics
   * (packages/ssufid/src/core/post.rs:50-56): compares *trimmed* id, title
   * and content and the exact category; deliberately excludes
   * url/author/dates/attachments/metadata. It answers as its Column twin
   * [[graft.operators.Merge.contentsEq]]: a trim drops spaces only, as
   * Spark's `trim`, and a null equals only a null.
   */
  def contentsEq(a: Post, b: Post): Boolean =
    contentsEq(a.id, a.title, a.category, a.content)(b.id, b.title, b.category, b.content)

  /** [[contentsEq]] over the four fields it reads. */
  def contentsEq(id: String, title: String, category: collection.Seq[String], content: String)(
      id2: String, title2: String, category2: collection.Seq[String], content2: String): Boolean =
    trimmedEq(id, id2) && trimmedEq(title, title2) && category == category2 &&
      trimmedEq(content, content2)

  private def trimmedEq(a: String, b: String): Boolean =
    if (a == null || b == null) a == b
    else UTF8String.fromString(a).trim() == UTF8String.fromString(b).trim()
}

/** One span of an interleaved text+media document. kind in {text, image, attachment}. */
final case class Span(
    kind: String,
    text: String,
    media_ref: String,
    offset: Int)

/** Interleaved document: the BASELINE input_hint table row. */
final case class Doc(doc_id: String, spans: Seq[Span])

final case class CalendarEvent(
    id: String,
    title: String,
    description: Option[String],
    starts_at: Timestamp,
    ends_at: Option[Timestamp],
    location: Option[String],
    url: Option[String])
