package graft.model

import java.sql.Timestamp

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
   * (packages/ssufid/src/core/post.rs:50-56): compares *trimmed* id,
   * exact title/category, *trimmed* content; deliberately excludes
   * url/author/dates/attachments/metadata.
   */
  def contentsEq(a: Post, b: Post): Boolean =
    a.id.trim == b.id.trim &&
      a.title == b.title &&
      a.category == b.category &&
      a.content.trim == b.content.trim
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

object CalendarEvent {
  /**
   * Reference contents_eq (calendar.rs:56-65): trims every string field,
   * compares timestamps exactly.
   */
  def contentsEq(a: CalendarEvent, b: CalendarEvent): Boolean =
    a.id.trim == b.id.trim &&
      a.title.trim == b.title.trim &&
      a.description.map(_.trim) == b.description.map(_.trim) &&
      a.starts_at == b.starts_at &&
      a.ends_at == b.ends_at &&
      a.location.map(_.trim) == b.location.map(_.trim) &&
      a.url.map(_.trim) == b.url.map(_.trim)
}
