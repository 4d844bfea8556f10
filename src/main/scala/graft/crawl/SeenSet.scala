package graft.crawl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/**
 * The URL-seen set: the generalization of the reference's per-site post
 * cache keyed by id (SsufidCore cache, packages/ssufid/src/core/
 * mod.rs:19-23,269-333 — a post is "seen" iff its id is in the cache) to
 * `xxhash64(url_canonicalize(url))` keys with a Bloom pre-filter.
 *
 * Two layers:
 *  - exact: a table of url_hash (stored partitioned by hash range — the
 *    MERGE side stays co-partitioned, no extra shuffle at update);
 *  - approximate: a Bloom sketch over the exact table, broadcast to the
 *    frontier. Membership test is a codegen'd expression
 *    (BloomFilterMightContain), NOT a join.
 *
 * Dedup protocol per wave (false-positive-safe):
 *  - bloom says NO  -> definitely new, no join needed (the common case:
 *    at 10^10 URLs the bloom absorbs the probe side);
 *  - bloom says MAYBE -> exact left-anti join on the (small) maybe slice.
 */
object SeenSet {

  /** Build (and serialize) a Bloom sketch of the seen hashes. */
  def buildBloom(seen: DataFrame, hashCol: String, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    val bf: BloomFilter = seen.stat.bloomFilter(hashCol, math.max(expectedItems, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Codegen'd membership probe against a serialized Bloom sketch. */
  def mightContain(bloom: Array[Byte], hash: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnBridge.expression(lit(bloom)),
        ColumnBridge.expression(hash)))
  }

  /** Build a serialized cuckoo filter of the seen hashes (the deletable
    * alternative sketch — custom TypedImperativeAggregate). A saturated
    * result (some fingerprint dropped during insert or partial-aggregation
    * merge — a would-be false NEGATIVE) is rebuilt at 4x capacity until
    * lossless; pass `growOnSaturation = false` to get the flagged bytes
    * back instead (callers that must keep a fixed geometry, like the
    * incremental sketch, manage growth themselves). */
  def buildCuckoo(seen: DataFrame, hashCol: String, expectedItems: Long,
      growOnSaturation: Boolean = true): Array[Byte] = {
    var cap = math.max(expectedItems, 16L)
    var bytes = seen.agg(graft.functions.CuckooFunctions
      .cuckoo_filter_agg(col(hashCol), cap).as("f"))
      .collect()(0).getAs[Array[Byte]]("f")
    while (growOnSaturation && graft.functions.CuckooFilter.isSaturated(bytes)) {
      cap *= 4
      bytes = seen.agg(graft.functions.CuckooFunctions
        .cuckoo_filter_agg(col(hashCol), cap).as("f"))
        .collect()(0).getAs[Array[Byte]]("f")
    }
    bytes
  }

  /**
   * New-URL filter: rows of `wave` whose `hashCol` is NOT in `seen`.
   * Sketch-negative rows skip the join entirely; sketch-positive rows are
   * verified with an exact left-anti join. `probe` is the membership column
   * of an externally-maintained [[IncrementalSketch]] (Bloom or cuckoo);
   * `None` means "seen set empty — all new".
   */
  def filterNewProbe(wave: DataFrame, seen: DataFrame, hashCol: String,
      probe: Option[Column]): DataFrame = probe match {
    case None => wave
    case Some(p) =>
      val maybe = wave.filter(p)
        .join(seen.select(hashCol), Seq(hashCol), "left_anti")
      wave.filter(!p).unionByName(maybe)
  }

  /**
   * Incrementally-maintained seen sketch. The naive protocol re-aggregates
   * the WHOLE seen set into a fresh sketch every wave — O(D·|seen|) sketch
   * work over a D-wave crawl, a full-state scan per wave at 10^10 URLs.
   * Here each wave contributes a sketch of its (small) fresh delta only,
   * built with a FIXED capacity geometry so the running filter and the
   * delta are structurally compatible and union-merge driver-side
   * (Bloom: bit-or; cuckoo: slot re-insert). When the item count outgrows
   * the capacity (Bloom fpp degrades; cuckoo load makes kicks fail) the
   * sketch is REBUILT once from the full seen set at 4× capacity —
   * amortized O(|seen|) total across the crawl instead of per wave.
   *
   * The sketch is advisory only (false positives fall through to the exact
   * anti-join), so the crawl's output is bit-identical to the rebuild-
   * per-wave protocol; a cuckoo merge that reports fingerprint loss (a
   * would-be false NEGATIVE) triggers an immediate rebuild.
   */
  final class IncrementalSketch(kind: String, initialCapacity: Long,
      fpp: Double = 0.01) {
    private var capacity = math.max(initialCapacity, 1L << 16)
    private var bytes: Option[Array[Byte]] = None
    private var items = 0L

    /** Membership-probe column against the current sketch; None = empty. */
    def probe(hash: Column): Option[Column] = bytes.map { b =>
      if (kind == "cuckoo")
        graft.functions.CuckooFunctions.cuckoo_might_contain(lit(b), hash)
      else mightContain(b, hash)
    }

    private def build(df: DataFrame, hashCol: String): Array[Byte] =
      if (kind == "cuckoo") buildCuckoo(df, hashCol, capacity, growOnSaturation = false)
      else buildBloom(df, hashCol, capacity, fpp)

    /** Full rebuild from the exact table, growing capacity until the
      * cuckoo build is lossless (bloom never saturates). */
    private def rebuild(seenAll: DataFrame, hashCol: String): Array[Byte] = {
      var b = build(seenAll, hashCol)
      while (kind == "cuckoo" && graft.functions.CuckooFilter.isSaturated(b)) {
        capacity *= 4
        b = build(seenAll, hashCol)
      }
      b
    }

    private def mergeBytes(a: Array[Byte], b: Array[Byte]): Option[Array[Byte]] =
      if (kind == "cuckoo") {
        val fa = graft.functions.CuckooFilter.deserialize(a)
        val fb = graft.functions.CuckooFilter.deserialize(b)
        if (fa.mergeLossless(fb)) Some(fa.serialize()) else None // loss -> rebuild
      } else {
        val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
        val fb = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
        fa.mergeInPlace(fb)
        val bos = new java.io.ByteArrayOutputStream()
        fa.writeTo(bos)
        Some(bos.toByteArray)
      }

    /** Fold a wave's fresh rows into the sketch. `seenAll` (the exact
      * table) is only evaluated on capacity overflow / lossy merge. */
    def add(delta: DataFrame, deltaCount: Long, hashCol: String)(
        seenAll: => DataFrame): Unit = {
      if (deltaCount <= 0L) return
      // the FIRST fill right-sizes the geometry to the observed delta: a
      // fixed large floor would make every small crawl build and merge
      // capacity-sized (empty) sketches per wave — per-partition sketch
      // pre-aggregation costs O(bits * partitions) regardless of rows
      if (bytes.isEmpty) capacity = math.max(capacity, deltaCount * 4)
      items += deltaCount
      // cuckoo kicks start failing near full load — rebuild at half
      // capacity so merges stay in the reliably-lossless regime
      val limit = if (kind == "cuckoo") capacity / 2 else capacity
      if (items > limit) {
        capacity = math.max(items * 4, capacity * 4)
        bytes = Some(rebuild(seenAll, hashCol))
      } else {
        val d = build(delta, hashCol)
        val merged =
          if (kind == "cuckoo" && graft.functions.CuckooFilter.isSaturated(d)) None
          else bytes.fold(Option(d))(mergeBytes(_, d))
        bytes = merged match {
          case some @ Some(_) => some
          case None => // saturated delta build or lossy cuckoo merge
            capacity *= 4
            Some(rebuild(seenAll, hashCol))
        }
      }
    }
  }
}
