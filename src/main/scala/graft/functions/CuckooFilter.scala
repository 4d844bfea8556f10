package graft.functions

import java.nio.ByteBuffer

/**
 * Cuckoo filter (Fan et al., "Cuckoo Filter: Practically Better Than
 * Bloom", CoNEXT 2014 — public algorithm): approximate membership with
 * DELETION support, the property a crawl seen-set wants when URLs are
 * retired/re-queued (BASELINE.json: "partitioned Bloom/cuckoo URL-seen
 * set"). 16-bit fingerprints, 4-slot buckets, 2 candidate buckets; all
 * "randomness" is deterministic (derived from the fingerprint and kick
 * counter) so distributed aggregation is reproducible.
 */
final class CuckooFilter private (val numBuckets: Int, val table: Array[Short])
    extends Serializable {

  import CuckooFilter._

  /** True once ANY insert dropped a fingerprint (kicks exhausted). A
    * saturated filter can return false for an inserted item — a FALSE
    * NEGATIVE for the seen set — so the flag rides through serialization
    * and merges; builders must rebuild at a larger capacity when set. */
  var saturated: Boolean = false

  def this(expectedItems: Long) = this(
    CuckooFilter.bucketsFor(expectedItems),
    new Array[Short](CuckooFilter.bucketsFor(expectedItems) * CuckooFilter.SlotsPerBucket))

  private def fingerprint(hash: Long): Short = {
    val fp = ((hash >>> 48) & 0xFFFF).toShort
    if (fp == 0) 1.toShort else fp // 0 marks an empty slot
  }

  private def bucketOf(hash: Long): Int =
    ((hash & 0x7FFFFFFFFFFFFFFFL) % numBuckets).toInt

  private def altBucket(i: Int, fp: Short): Int = {
    val h = mix(fp.toLong & 0xFFFFL)
    (((i.toLong ^ (h & 0x7FFFFFFFFFFFFFFFL)) % numBuckets + numBuckets) % numBuckets).toInt
  }

  private def slotInsert(bucket: Int, fp: Short): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      val idx = bucket * SlotsPerBucket + s
      if (table(idx) == 0) { table(idx) = fp; return true }
      s += 1
    }
    false
  }

  private def slotContains(bucket: Int, fp: Short): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(bucket * SlotsPerBucket + s) == fp) return true
      s += 1
    }
    false
  }

  private def slotRemove(bucket: Int, fp: Short): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      val idx = bucket * SlotsPerBucket + s
      if (table(idx) == fp) { table(idx) = 0; return true }
      s += 1
    }
    false
  }

  /** Insert by 64-bit item hash; false when the filter is saturated. */
  def insert(hash: Long): Boolean = {
    val fp = fingerprint(hash)
    val i1 = bucketOf(hash)
    insertFp(i1, fp)
  }

  /** Insert a known (bucket, fingerprint) pair — used by merge. */
  def insertFp(bucket: Int, fp0: Short): Boolean = {
    if (slotContains(bucket, fp0) || slotContains(altBucket(bucket, fp0), fp0)) return true
    if (slotInsert(bucket, fp0)) return true
    if (slotInsert(altBucket(bucket, fp0), fp0)) return true
    // deterministic cuckoo kicks
    var i = bucket
    var fp = fp0
    var kick = 0
    while (kick < MaxKicks) {
      val victim = (mix(fp.toLong * 31 + kick) & 0x7FFFFFFF).toInt % SlotsPerBucket
      val idx = i * SlotsPerBucket + victim
      val old = table(idx)
      table(idx) = fp
      fp = old
      i = altBucket(i, fp)
      if (slotInsert(i, fp)) return true
      kick += 1
    }
    saturated = true
    false
  }

  def mightContain(hash: Long): Boolean = {
    val fp = fingerprint(hash)
    val i1 = bucketOf(hash)
    slotContains(i1, fp) || slotContains(altBucket(i1, fp), fp)
  }

  /** Delete one occurrence; true when a matching fingerprint was removed. */
  def remove(hash: Long): Boolean = {
    val fp = fingerprint(hash)
    val i1 = bucketOf(hash)
    slotRemove(i1, fp) || slotRemove(altBucket(i1, fp), fp)
  }

  /** Union-merge: re-insert every occupied slot of `other`. Returns false
    * when any fingerprint could not be re-inserted (kicks exhausted near
    * full load) — a silent drop would be a FALSE NEGATIVE for the seen set,
    * so callers must rebuild from the exact table when this reports loss. */
  def mergeLossless(other: CuckooFilter): Boolean = {
    require(other.numBuckets == numBuckets, "cuckoo filters must be same-sized to merge")
    saturated |= other.saturated
    var ok = true
    var b = 0
    while (b < other.numBuckets) {
      var s = 0
      while (s < SlotsPerBucket) {
        val fp = other.table(b * SlotsPerBucket + s)
        if (fp != 0) ok &= insertFp(b, fp)
        s += 1
      }
      b += 1
    }
    ok && !saturated
  }

  def mergeInPlace(other: CuckooFilter): CuckooFilter = { mergeLossless(other); this }

  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + table.length * 2 + 1)
    buf.putInt(numBuckets)
    table.foreach(buf.putShort)
    buf.put(if (saturated) 1.toByte else 0.toByte)
    buf.array()
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500

  private[functions] def mix(x: Long): Long = {
    var z = x + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  /** ~95% load target, power-of-two bucket count. */
  def bucketsFor(expectedItems: Long): Int = {
    val needed = math.max(expectedItems, 16L).toDouble / (SlotsPerBucket * 0.95)
    java.lang.Long.highestOneBit(math.max(needed.toLong * 2 - 1, 1L)).toInt.max(16)
  }

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val table = new Array[Short](n * SlotsPerBucket)
    var i = 0
    while (i < table.length) { table(i) = buf.getShort; i += 1 }
    val f = new CuckooFilter(n, table)
    // trailing saturation byte (absent in pre-flag serializations)
    if (buf.remaining() >= 1) f.saturated = buf.get() != 0
    f
  }

  /** Saturation check without materializing the table. */
  def isSaturated(bytes: Array[Byte]): Boolean =
    bytes.length == 4 + ByteBuffer.wrap(bytes).getInt * SlotsPerBucket * 2 + 1 &&
      bytes(bytes.length - 1) != 0
}
