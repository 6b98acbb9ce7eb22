package graft.operators

import java.io.{DataInputStream, DataOutputStream, InputStream, OutputStream}

/** Cuckoo filter (Fan et al., "Cuckoo Filter: Practically Better Than Bloom",
  * CoNEXT 2014 — public algorithm). Partial-key cuckoo hashing with 4-slot
  * buckets and 16-bit fingerprints: ~0.01% FPR at 95% load.
  *
  * Role in the engine (SURVEY.md §2.8): the *deletable*, partition-local
  * acceleration structure of the URL-seen set — one filter per seen-table
  * partition, serialized into snapshots, always rebuildable from the exact
  * parquet table (the filter is never the source of truth; mirrors the
  * reference rebuilding its indexes from JSON on every run,
  * `/root/reference/src/pipeline/preprocess.py:290-356`).
  *
  * Not thread-safe; one instance per task.
  */
final class CuckooFilter private (
    val numBuckets: Int, // power of two
    private val table: Array[Short],
    private var count: Long
) extends Serializable {

  import CuckooFilter._

  private val mask = numBuckets - 1

  def size: Long = count

  @inline private def fingerprint(h: Long): Short = {
    // never 0 (0 marks an empty slot)
    val f = ((h >>> 48) & 0xFFFF).toInt
    (if (f == 0) 1 else f).toShort
  }
  @inline private def bucket1(h: Long): Int = (h & mask).toInt
  @inline private def bucket2(i1: Int, fp: Short): Int =
    (i1 ^ (mix16(fp) & mask).toInt) & mask

  @inline private def slot(b: Int, s: Int): Int = b * SlotsPerBucket + s

  private def insertAt(b: Int, fp: Short): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(b, s)) == 0) { table(slot(b, s)) = fp; return true }
      s += 1
    }
    false
  }

  /** Insert a 64-bit key (pre-hashed, e.g. xxhash64 of the canonical URL).
    * Returns false when the filter is saturated (caller should resize/rebuild). */
  def add(h: Long): Boolean = {
    val fp = fingerprint(h)
    val i1 = bucket1(h)
    val i2 = bucket2(i1, fp)
    if (insertAt(i1, fp) || insertAt(i2, fp)) { count += 1; return true }
    // evict loop
    var b = if ((mix16(fp) & 1) == 0) i1 else i2
    var f = fp
    var kick = 0
    while (kick < MaxKicks) {
      val s = (mix16((f ^ kick).toShort) & (SlotsPerBucket - 1)).toInt
      val tmp = table(slot(b, s))
      table(slot(b, s)) = f
      f = tmp
      b = bucket2(b, f)
      if (insertAt(b, f)) { count += 1; return true }
      kick += 1
    }
    false
  }

  def mightContain(h: Long): Boolean = {
    val fp = fingerprint(h)
    val i1 = bucket1(h)
    val i2 = bucket2(i1, fp)
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i1, s)) == fp || table(slot(i2, s)) == fp) return true
      s += 1
    }
    false
  }

  /** Delete one copy of the key's fingerprint. Returns true if found. */
  def remove(h: Long): Boolean = {
    val fp = fingerprint(h)
    val i1 = bucket1(h)
    val i2 = bucket2(i1, fp)
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i1, s)) == fp) { table(slot(i1, s)) = 0; count -= 1; return true }
      if (table(slot(i2, s)) == fp) { table(slot(i2, s)) = 0; count -= 1; return true }
      s += 1
    }
    false
  }

  /** Write the filter to `os`, which stays open (like `BloomFilter.writeTo`). */
  def serialize(os: OutputStream): Unit = {
    val out = new DataOutputStream(os)
    out.writeInt(Magic)
    out.writeInt(numBuckets)
    out.writeLong(count)
    var i = 0
    while (i < table.length) { out.writeShort(table(i).toInt); i += 1 }
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500
  private val Magic = 0x43554B46 // "CUKF"

  @inline private[operators] def mix16(fp: Short): Long = {
    // scramble the fingerprint for the partner-bucket xor (splitmix-style)
    var z = (fp & 0xFFFFL) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z ^ (z >>> 27)
  }

  /** Sized for `expected` keys at ≤95% load; numBuckets is a power of two. */
  def create(expected: Long): CuckooFilter = {
    val needSlots = math.max(64L, (expected / 0.90).toLong)
    var buckets = 16
    while (buckets.toLong * SlotsPerBucket < needSlots && buckets < (1 << 29)) buckets <<= 1
    new CuckooFilter(buckets, new Array[Short](buckets * SlotsPerBucket), 0L)
  }

  def deserialize(is: InputStream): CuckooFilter = {
    val in = new DataInputStream(is)
    require(in.readInt() == Magic, "bad cuckoo filter header")
    val buckets = in.readInt()
    val count = in.readLong()
    val table = new Array[Short](buckets * SlotsPerBucket)
    var i = 0
    while (i < table.length) { table(i) = in.readShort(); i += 1 }
    new CuckooFilter(buckets, table, count)
  }
}
