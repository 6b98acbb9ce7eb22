package graft

import java.nio.file.{Files, Paths}

import graft.operators.SeenSet
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SeenSetSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("cuckoo bucket saturation degrades to exact-join (no crash), rebuild recovers") {
    val dir = Files.createTempDirectory("seenset").toString
    val buckets = 2
    // 10× the fixed 1<<16 incremental-bucket capacity, concentrated on 2 buckets
    val n = 10 * (1 << 16)
    val seen = spark.range(n.toLong)
      .select((col("id") * 2654435761L).as("url_hash"),
        concat(lit("https://h.example.org/u/"), col("id")).as("canonical_url"))
    // two incremental waves (second wave loads the first wave's files)
    val half = n / 2
    SeenSet.addToFilters(seen.filter(col("url_hash") % 2 === 0), dir, buckets)
    SeenSet.addToFilters(seen.filter(col("url_hash") % 2 =!= 0), dir, buckets)
    SeenSet.addToBloom(seen, dir, buckets)
    // saturation must have produced markers instead of throwing
    val markers = Files.list(Paths.get(dir)).iterator()
    var sawMarker = false
    while (markers.hasNext) {
      if (markers.next().getFileName.toString.endsWith(".saturated")) sawMarker = true
    }
    assert(sawMarker, "expected at least one saturated bucket at 10x capacity")

    // classification stays EXACT despite saturated buckets: half seen, half novel
    val incoming = spark.range(n.toLong - 1000, n.toLong + 1000)
      .select(
        (col("id") * 2654435761L).as("url_hash"),
        concat(lit("https://h.example.org/u/"), col("id")).as("canonical_url"))
    val marked = SeenSet.markDupes(incoming, seen, dir, buckets,
      probeRepartition = false, seenKeysUnique = true)
    val dupCount = marked.filter(col("__dup")).count()
    val novelCount = marked.filter(!col("__dup")).count()
    assert(dupCount === 1000L)
    assert(novelCount === 1000L)

    // rebuild re-sizes every bucket from the exact table and clears markers
    SeenSet.rebuildFilters(seen, dir, buckets)
    (0 until buckets).foreach { b =>
      assert(Files.exists(Paths.get(dir, f"bucket-$b%05d.cuckoo")), s"bucket $b rebuilt")
      assert(!Files.exists(Paths.get(dir, f"bucket-$b%05d.saturated")), s"marker $b cleared")
    }
    val marked2 = SeenSet.markDupes(incoming, seen, dir, buckets,
      probeRepartition = false, seenKeysUnique = true)
    assert(marked2.filter(col("__dup")).count() === 1000L)
  }

  test("sharded bloom: per-shard fixed shape keeps fpp nominal, shard routing matches probe") {
    val dir = Files.createTempDirectory("seenbloom").toString
    val buckets = 4
    val n = 1 << 20 // 1M keys over 4 shards: ~262k/shard, well inside shard shape
    val seen = spark.range(n.toLong)
      .select((col("id") * 2654435761L).as("url_hash"),
        concat(lit("https://h.example.org/u/"), col("id")).as("canonical_url"))
    SeenSet.addToBloom(seen, dir, buckets)
    // every shard file exists (single writer per shard)
    val blooms = (0 until buckets).map(b => SeenSet.loadBloom(dir, b))
    assert(blooms.forall(_.isDefined), "one bloom shard per bucket")
    // inserted keys: the OWNING shard must report maybe-seen (no false negatives)
    val misses = (0 until 100000).count { i =>
      val h = i.toLong * 2654435761L
      val b = (((h % buckets) + buckets) % buckets).toInt
      !blooms(b).get.mightContainLong(h)
    }
    assert(misses === 0, "bloom false negative")
    // novel keys: per-shard fpp stays near the nominal 1% (the whole point of
    // sharding — a single fixed-shape bloom would degrade as the seen set
    // outgrows it; per-shard shape holds at any total size via shard count)
    val fps = (0 until 100000).count { i =>
      val h = (n.toLong + i) * 2654435761L + 17L
      val b = (((h % buckets) + buckets) % buckets).toInt
      blooms(b).get.mightContainLong(h)
    }
    assert(fps < 3000, s"shard fpp out of range: $fps / 100000")
    // incremental update (addToBloom) and full rebuild (rebuildFilters)
    // agree on membership for inserted keys
    SeenSet.rebuildFilters(seen, dir, buckets)
    val rebuilt = (0 until buckets).map(b => SeenSet.loadBloom(dir, b).get)
    val missesRebuilt = (0 until 100000).count { i =>
      val h = i.toLong * 2654435761L
      val b = (((h % buckets) + buckets) % buckets).toInt
      !rebuilt(b).mightContainLong(h)
    }
    assert(missesRebuilt === 0)
  }

  test("probe filters: a later call sees filters written since, calls never share filters") {
    val buckets = 4
    def keys(ids: Seq[Long]) =
      ids.map(i => (i * 2654435761L, s"https://h.example.org/u/$i")).toDF("url_hash", "canonical_url")
    def dupCount(m: org.apache.spark.sql.DataFrame) = m.filter(col("__dup")).count()
    val incoming = keys(0L until 400L)

    // a filter update between two calls in one JVM is never served stale
    val dirA = Files.createTempDirectory("seenprobeA").toString
    val first = keys(0L until 100L)
    val second = keys(100L until 200L)
    SeenSet.rebuildFilters(first, dirA, buckets)
    assert(dupCount(SeenSet.markDupes(incoming, first, dirA, buckets,
      probeRepartition = false, seenKeysUnique = true)) === 100L)
    SeenSet.addToFilters(second, dirA, buckets)
    SeenSet.addToBloom(second, dirA, buckets)
    val seenA = first.union(second)
    assert(dupCount(SeenSet.markDupes(incoming, seenA, dirA, buckets,
      probeRepartition = false, seenKeysUnique = true)) === 200L,
      "the second call must probe the filters written after the first")

    // two stores whose exact tables hold both key sets but whose filters
    // each hold only their own: a call that read the other store's filters
    // would let that store's keys through its bloom and flag them
    val dirB = Files.createTempDirectory("seenprobeB").toString
    val onlyB = keys(200L until 300L)
    SeenSet.rebuildFilters(onlyB, dirB, buckets)
    val both = seenA.union(onlyB)
    val markA = SeenSet.markDupes(incoming, both, dirA, buckets,
      probeRepartition = false, seenKeysUnique = true)
    val markB = SeenSet.markDupes(incoming, both, dirB, buckets,
      probeRepartition = false, seenKeysUnique = true)
    // interleaved: A loads, B replaces A's filters, A runs again
    assert(dupCount(markA) === 200L)
    assert(dupCount(markB) === 100L)
    assert(dupCount(markA) === 200L)
  }

  test("hash-collision safety: same url_hash, different canonical_url is NOT a dup") {
    val dir = Files.createTempDirectory("seencol").toString
    val seen = Seq((42L, "https://a.example.org/x")).toDF("url_hash", "canonical_url")
    SeenSet.rebuildFilters(seen, dir, 2)
    val incoming = Seq(
      (42L, "https://a.example.org/x"),  // true dup
      (42L, "https://b.example.org/y")   // 64-bit collision victim — must stay novel
    ).toDF("url_hash", "canonical_url")
    val m = SeenSet.markDupes(incoming, seen, dir, 2,
      probeRepartition = false, seenKeysUnique = true)
      .select("canonical_url", "__dup").as[(String, Boolean)].collect().toMap
    assert(m("https://a.example.org/x") === true)
    assert(m("https://b.example.org/y") === false,
      "a 64-bit url_hash collision must not mark a novel canonical URL as seen")
  }
}
