package graft

import graft.model.{CrawlConfig, FrontierEntry}
import graft.operators.{Politeness, Sched}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** L3/C4: bounded politeness selection on a frontier FAR larger than the
  * budget — the overflow is streamed, never buffered (task memory is
  * O(buckets × budget); a buffered implementation at this ratio would hold
  * ~100k rows per task). */
class PolitenessSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Schedule a frontier with no D1/robots rejects. */
  private def schedule(novel: Dataset[FrontierEntry], cfg: CrawlConfig): Dataset[Sched] =
    Politeness.scheduleFlagged(novel.toDF().withColumn("__drop", lit(null).cast("string")), cfg)

  test("frontier >> budget: exactly top-budget per bucket scheduled, rest deferred, order exact") {
    val n = 100000
    val cfg = CrawlConfig(budgetPerHost = 8, numPartitions = 4, saltMax = 2,
      maxBucketRows = Int.MaxValue)
    // one dominant host; url_hash spread over both salt buckets
    val frontier = spark.range(n.toLong).map { i =>
      FrontierEntry(s"https://big.example.org/u/$i", s"https://big.example.org/u/$i",
        i * 2654435761L, "big.example.org", "DHC", "q", 1, 0,
        priority = i, status = "pending", retry_count = 0, discovered_round = 0)
    }
    val sched = schedule(frontier, cfg).collect()
    val scheduled = sched.filter(_.scheduled)
    val deferred = sched.filter(!_.scheduled)
    // salt_factor = min(saltMax=2, ceil(n/8)) = 2 buckets × budget 4 each
    assert(scheduled.length === 8)
    assert(deferred.length === n - 8)
    // the scheduled set is exactly the smallest (priority, canonical) per bucket
    val expected = (0 until n)
      .map(i => (i, java.lang.Math.floorMod(i * 2654435761L, 2L).toInt))
      .groupBy(_._2)
      .flatMap { case (_, xs) => xs.map(_._1).sorted.take(4) }
      .toSet
    assert(scheduled.map(_.entry.priority.toInt).toSet === expected)
    // in-bucket fetch order follows priority
    scheduled.groupBy(s => (s.entry.host, s.salt)).foreach { case (_, bucket) =>
      val bySeq = bucket.sortBy(_.fetchSeq).map(_.entry.priority)
      assert(bySeq.toSeq === bySeq.sorted.toSeq)
    }
    // deferred rows keep their identity and are marked for the next round
    assert(deferred.forall(_.entry.status == "deferred"))
  }

  private def bigHostFrontier(n: Int): org.apache.spark.sql.Dataset[FrontierEntry] =
    spark.range(n.toLong).map { i =>
      FrontierEntry(s"https://big.example.org/u/$i", s"https://big.example.org/u/$i",
        i * 2654435761L, "big.example.org", "DHC", "q", 1, 0,
        priority = i, status = "pending", retry_count = 0, discovered_round = 0)
    }

  test("strict budget: bucket budgets sum EXACTLY to budgetPerHost (remainder split)") {
    // budget 5 over salt_factor 4 → buckets (salt 0) 2, (1..3) 1 each = 5
    val cfg = CrawlConfig(budgetPerHost = 5, numPartitions = 4, saltMax = 4,
      maxBucketRows = 250) // 1000 rows / 250 → salt_factor 4
    val sched = schedule(bigHostFrontier(1000), cfg).collect()
    val scheduled = sched.filter(_.scheduled)
    assert(scheduled.length === 5, "Σ bucket budgets must equal budgetPerHost")
    val perSalt = scheduled.groupBy(_.salt).view.mapValues(_.length).toMap
    assert(perSalt.getOrElse(0, 0) === 2)
    assert(Seq(1, 2, 3).forall(s => perSalt.getOrElse(s, 0) === 1))
  }

  test("strict budget: parallelism salting beyond the budget leaves zero-budget buckets deferring all") {
    // budget 2, but maxBucketRows forces 4 salt buckets → salts 0,1 get 1
    // slot each, salts 2,3 get 0 and defer everything
    val cfg = CrawlConfig(budgetPerHost = 2, numPartitions = 4, saltMax = 4,
      maxBucketRows = 250)
    val sched = schedule(bigHostFrontier(1000), cfg).collect()
    val scheduled = sched.filter(_.scheduled)
    assert(scheduled.length === 2, "over-salting must not over-admit past the hard cap")
    assert(scheduled.map(_.salt).toSet.subsetOf(Set(0, 1)))
    assert(sched.count(!_.scheduled) === 998)
  }

  test("minIntervalMicros: per-host wall-clock rate is a hard cap; order unchanged when off") {
    import graft.sources.SynthConfig
    val cfg = CrawlConfig(budgetPerHost = 64, numPartitions = 4, saltMax = 2,
      maxBucketRows = Int.MaxValue)
    val sched = schedule(bigHostFrontier(200), cfg)
    val interval = 50000L // 50 ms ⇒ ≤ 20 req/s/host (25 req/min analog scaled)
    val limited = Politeness.fetchAll(sched, SynthConfig(), interval)
      .as[PolitenessSpec.FetchRow].collect()
    val free = Politeness.fetchAll(sched, SynthConfig())
      .as[PolitenessSpec.FetchRow].collect()
    // every bucket drains sequentially, so Σ latency is the bucket wall:
    // wall >= n × interval ⇒ rate = n / wall <= 1e6 / interval
    limited.groupBy(e => (e.entry.host, e.salt)).foreach { case (_, evs) =>
      val wallMicros = evs.map(_.latencyMicros).sum
      assert(wallMicros >= evs.length.toLong * interval,
        s"bucket of ${evs.length} fetches finished in $wallMicros µs — exceeds the rate cap")
    }
    assert(limited.forall(_.latencyMicros >= interval))
    // crawl order and outcomes are IDENTICAL with the limiter off/on — the
    // cap only stretches modeled latency
    def order(evs: Array[PolitenessSpec.FetchRow]) =
      evs.sortBy(e => (e.entry.host, e.salt, e.fetchSeq)).map(e => (e.entry.url, e.status, e.kind)).toSeq
    assert(order(limited) === order(free))
  }

  test("keep-first fused in the scheduling shuffle: duplicate canonicals collapse to the best copy") {
    val n = 300
    // every url appears twice: copy A priority i, copy B priority i+1000 —
    // the (priority, url)-minimal copy must be the one admitted
    val frontier = spark.range(n.toLong * 2).map { k =>
      val i = (k % n).toInt
      val prio = if (k < n) i.toLong else i.toLong + 1000L
      FrontierEntry(s"https://big.example.org/u/$i", s"https://big.example.org/u/$i",
        i * 2654435761L, "big.example.org", "DHC", "q", 1, 0,
        priority = prio, status = "pending", retry_count = 0, discovered_round = 0)
    }
    val cfg = CrawlConfig(budgetPerHost = Int.MaxValue / 2, numPartitions = 4,
      saltMax = 2, maxBucketRows = Int.MaxValue)
    val sched = schedule(frontier, cfg).collect()
    val scheduled = sched.filter(_.scheduled)
    assert(scheduled.length === n, "each canonical scheduled exactly once")
    assert(scheduled.forall(_.entry.priority < 1000L), "the (priority,url)-minimal copy wins")
    assert(sched.count(!_.scheduled) === 0, "losing copies drop silently (not deferred)")
  }

  test("fetch expression evaluates EXACTLY once per scheduled row") {
    // The flatten projection references the fetch struct six times; if
    // CollapseProject ever inlined the (non-cheap) expression per field, the
    // generator would run 6× per row with identical results — invisible to
    // every value-equality test, 6× the fetch-stage cost. Pin the count.
    import graft.sources.{Synth, SynthConfig}
    val cfg = CrawlConfig(budgetPerHost = 256, numPartitions = 4, saltMax = 2,
      maxBucketRows = Int.MaxValue)
    val sched = schedule(bigHostFrontier(200), cfg)
    Synth.fetchRowCounting = true
    Synth.fetchRowCount.set(0L)
    try {
      val events = Politeness.fetchAll(sched, SynthConfig()).collect()
      assert(events.length === 200)
      assert(Synth.fetchRowCount.get() === 200L,
        s"fetch ran ${Synth.fetchRowCount.get()} times for 200 scheduled rows")
    } finally Synth.fetchRowCounting = false
  }

  test("fetch expression rejects mistyped inputs at analysis time (ADVICE r4)") {
    import graft.sources.SynthConfig
    import org.apache.spark.sql.functions.{col, lit}
    val df = spark.range(3).selectExpr("cast(id as string) as url", "cast(id as int) as rc")
    // wrong url type (long) and wrong retry_count type (string) must both
    // surface as a clear analysis error, not a codegen/ClassCastException
    for ((u, r) <- Seq((col("url").cast("long"), col("rc")), (col("url"), lit("x")))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(graft.functions.WireFunctions.synthFetch(u, r, SynthConfig(), 0L)).collect()
      }
      assert(e.getMessage.toLowerCase.contains("synthfetch") ||
        e.getMessage.toLowerCase.contains("data type mismatch"), e.getMessage)
    }
  }
}

object PolitenessSpec {
  /** The columns of a `Politeness.fetchAll` row this suite reads. */
  final case class FetchRow(entry: FrontierEntry, salt: Int, fetchSeq: Int, status: String,
      kind: String, latencyMicros: Long)
}
