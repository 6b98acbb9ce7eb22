package graft

import graft.operators.{Dedup, SeenSet, Segregate}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural scale proof for the history access pattern (VERDICT r2 item 5):
  * the accumulated history tables (seen set, docs hash frames) grow without
  * bound with crawl age, so the plans that consult them must NEVER shuffle
  * them — history has to be scanned map-side (column-pruned), with only the
  * round-bounded probe/hit sets moving. These tests run the real operators
  * against on-disk history parquet and walk the FINAL adaptive physical plan
  * asserting no shuffle exchange sits above the history scan.
  */
class HistoryPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Recursively unwrap AQE wrappers to the materialized plan tree; with
    * `caches`, also the plans that filled the caches the tree scans. */
  private def flatten(p: SparkPlan, caches: Boolean = false): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan, caches)
    case q: QueryStageExec        => q +: flatten(q.plan, caches)
    case m: InMemoryTableScanExec if caches =>
      m +: flatten(m.relation.cacheBuilder.cachedPlan, caches)
    case other                    => other +: other.children.flatMap(flatten(_, caches))
  }

  /** Subtree walk that STOPS at broadcast boundaries: rows below a broadcast
    * exchange are not the rows being shuffled by an enclosing shuffle — they
    * enter the stream only as broadcast-side lookups. */
  private def shuffleFlow(p: SparkPlan, caches: Boolean): Seq[SparkPlan] = p match {
    case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => Seq(b)
    case q: org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec => Seq(q)
    case a: AdaptiveSparkPlanExec => a +: shuffleFlow(a.executedPlan, caches)
    case q: QueryStageExec        => q +: shuffleFlow(q.plan, caches)
    case m: InMemoryTableScanExec if caches =>
      m +: shuffleFlow(m.relation.cacheBuilder.cachedPlan, caches)
    case other                    => other +: other.children.flatMap(shuffleFlow(_, caches))
  }

  /** True iff some shuffle exchange in `plan` repartitions rows that came
    * from the `pathTag` table other than through a broadcast boundary —
    * i.e. the table's own rows are being shuffled. */
  private def historyShuffled(plan: SparkPlan, pathTag: String, caches: Boolean): Boolean =
    flatten(plan, caches).exists {
      case s: ShuffleExchangeLike =>
        s.children.flatMap(shuffleFlow(_, caches)).exists {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains(pathTag))
          case _ => false
        }
      case _ => false
    }

  private def historyShuffled(df: DataFrame, pathTag: String): Boolean = {
    df.collect() // force AQE to finalize the real plan
    historyShuffled(df.queryExecution.executedPlan, pathTag, caches = false)
  }

  private def scansOf(df: DataFrame, pathTag: String): Seq[FileSourceScanExec] =
    flatten(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(pathTag)) => f
    }

  test("D2/D3: the docs-hash history is scanned map-side, column-pruned, never shuffled") {
    val dir = java.nio.file.Files.createTempDirectory("graft-histplan").toString
    // history: 60k docs-hash rows with the full docs-table column set
    val history = spark.range(60000L).select(
      concat(lit("H/"), $"id").as("doc_id"),
      $"id".as("priority"), lit("c").as("court"),
      ($"id" % 997).as("sz"), xxhash64($"id").as("prefix_hash"),
      md5($"id".cast("string")).as("content_hash"),
      md5(concat($"id".cast("string"), lit("p"))).as("render_hash_plain"),
      md5(concat($"id".cast("string"), lit("n"))).as("render_hash_nodigits"),
      md5(concat($"id".cast("string"), lit("m"))).as("render_hash_marked"))
    history.write.parquet(s"$dir/docs_history")
    val hist = spark.read.parquet(s"$dir/docs_history")

    // batch OVERLAPS history for ids < 200 (same hash columns): non-empty
    // hit sets keep AQE from empty-propagating the history subtree away, so
    // the final plan contains the real history access path to assert on
    val dupTail = when($"id" < 200, lit("")).otherwise(lit("x"))
    val batch = spark.range(500L).select(
      concat(lit("B/"), $"id").as("doc_id"),
      ($"id" + 1000000L).as("priority"), lit("c").as("court"),
      ($"id" % 997).as("sz"), xxhash64($"id").as("prefix_hash"),
      md5(concat($"id".cast("string"), dupTail)).as("content_hash"),
      md5(concat($"id".cast("string"), lit("p"), dupTail)).as("render_hash_plain"),
      md5(concat($"id".cast("string"), lit("n"), dupTail)).as("render_hash_nodigits"),
      md5(concat($"id".cast("string"), lit("m"), dupTail)).as("render_hash_marked"))

    val arrival = Seq(col("priority"), col("doc_id"))
    val d2 = Dedup.contentDedup(batch, Some(hist), arrival)
    val kept = Dedup.renderingDedup(d2, Segregate.RenderingNames, Some(hist), arrival)

    assert(!historyShuffled(kept, "docs_history"),
      "history must never enter a shuffle exchange (it grows with crawl age)")
    // column pruning: every history scan reads ONLY the key columns it needs
    val scans = scansOf(kept, "docs_history")
    assert(scans.nonEmpty)
    scans.foreach { f =>
      val read = f.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("sz", "prefix_hash", "content_hash",
        "render_hash_plain", "render_hash_nodigits", "render_hash_marked")),
        s"history scan must be column-pruned to join keys, read: $read")
      assert(read.size <= 3, s"over-wide history scan: $read")
    }
    // the four chained steps grow the plan linearly, ≤ 4 leaves per step:
    // taking each step's history hits from its own survivors referenced the
    // step's input twice and doubled the plan at every step (31 leaves)
    val leaves = kept.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves <= 16, s"D2/D3 cascade plan has $leaves leaves (limit 16)")
  }

  test("judgment routing scans the judgments history map-side, column-pruned, never shuffled") {
    // a real crawl compacting every round: from round 2 on, the judgments
    // history is the compacted segments under _base, which only the
    // routing probe reads (compaction reads the round's own delta)
    val captured = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-judgplan").toString
    spark.listenerManager.register(listener)
    try {
      graft.plans.Crawler.run(spark,
        graft.model.CrawlConfig(budgetPerHost = 8, numPartitions = 4, saltMax = 4, compactEvery = 1),
        graft.sources.SynthConfig(courts = 2, queriesPerCourt = 2, pagesPerQuery = 4, rowsPerPage = 5),
        dir, maxRounds = 4)
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val plans = captured.synchronized { captured.toVector }
    val history = "tables/judgments/_base"
    val scans = plans.flatMap(flatten(_, caches = true)).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(history)) => f
    }
    assert(scans.nonEmpty, "no round read the judgments history")
    assert(!plans.exists(historyShuffled(_, history, caches = true)),
      "the judgments history must never enter a shuffle exchange (it grows with crawl age)")
    scans.foreach { f =>
      val read = f.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("case_number", "canonical_url")) && read.size <= 1,
        s"judgments history scan must read one routing key, read: $read")
    }
  }

  test("wide-row discipline: spans/payload columns never ride a shuffle exchange in a real crawl") {
    val captured = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val dir = java.nio.file.Files.createTempDirectory("graft-widerow").toString
    try {
      graft.plans.Crawler.run(spark,
        graft.model.CrawlConfig(budgetPerHost = 64, numPartitions = 4, saltMax = 4),
        graft.sources.SynthConfig(courts = 2, queriesPerCourt = 2, pagesPerQuery = 2, rowsPerPage = 5),
        dir, maxRounds = 4)
      Thread.sleep(3000) // the QueryExecutionListener bus is asynchronous
      val plans = captured.synchronized { captured.toVector }
      assert(plans.nonEmpty, "listener captured no query executions")
      val offenders = plans.flatMap(flatten(_)).collect {
        case s: ShuffleExchangeLike
            if s.output.exists(a => a.name == "spans" || a.name == "payload" || a.name == "doc") =>
          s.output.map(_.name).mkString(",")
      }
      assert(offenders.isEmpty,
        s"span/payload data must never be shuffled (narrow-hash dedup + broadcast-back): $offenders")
    } finally spark.listenerManager.unregister(listener)
  }

  test("D1+politeness: ONE full-frontier exchange per round even with probeRepartition on") {
    // VERDICT r4 Next #5: the pre-r5 plan repartitioned the WHOLE frontier
    // for cuckoo-shard locality (probeRepartition) and then AGAIN for the
    // politeness buckets — two full-frontier exchanges per round at cluster
    // scale. Round 5 routes only the narrow (url_hash, canonical_url)
    // projection through the probe shuffle; this walk pins that the final
    // physical plan shuffles frontier-wide rows exactly once (the politeness
    // (host, salt) exchange).
    val dir = java.nio.file.Files.createTempDirectory("graft-d1plan").toString
    spark.range(5000L).select(
      xxhash64($"id").as("url_hash"),
      concat(lit("https://h.example.org/u/"), $"id").as("canonical_url"))
      .write.parquet(s"$dir/seen_history")
    val seen = spark.read.parquet(s"$dir/seen_history")
    graft.operators.SeenSet.rebuildFilters(seen, s"$dir/filters")
    val incoming = spark.range(2000L).select(
      concat(lit("https://h.example.org/u/"), $"id").as("url"),
      concat(lit("https://h.example.org/u/"), $"id").as("canonical_url"),
      xxhash64($"id").as("url_hash"),
      lit("h.example.org").as("host"),
      lit("c").as("court"), lit("q").as("query"), lit(1).as("page"),
      lit(1).as("depth"), $"id".as("priority"), lit("pending").as("status"),
      lit(0).as("retry_count"), lit(0).as("discovered_round"))
    incoming.write.parquet(s"$dir/frontier")
    val pending = spark.read.parquet(s"$dir/frontier")
    val flagged = SeenSet.markDupes(pending, seen, s"$dir/filters",
      probeRepartition = true, seenKeysUnique = true)
      .withColumn("__drop", when($"__dup", lit("dup")))
      .drop("__dup")
    val sched = graft.operators.Politeness.scheduleFlagged(
      flagged, graft.model.CrawlConfig(budgetPerHost = 256, numPartitions = 4, saltMax = 4))
    val out = sched.toDF()
    out.collect() // finalize the AQE plan
    val wide = flatten(out.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeLike
          if s.output.exists(a => a.name == "entry") ||
             Set("url", "status", "retry_count").subsetOf(s.output.map(_.name).toSet) =>
        s.output.map(_.name).mkString(",")
    }
    assert(wide.size == 1,
      s"expected exactly ONE full-frontier exchange (politeness), found ${wide.size}: $wide")
  }

  test("D1: the seen table is scanned map-side, never shuffled, in markDupes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seenplan").toString
    spark.range(80000L).select(
      xxhash64($"id").as("url_hash"),
      concat(lit("https://h.example.org/u/"), $"id").as("canonical_url"))
      .write.parquet(s"$dir/seen_history")
    val seen = spark.read.parquet(s"$dir/seen_history")
    val incoming = spark.range(300L).select(
      concat(lit("https://h.example.org/u/"), $"id").as("url"),
      concat(lit("https://h.example.org/u/"), $"id").as("canonical_url"),
      xxhash64($"id").as("url_hash"),
      lit("h.example.org").as("host"))
    val flagged = SeenSet.markDupes(incoming, seen,
      filterDir = s"$dir/filters", probeRepartition = false, seenKeysUnique = true)
    assert(!historyShuffled(flagged, "seen_history"),
      "the union-of-all-rounds seen table must never be shuffled by the D1 probe")
  }
}
