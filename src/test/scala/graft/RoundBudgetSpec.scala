package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.model.{CrawlConfig, FrontierEntry}
import graft.plans.Crawler
import graft.sources.SynthConfig

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Fixed cost of a crawl round: Spark jobs and broadcast hash relations per
  * [[Crawler.runRound]], on the CrawlSpec fixture with compaction every
  * round. Every job pays scheduling latency whatever its size, and every
  * broadcast hash relation pins one `spark.buffer.pageSize` page per JVM
  * until the driver collects its handle (CLUSTER.md), so both counts bound
  * round time and live heap at small round sizes.
  *
  * Jobs are counted by a SparkListener. Broadcasts are the distinct
  * `runId`s of the `BroadcastExchangeExec`s with a hashed-relation mode in
  * the executed plans of the round's queries, cached plans walked once; a
  * `ReusedExchangeExec` builds nothing and is skipped.
  *
  * Before each history table got one probe per round, the same five rounds
  * ran 49, 75, 82, 82 and 82 jobs and built 1, 5, 7, 9 and 15 hash
  * relations: round 5 is the first whose every history probe finds hits,
  * so that AQE elides none of its broadcasts.
  */
class RoundBudgetSpec extends AnyFunSuite {
  import RoundBudgetSpec.Budget
  lazy val spark = SparkTestBase.spark

  private val synthCfg = SynthConfig(
    courts = 2, queriesPerCourt = 2, pagesPerQuery = 4, rowsPerPage = 5)
  private val cfg = CrawlConfig(
    budgetPerHost = 8, maxRetries = 3, numPartitions = 4, saltMax = 4, compactEvery = 1)

  private def hashBroadcasts(plans: Seq[SparkPlan]): Int = {
    val runIds = mutable.Set.empty[java.util.UUID]
    val cachesWalked = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = p match {
      case _: ReusedExchangeExec    => ()
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case b: BroadcastExchangeExec =>
        if (b.mode.isInstanceOf[HashedRelationBroadcastMode]) runIds += b.runId
        walk(b.child)
      case m: InMemoryTableScanExec =>
        if (cachesWalked.add(m.relation.cacheBuilder)) walk(m.relation.cacheBuilder.cachedPlan)
      case other => other.children.foreach(walk)
    }
    plans.foreach(walk)
    runIds.size
  }

  /** Run `body` and count the jobs it started and the hash relations its
    * queries built. */
  private def budgetOf[T](body: => T): (T, Budget) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val out = body
      ListenerBusBridge.drain(sc)
      (out, Budget(jobs.get, hashBroadcasts(plans.synchronized(plans.toVector))))
    } finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** Budgets of rounds 1-5 of one crawl, each round run on the committed
    * next frontier of the one before, as [[Crawler.run]] does. */
  private lazy val budgets: Seq[Budget] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-budget").toString
    var frontier: Dataset[FrontierEntry] = graft.sources.Synth.seedEntries(synthCfg).toDS().toDF()
      .withColumn("canonical_url", graft.functions.Urls.canonicalize($"url"))
      .withColumn("url_hash", graft.functions.Urls.urlHash($"canonical_url"))
      .withColumn("host", graft.functions.Urls.host($"url"))
      .select(spark.emptyDataset[FrontierEntry].columns.map(org.apache.spark.sql.functions.col): _*)
      .as[FrontierEntry]
    (1 to 5).map { r =>
      val ((report, next, _), b) = budgetOf(Crawler.runRound(spark, cfg, synthCfg, dir, r, frontier))
      info(s"round $r: ${b.jobs} jobs, ${b.hashBroadcasts} hash broadcasts; $report")
      frontier = next
      b
    }
  }

  test("an empty-store round runs at most 49 jobs and builds at most 1 hash broadcast") {
    val b = budgets.head
    assert(b.jobs <= 49, s"round 1 ran ${b.jobs} jobs")
    assert(b.hashBroadcasts <= 1, s"round 1 built ${b.hashBroadcasts} hash broadcasts")
  }

  test("a history round runs at most 60 jobs and builds at most 9 hash broadcasts") {
    budgets.tail.zipWithIndex.foreach { case (b, i) =>
      assert(b.jobs <= 60, s"round ${i + 2} ran ${b.jobs} jobs")
      assert(b.hashBroadcasts <= 9, s"round ${i + 2} built ${b.hashBroadcasts} hash broadcasts")
    }
  }
}

object RoundBudgetSpec {
  final case class Budget(jobs: Int, hashBroadcasts: Int)
}
