package perfbench

import scala.util.control.NonFatal

import graft.SparkEntry
import graft.model.{CrawlConfig, FrontierEntry, RobotsRule}
import graft.plans.{Crawler, RoundReport}
import graft.sources.{Snapshots, SynthConfig}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes of one run mode: `full` for the end-to-end runs, `traced` for
  * the smaller traced run, `smoke` for the benchmark's own tests. `rounds`
  * and `fresh` are the recrawl rounds and fresh PDF URLs per round,
  * `warmFresh` those of its two warm-up rounds; `curateScale` 1 is the sf0.1
  * table size. */
final case class Sizes(rounds: Int, fresh: Int, warmFresh: Int, curateScale: Double)

object Sizes {
  def apply(mode: String): Sizes = mode match {
    case "full" => Sizes(rounds = 3, fresh = 768, warmFresh = 64, curateScale = 0.5)
    case "traced" => Sizes(rounds = 2, fresh = 384, warmFresh = 64, curateScale = 0.25)
    case "smoke" => Sizes(rounds = 2, fresh = 48, warmFresh = 16, curateScale = 0.01)
    case other => throw new IllegalArgumentException(s"unknown size mode $other")
  }
}

/** A workload: a set-up at one width followed by closed-loop units of work. */
trait Workload {
  /** Units a run measures at least, whatever their duration. */
  def minUnits: Int = 1
  def setup(spark: SparkSession, width: Int): Unit
  /** One unit: its measured parts and check outcomes go into `res`. */
  def unit(spark: SparkSession, width: Int, res: Result): Unit
  /** The traced run: untraced pass, traced pass, per-layer metrics. */
  def traced(spark: SparkSession, width: Int, tr: Tracer, res: Result): Unit
  /** After the traced run's session has stopped: per-layer metrics that need
    * a session at the narrow width. */
  def narrowProbe(narrow: Int, wide: Int, res: Result): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long, sizes: Sizes, scratch: String,
      tables: Option[String] = None): Workload = name match {
    case "recrawl" => new Recrawl(seed, sizes, scratch)
    case "curate" => new Curate(seed, sizes, scratch, tables)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent digest of a frame: row count, xor and masked sum of
    * per-row hashes over every column. Computing it evaluates every column. */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFL))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def urls(r: RoundReport): Long = r.fetched_ok + r.fetch_failed + r.dup_url
}

/** `recrawl`: consecutive rounds on one store. Each round adds fresh PDF
  * URLs, the next listing page of every query, and (from round 2) URLs
  * already offered in earlier rounds; one dominant host with a finite budget
  * defers work, transient failures retry, and compaction runs every round.
  * The sequence ends with the merged judgments. */
final class Recrawl(seed: Long, sizes: Sizes, scratch: String) extends Workload {
  private val Rounds = sizes.rounds
  /** The dominant host's budget is below its share of each round's frontier. */
  private val budget = sizes.fresh * 2 / 5
  private def rowsPerPage(fresh: Int) = math.max(2, fresh / 32)
  private val sc = Inputs.recrawlSynth(seed, sizes.fresh, Rounds, rowsPerPage(sizes.fresh))
  private var inputRoot: String = _
  private var inputs: IndexedSeq[Dataset[FrontierEntry]] = _
  private var seqs = 0

  private def cfg(width: Int) = CrawlConfig(budgetPerHost = budget, maxRetries = 3,
    numPartitions = width * 8, saltMax = 64, compactEvery = 1,
    robots = Seq(RobotsRule("mirror-3.example.org", "/pdf/")))

  def setup(spark: SparkSession, width: Int): Unit = {
    import spark.implicits._
    inputRoot = Common.freshDir(scratch, "recrawl-input")
    (1 to Rounds).foreach { r =>
      Inputs.recrawlInput(spark, sc, r, sizes.fresh, width * 2).write.parquet(s"$inputRoot/r$r")
    }
    readInputs(spark)
    // warm-up: two small rounds on a scratch store
    val wsc = Inputs.recrawlSynth(seed, sizes.warmFresh, 2, rowsPerPage(sizes.warmFresh))
    val warm = Common.freshDir(scratch, "recrawl-warm")
    var f = Inputs.recrawlInput(spark, wsc, 1, sizes.warmFresh, width).as[FrontierEntry]
    (1 to 2).foreach { r =>
      val (_, next, _) = Crawler.runRound(spark, cfg(width), wsc, warm, r, f)
      f = next.unionByName(Inputs.recrawlInput(spark, wsc, r + 1, sizes.warmFresh, width).as[FrontierEntry])
    }
    Common.deleteTree(warm)
  }

  private def readInputs(spark: SparkSession): Unit = {
    import spark.implicits._
    inputs = (1 to Rounds).map(r => spark.read.parquet(s"$inputRoot/r$r").as[FrontierEntry])
  }

  /** Run the whole sequence on a fresh store, each round timed. With a
    * tracer, every round runs in a `crawler` span and the last round is
    * first replayed layer by layer (outside the round's timing). */
  private def sequence(spark: SparkSession, width: Int, res: Result, tag: String,
      tr: Option[Tracer] = None): Seq[UnitRec] = {
    import spark.implicits._
    val store = Common.freshDir(scratch, "recrawl-store")
    val rounds = scala.collection.mutable.ArrayBuffer.empty[UnitRec]
    try {
      var frontier = inputs(0)
      for (r <- 1 to Rounds) {
        val where = s"recrawl $tag round=$r"
        try {
          if (r == Rounds) tr.foreach(t =>
            t.span("replay")(Replay.round(spark, t, cfg(width), sc, store, r, frontier, scratch)))
          // the frontier's distinct canonical URLs already in the committed
          // seen set: what the round's D1 probe must report as dups
          val seenBefore = Crawler.seenAllOpt(spark, store).map { seen =>
            frontier.select($"canonical_url").distinct()
              .join(seen.select($"canonical_url"), Seq("canonical_url"), "left_semi").count()
          }.getOrElse(0L)
          LiveHeap.settle()
          def run() = Crawler.runRound(spark, cfg(width), sc, store, r, frontier)
          val ((report, next, _), secs) = Common.timed(tr.fold(run())(_.span("crawler")(run())))
          System.err.println(s"[perfbench] $where ${secs}s $report")
          val u = res.add(UnitRec("round", where, width, secs, Workload.urls(report)))
          res.check(u, report.dup_url == seenBefore,
            s"dup_url ${report.dup_url}, but $seenBefore frontier URLs were already seen")
          rounds += u
          if (r < Rounds) frontier = next.unionByName(inputs(r))
        } catch {
          case NonFatal(e) =>
            rounds += res.add(UnitRec("round", where, width, 0.0, 0L, error = e.toString))
            throw e
        }
      }
      val where = s"recrawl $tag merge"
      def merged() = Workload.digest(Crawler.mergedJudgments(spark, store))
      val ((mergedRows, _, _), secs) = Common.timed(tr.fold(merged())(_.span("merge")(merged())))
      val m = res.add(UnitRec("merge", where, width, secs, 0L))
      // checks over the committed store
      val ok = Snapshots.readDeltas(spark, store, Crawler.FetchLogTable).get
        .filter($"status" === "ok").select($"canonical_url")
      val (okRows, okDistinct) = (ok.count(), ok.distinct().count())
      val seen = Crawler.seenAll(spark, store).count()
      val judgments = Snapshots.readDeltas(spark, store, Crawler.JudgmentsTable).map(_.count()).getOrElse(0L)
      res.check(m, seen == okDistinct, s"seen set has $seen rows, $okDistinct distinct URLs fetched OK")
      res.check(m, okRows == okDistinct, s"${okRows - okDistinct} canonical URLs fetched OK more than once")
      res.check(m, mergedRows == judgments, s"mergedJudgments has $mergedRows rows, judgments $judgments")
      rounds += m
      System.err.println(f"[perfbench] recrawl $tag: ${LiveHeap.settle()}%.0f MB live after the merge")
    } catch {
      case NonFatal(e) if rounds.exists(_.error != null) =>
        System.err.println(s"[perfbench] recrawl $tag stopped: $e")
      case NonFatal(e) =>
        res.add(UnitRec("merge", s"recrawl $tag merge", width, 0.0, 0L, error = e.toString))
    } finally Common.deleteTree(store)
    rounds.toSeq
  }

  def unit(spark: SparkSession, width: Int, res: Result): Unit = {
    seqs += 1
    sequence(spark, width, res, s"width=$width seq=$seqs")
  }

  def traced(spark: SparkSession, width: Int, tr: Tracer, res: Result): Unit = {
    def rounds(us: Seq[UnitRec]) = us.filter(_.kind == "round").map(_.secs)
    // the untraced baseline runs after the traced sequence: JIT warm-up left
    // over from the set-up then overstates the tracing overhead instead of
    // hiding it
    val traced = sequence(spark, width, res, "traced", Some(tr))
    val untraced = rounds(sequence(spark, width, res, "untraced"))
    res.layer("merge.s") = traced.find(_.kind == "merge").map(_.secs).getOrElse(0.0)
    Traced.spanMetrics(tr, res)
    // the replayed layer spans against the same round run in place
    val replayed = tr.latest("replay").map(r => tr.spans.filter(_.parent == r.id).map(_.secs).sum)
      .getOrElse(0.0)
    res.layer("crawler.round_s") = Common.median(rounds(traced))
    res.layer("crawler.overlap_s") = replayed - tr.latest("crawler").map(_.secs).getOrElse(0.0)
    Traced.overhead(res, untraced.sum, rounds(traced).sum)
    Curate.Headline.foreach(q => res.layer(s"query.$q.warm_s") = 0.0)
    res.layer("query.cold_minus_warm_s") = 0.0
    wideRound1 = untraced.headOption.getOrElse(0.0)
  }

  private var wideRound1 = 0.0

  /** Raw scaling efficiency of round 1 (empty store, same input): its time at
    * the narrow width over `wide / narrow` times its untraced time at the
    * wide width. One sample each. */
  override def narrowProbe(narrow: Int, wide: Int, res: Result): Unit = if (wideRound1 > 0) {
    val spark = Common.session(narrow, scratch)
    try {
      readInputs(spark)
      val store = Common.freshDir(scratch, "recrawl-store")
      val (_, secs) = Common.timed(Crawler.runRound(spark, cfg(narrow), sc, store, 1, inputs(0)))
      Common.deleteTree(store)
      res.layer("crawler.scaling_eff") = secs / (wide.toDouble / narrow * wideRound1)
      System.err.println(s"[perfbench] recrawl round 1 at width $narrow: ${secs}s")
    } finally spark.stop()
  }
}

/** `curate`: the 20 headline queries over seed-generated tables; each query
  * runs once cold (first pass of the process) and then repeats warm. */
final class Curate(seed: Long, sizes: Sizes, scratch: String, tables: Option[String])
    extends Workload {
  /** The cold pass and at least two warm ones; each query's warm time is
    * their mean. */
  override val minUnits = 3
  private val dir = tables.getOrElse(s"$scratch/curate-tables")
  private val firstDigest = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
  private var passes = 0

  def setup(spark: SparkSession, width: Int): Unit = {
    if (tables.isEmpty) Inputs.writeCurateTables(spark, dir, seed, sizes.curateScale)
    Common.force(SparkEntry.queries("q_lang_stats")(spark, dir))
  }

  /** One pass over the headline queries, each in a span when traced. */
  private def pass(spark: SparkSession, width: Int, res: Result, tag: String,
      tr: Option[Tracer] = None): Seq[UnitRec] = {
    passes += 1
    val cold = passes == 1
    Curate.Headline.map { q =>
      val where = s"curate $q $tag"
      try {
        LiveHeap.settle()
        def run() = Workload.digest(SparkEntry.queries(q)(spark, dir))
        val (d, secs) = Common.timed(tr.fold(run())(_.span(s"sparkentry.$q")(run())))
        val u = res.add(UnitRec("query", where, width, secs, 1L, cold))
        val want = firstDigest.getOrElseUpdate(q, d)
        res.check(u, d == want, s"digest (rows, xor, sum) $d differs from the first run's $want")
        res.check(u, d._1 > 0, "query returned no rows")
        u
      } catch {
        case NonFatal(e) => res.add(UnitRec("query", where, width, 0.0, 0L, cold, e.toString))
      }
    }
  }

  def unit(spark: SparkSession, width: Int, res: Result): Unit =
    pass(spark, width, res, s"width=$width pass=${passes + 1}")

  def traced(spark: SparkSession, width: Int, tr: Tracer, res: Result): Unit = {
    val cold = pass(spark, width, res, "cold")
    // untraced after traced, as in recrawl
    val traced = pass(spark, width, res, "traced", Some(tr))
    val warm = pass(spark, width, res, "untraced")
    traced.foreach { u =>
      val q = u.where.split(' ')(1)
      res.layer(s"query.$q.warm_s") = u.secs
    }
    res.layer("query.cold_minus_warm_s") = cold.map(_.secs).sum - warm.map(_.secs).sum
    res.layer("merge.s") = tr.latest("sparkentry.q_merge_judgments").map(_.secs).getOrElse(0.0)
    // no crawl span runs here: the crawl metrics below read 0
    Traced.spanMetrics(tr, res)
    res.layer("crawler.round_s") = 0.0
    res.layer("crawler.overlap_s") = 0.0
    res.layer("crawler.scaling_eff") = 0.0
    Traced.overhead(res, warm.map(_.secs).sum, traced.map(_.secs).sum)
  }
}

object Curate {
  /** The headline queries of `graft.Bench`. */
  val Headline: Seq[String] = Seq(
    "q_pricing_summary", "q_stats_rollup", "q_top_revenue", "q_daily_rollup",
    "q_window_running", "q_sessionize", "q_keepfirst", "q_dedup_exact",
    "q_merge_multimap", "q_token_stats", "q_simhash", "q_minhash_candidates",
    "q_ann_bruteforce", "q_ann_srp", "q_segregate", "q_rendering_dedup",
    "q_ngram_jaccard", "q_w1_relational", "q_merge_judgments", "q_stats_full")
}

/** Per-layer metrics from a finished trace. */
object Traced {
  val Layers = Seq("urls", "seenset", "politeness", "fetch", "dedup", "segregate",
    "snapshots", "merge", "crawler", "sparkentry")

  def overhead(res: Result, untraced: Double, traced: Double): Unit = {
    res.layer("trace.untraced_s") = untraced
    res.layer("trace.overhead_s") = traced - untraced
  }

  /** Every layer's span totals, and the layer counters of the crawl replay's
    * spans (0 where the span did not run). */
  def spanMetrics(tr: Tracer, res: Result): Unit = {
    tr.finish()
    Layers.foreach(l => tr.layerTotals(l).foreach { case (k, v) => res.layer(s"$l.$k") = v })
    def secs(name: String) = tr.latest(name).map(_.secs).getOrElse(0.0)
    def ctr(name: String, k: String) = tr.latest(name).flatMap(_.counters.get(k)).getOrElse(0.0)
    res.layer("seenset.probe_s") = secs("seenset.probe")
    res.layer("seenset.bloom_pos_share") = ctr("seenset", "bloom_pos_share")
    res.layer("seenset.dup_per_pos") = ctr("seenset", "dup_per_pos")
    res.layer("seenset.filter_update_s") = secs("seenset.filter_update")
    res.layer("politeness.schedule_s") = secs("politeness")
    res.layer("politeness.max_bucket_rows") = ctr("politeness", "max_bucket_rows")
    res.layer("politeness.deferred_rows") = ctr("politeness", "deferred_rows")
    res.layer("politeness.task_skew") = tr.latest("politeness").map { s =>
      // launch to finish: executor run times of the small scheduling tasks
      // are mostly below their 1 ms resolution
      val t = tr.lastStageTasks(s).map(t => (t.finishMs - t.launchMs) / 1e3)
      val med = Common.median(t)
      if (t.isEmpty || med <= 0) 0.0 else t.max / med
    }.getOrElse(0.0)
    res.layer("fetch.s") = secs("fetch")
    res.layer("fetch.payload_mb") = ctr("fetch", "payload_mb")
    res.layer("fetch.failed_share") = ctr("fetch", "failed_share")
    res.layer("dedup.s") = secs("dedup")
    res.layer("dedup.kept_share") = ctr("dedup", "kept_share")
    res.layer("dedup.history_rows") = ctr("dedup", "history_rows")
    res.layer("segregate.spans_s") = secs("segregate.spans")
    res.layer("segregate.paragraphs_s") = secs("segregate.paragraphs")
    res.layer("segregate.paras_per_doc") = ctr("segregate.paragraphs", "paras_per_doc")
    Replay.WrittenTables.foreach { t =>
      res.layer(s"snapshots.write_s.$t") = secs(s"snapshots.write.$t")
      res.layer(s"snapshots.write_mb.$t") = ctr(s"snapshots.write.$t", "mb")
    }
    res.layer("snapshots.compact_s") = secs("snapshots.compact")
    Seq(Crawler.SeenTable, Crawler.DocsTable, Crawler.JudgmentsTable).foreach { t =>
      res.layer(s"snapshots.history_files.$t") = ctr("snapshots.history", s"files.$t")
    }
  }
}
