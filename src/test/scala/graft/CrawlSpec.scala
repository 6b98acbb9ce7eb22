package graft

import java.nio.file.Files

import graft.functions.Urls
import graft.model._
import graft.plans.Crawler
import graft.sources.{Rng, Snapshots, Synth, SynthConfig}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end crawl: the distributed engine vs the sequential in-memory
  * oracle ([[CrawlOracle]]), plus parallelism-invariance and resume-equality
  * (SURVEY.md §5 items 3-4; north rule: same crawl ordering and final
  * URL-seen set under the same seed list + politeness budget). */
class CrawlSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val synthCfg = SynthConfig(
    courts = 2, queriesPerCourt = 2, pagesPerQuery = 2, rowsPerPage = 5)
  private val cfg = CrawlConfig(
    budgetPerHost = 8, maxRetries = 3, numPartitions = 4, saltMax = 4)

  /** Every URL reachable in this universe, enumerated from pure Synth
    * arithmetic (for oracle hash/canonical injection). */
  private def allUrls(c: SynthConfig): Seq[String] = {
    val listings = for {
      ct <- 0 until c.courts; q <- 0 until c.queriesPerCourt; p <- 1 to c.pagesPerQuery
    } yield Synth.listingUrl(ct, q, p)
    val rows = for {
      ct <- 0 until c.courts; q <- 0 until c.queriesPerCourt
      p <- 1 to c.pagesPerQuery; r <- 0 until c.rowsPerPage
    } yield (ct, q, p, r)
    val docpages = rows.map { case (ct, q, p, r) =>
      val caseId = Synth.caseIdOf(c, ct, q, p, r)
      val junk = Rng.mix(c.seed, 0x1DL, Synth.rowIndex(c, ct, q, p, r))
      SynthOracle.docPageHref(c, ct, caseId, junk)
    }
    val pdfs = rows.map { case (ct, q, p, r) =>
      val caseId = Synth.caseIdOf(c, ct, q, p, r)
      Synth.pdfUrl(c, ct, Synth.fileIdOf(c, ct, caseId))
    }
    (listings ++ docpages ++ pdfs).distinct
  }

  private lazy val meta: Map[String, CrawlOracle.UrlMeta] =
    allUrls(synthCfg).toDF("url")
      .select($"url", Urls.canonicalize($"url").as("c"), Urls.host($"url").as("h"))
      .withColumn("hash", Urls.urlHash($"c"))
      .as[(String, String, String, Long)]
      .collect()
      .map { case (u, c, h, hash) => u -> CrawlOracle.UrlMeta(c, h, hash) }
      .toMap

  private lazy val oracle = CrawlOracle.run(cfg, synthCfg, meta)

  private def newWorkDir(tag: String): String =
    Files.createTempDirectory(s"graft-crawl-$tag").toString

  private def engineState(workDir: String) = {
    val fetchLog = Snapshots.readDeltas(spark, workDir, Crawler.FetchLogTable).get
      .select("round", "host", "salt", "fetchSeq", "canonical_url", "status", "kind")
      .as[(Int, String, Int, Int, String, String, String)].collect().toSeq.sorted
    val seen = Snapshots.readDeltas(spark, workDir, Crawler.SeenTable).get
      .select("canonical_url").as[String].collect().toSet
    val docs = Snapshots.readDeltas(spark, workDir, Crawler.DocsTable).get
      .select($"doc_id", $"spans").as[Doc].collect()
      .map(d => d.doc_id -> d.spans.toVector).toMap
    val judgments = Snapshots.readDeltas(spark, workDir, Crawler.JudgmentsTable).get
      .select("case_number", "canonical_url").as[(String, String)].collect().toSet
    val merges = Snapshots.readDeltas(spark, workDir, Crawler.MergeRequestsTable).get
      .select("case_number", "canonical_url").as[(String, String)].collect().toSeq.sorted
    val paras = Snapshots.readDeltas(spark, workDir, Crawler.ParagraphsTable)
      .map(_.count()).getOrElse(0L)
    (fetchLog, seen, docs, judgments, merges, paras)
  }

  private lazy val mainDir = {
    val d = newWorkDir("main")
    Crawler.run(spark, cfg, synthCfg, d, maxRounds = 64)
    d
  }

  test("engine matches oracle: final URL-seen set") {
    val (_, seen, _, _, _, _) = engineState(mainDir)
    assert(seen === oracle.seen)
  }

  test("engine matches oracle: fetch order (per-bucket crawl ordering)") {
    val (log, _, _, _, _, _) = engineState(mainDir)
    val oLog = oracle.fetchLog
      .map(r => (r.round, r.host, r.salt, r.fetchSeq, r.canonical, r.status, r.kind)).sorted
    assert(log === oLog)
  }

  test("engine matches oracle: kept docs after D2+D3 dedup cascade") {
    val (_, _, docs, _, _, _) = engineState(mainDir)
    assert(docs.keySet === oracle.docs.keySet)
  }

  test("engine matches oracle: judgments (D1 case/url routing) + merge requests") {
    val (_, _, _, judgments, merges, _) = engineState(mainDir)
    assert(judgments === oracle.judgments)
    assert(merges === oracle.mergeRequests.sorted)
  }

  test("engine matches oracle: filtered paragraph count") {
    val (_, _, _, _, _, paras) = engineState(mainDir)
    assert(paras === oracle.paragraphs.toLong)
  }

  test("span-sequence invariant: docs table preserves (kind,text,media_ref,order) per doc_id") {
    val (_, _, docs, _, _, _) = engineState(mainDir)
    assert(docs.nonEmpty)
    docs.foreach { case (docId, spans) =>
      val fid = docId.split('/')(1).toLong
      val expected = SynthOracle.spansOf(synthCfg, Synth.contentIdOf(synthCfg, fid))
      assert(spans === expected.toVector, s"span mismatch for $docId")
      // offsets dense + reading order
      assert(spans.map(_.offset) === spans.indices.toVector)
    }
  }

  test("parallelism invariance: different partition count, same crawl") {
    val d2 = newWorkDir("p2")
    Crawler.run(spark, cfg.copy(numPartitions = 2), synthCfg, d2, maxRounds = 64)
    val a = engineState(mainDir)
    val b = engineState(d2)
    assert(b._1 === a._1) // fetch log incl. order
    assert(b._2 === a._2) // seen
    assert(b._3 === a._3) // docs incl. spans
    assert(b._4 === a._4) // judgments
    assert(b._5 === a._5) // merges
    assert(b._6 === a._6) // paragraphs
  }

  test("resume: stop after 2 rounds, restart, end state equals uninterrupted run") {
    val d = newWorkDir("resume")
    Crawler.run(spark, cfg, synthCfg, d, maxRounds = 2)
    assert(Snapshots.latestRound(d) === Some(2))
    Crawler.run(spark, cfg, synthCfg, d, maxRounds = 64) // resume to drain
    val a = engineState(mainDir)
    val b = engineState(d)
    assert(b._1 === a._1)
    assert(b._2 === a._2)
    assert(b._3 === a._3)
    assert(b._4 === a._4)
    assert(b._5 === a._5)
    assert(b._6 === a._6)
  }

  test("politeness budget is respected per host per round") {
    val log = Snapshots.readDeltas(spark, mainDir, Crawler.FetchLogTable).get
    val perHostRound = log.groupBy($"round", $"host").count()
      .as[(Int, String, Long)].collect()
    perHostRound.foreach { case (r, h, n) =>
      // strict budget: the per-host cap is hard (reference's 25 req/min,
      // AdobePDFExtractAPI.md:37) — bucket budgets sum exactly to it
      assert(n <= cfg.budgetPerHost.toLong,
        s"round $r host $h fetched $n > budget")
    }
  }

  test("robots gate: engine matches oracle; denied URLs never fetched") {
    val rcfg = cfg.copy(robots = Seq(
      RobotsRule(Synth.courtHost(0), "/pdf/"),   // block court-0 dominant-host pdfs
      RobotsRule(Synth.courtHost(1), "/view")))  // block court-1 docpages
    val d = newWorkDir("robots")
    val reports = Crawler.run(spark, rcfg, synthCfg, d, maxRounds = 64)
    assert(reports.map(_.robots_denied).sum > 0, "robots rules must actually fire")
    val o = CrawlOracle.run(rcfg, synthCfg, meta)
    val log = Snapshots.readDeltas(spark, d, Crawler.FetchLogTable).get
      .select("round", "host", "salt", "fetchSeq", "canonical_url", "status", "kind")
      .as[(Int, String, Int, Int, String, String, String)].collect().toSeq.sorted
    val oLog = o.fetchLog
      .map(r => (r.round, r.host, r.salt, r.fetchSeq, r.canonical, r.status, r.kind)).sorted
    assert(log === oLog)
    // no fetched URL may match a disallow rule
    log.foreach { case (_, host, _, _, canonical, _, _) =>
      assert(!CrawlOracle.deniedStr(canonical, host, rcfg.robots),
        s"robots-denied URL fetched: $canonical")
    }
  }

  test("maxDepth budget: depth-limited crawl matches oracle; no pdfs at depth 2") {
    val dcfg = cfg.copy(maxDepth = 1)
    val d = newWorkDir("depth")
    Crawler.run(spark, dcfg, synthCfg, d, maxRounds = 64)
    val o = CrawlOracle.run(dcfg, synthCfg, meta)
    val seen = Snapshots.readDeltas(spark, d, Crawler.SeenTable).get
      .select("canonical_url").as[String].collect().toSet
    assert(seen === o.seen)
    val kinds = Snapshots.readDeltas(spark, d, Crawler.FetchLogTable).get
      .select("kind").distinct().as[String].collect().toSet
    assert(!kinds.contains("pdf"), "pdf URLs are depth 2 and must be budget-dropped")
  }

  test("mergedJudgments: reference merge semantics (kept value first, ordered widening)") {
    val merged = Crawler.mergedJudgments(spark, mainDir)
    val got = merged.select($"canonical_url", $"case_numbers")
      .as[(String, Seq[String])].collect().toMap
    val keptByUrl = oracle.judgments.map { case (cn, cu) => cu -> cn }.toMap
    val mergesByUrl = oracle.mergeRequests.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(got.keySet === keptByUrl.keySet)
    got.foreach { case (cu, cases) =>
      assert(cases.head === keptByUrl(cu), s"kept judgment's case must lead for $cu")
      assert(cases.tail.sorted === mergesByUrl.getOrElse(cu, Seq.empty).sorted,
        s"merged case content mismatch for $cu")
    }
  }

  test("mergedJudgments on a store with no judgments table: empty, merged columns") {
    // one round over pdf URLs only: no listing, so no judgment is written
    val d = newWorkDir("pdfonly")
    val pdfs = (0 until 4).map(r => Synth.pdfUrl(synthCfg, 0,
      Synth.fileIdOf(synthCfg, 0, Synth.caseIdOf(synthCfg, 0, 0, 1, r))))
    val frontier = pdfs.toDF("url")
      .withColumn("canonical_url", Urls.canonicalize($"url"))
      .withColumn("url_hash", Urls.urlHash($"canonical_url"))
      .withColumn("host", Urls.host($"url"))
      .select($"url", $"canonical_url", $"url_hash", $"host", lit("c").as("court"),
        lit("q").as("query"), lit(1).as("page"), lit(2).as("depth"),
        monotonically_increasing_id().as("priority"), lit("pending").as("status"),
        lit(0).as("retry_count"), lit(0).as("discovered_round"))
      .as[FrontierEntry]
    val (report, _, _) = Crawler.runRound(spark, cfg, synthCfg, d, 1, frontier)
    assert(report.fetched_ok > 0 && report.new_judgments === 0L)
    assert(Snapshots.readDeltas(spark, d, Crawler.JudgmentsTable).isEmpty)
    val merged = Crawler.mergedJudgments(spark, d)
    assert(merged.count() === 0L)
    assert(merged.columns.toSeq === Crawler.mergedJudgments(spark, mainDir).columns.toSeq)
  }

  test("declared table schemas equal the schemas inferred from a store's files") {
    Crawler.TableSchemas.foreach { case (t, declared) =>
      val inferred = Snapshots.readDeltas(spark, mainDir, t).get.schema
      assert(declared.toDDL === inferred.toDDL, s"table $t")
    }
    assert(Crawler.TableSchemas(Crawler.FrontierTable).fieldNames.toSeq ===
      spark.emptyDataset[FrontierEntry].columns.toSeq :+ "round")
  }

  test("planted duplicates were actually exercised (fixture is non-trivial)") {
    assert(oracle.mergeRequests.nonEmpty || oracle.judgments.size < synthCfg.totalRows,
      "D1 plants missing")
    val fids = oracle.docs.keySet.map(_.split('/')(1).toLong)
    val contentIds = fids.map(f => Synth.contentIdOf(synthCfg, f))
    assert(contentIds.size <= fids.size) // D2/D3 plants collapse contents
  }
}
