package graft

import graft.model._
import graft.sources.{Synth, SynthConfig}

import scala.collection.mutable

/** A sequential, single-threaded, in-memory re-implementation of the crawl
  * semantics (D1 + politeness + retries + judgment routing + D2/D3 + W1),
  * used as the correctness oracle for the distributed engine — the analog of
  * the reference's golden pytest fixtures (SURVEY.md §5 item 3).
  *
  * Hashes/canonical forms are injected (computed once with the engine's own
  * column functions) so the oracle checks *scheduling and dedup logic*, not
  * the hash function.
  */
object CrawlOracle {

  final case class UrlMeta(canonical: String, host: String, hash: Long)

  final case class OEntry(
      url: String, canonical: String, hash: Long, host: String,
      court: String, query: String, page: Int, depth: Int,
      priority: Long, retry: Int)

  final case class FetchLogRow(round: Int, host: String, salt: Int, fetchSeq: Int,
      canonical: String, status: String, kind: String)

  final case class Result(
      fetchLog: Seq[FetchLogRow],
      seen: Set[String],                    // canonical urls fetched ok
      docs: Map[String, Seq[Span]],         // doc_id -> spans (post D2/D3)
      judgments: Set[(String, String)],     // (case_number, canonical_url) kept
      mergeRequests: Seq[(String, String)], // (case_number, canonical_url)
      paragraphs: Int)                      // filtered paragraph count

  /** Typed mirror of `Robots.denied`: true when (host, url path) matches a
    * disallow rule. Empty rules → never denied. */
  def deniedStr(url: String, host: String, rules: Seq[RobotsRule]): Boolean = {
    if (rules.isEmpty) return false
    val noFrag = url.takeWhile(_ != '#')
    val schemeEnd = noFrag.indexOf("://")
    val hostStart = if (schemeEnd < 0) 0 else schemeEnd + 3
    val pathStart = noFrag.indexOf('/', hostStart)
    val path =
      if (pathStart < 0) ""
      else noFrag.substring(pathStart).takeWhile(c => c != '?' && c != '#')
    rules.exists(r => host == r.host && path.startsWith(r.path_prefix))
  }

  // pure-Scala mirrors of the engine's renderings (Segregate.render*)
  def renderPlain(spans: Seq[Span]): String =
    spans.sortBy(_.offset).filter(s => s.kind == "text" || s.kind == "heading")
      .map(_.text).mkString("\n\n")
  def renderNoDigits(spans: Seq[Span]): String =
    renderPlain(spans).replaceAll("(?U)\\p{N}+", "")
  def renderMarked(spans: Seq[Span]): String =
    spans.sortBy(_.offset).filter(s => s.kind == "text" || s.kind == "heading")
      .map { s =>
        if (s.kind == "heading") "[Heading]\n" + s.text
        else if (graft.operators.Segregate.StarterRegex.r.findFirstIn(s.text).isDefined)
          "[Paragraph]\n" + s.text
        else s.text
      }.mkString("\n\n")
  def rendering(name: String, spans: Seq[Span]): String = name match {
    case "plain" => renderPlain(spans)
    case "nodigits" => renderNoDigits(spans)
    case "marked" => renderMarked(spans)
  }

  def run(
      cfg: CrawlConfig,
      synthCfg: SynthConfig,
      meta: Map[String, UrlMeta],
      maxRounds: Int = 64): Result = {

    def metaOf(u: String): UrlMeta =
      meta.getOrElse(u, throw new IllegalStateException(s"unenumerated url $u"))

    var frontier: Vector[OEntry] = Synth.seedEntries(synthCfg).toVector.map { e =>
      val m = metaOf(e.url)
      OEntry(e.url, m.canonical, m.hash, m.host, e.court, e.query, e.page, e.depth,
        e.priority, 0)
    }

    val seen = mutable.Set.empty[String] // canonical
    val fetchLog = Vector.newBuilder[FetchLogRow]
    val caseSeen = mutable.Set.empty[String]
    val judgUrlSeen = mutable.Set.empty[String]
    val judgments = mutable.Set.empty[(String, String)]
    val merges = Vector.newBuilder[(String, String)]
    val contentSeen = mutable.Set.empty[String]               // full render-plain == content identity proxy? NO — see below
    val contentKeySeen = mutable.Set.empty[Seq[Span]]         // D2: exact span-seq identity
    val renderSeen = mutable.Map.empty[String, mutable.Set[String]] // D3 per rendering
    val docs = mutable.LinkedHashMap.empty[String, Seq[Span]]
    var paragraphs = 0

    var round = 1
    while (frontier.nonEmpty && round <= maxRounds) {
      // The engine's host counts (salting input) see the per-copy
      // non-dropped MULTISET — D1/robots flags are computed per copy of the
      // raw frontier, and keep-first now happens later, inside the
      // politeness buckets (post-salting)
      val hostCounts = frontier.filter(e => !seen.contains(e.canonical) &&
          !deniedStr(e.url, e.host, cfg.robots))
        .groupBy(_.host).view.mapValues(_.size).toMap
      // keep-first per canonical by (priority, url) over ALL copies (flagged
      // ones included — the engine's bucket-local scan dedups before looking
      // at drop reasons), then the SURVIVOR's flags decide routing
      val pending = frontier.groupBy(_.canonical).values
        .map(_.minBy(e => (e.priority, e.url))).toVector
      val novel = pending.filter(e => !seen.contains(e.canonical) &&
        !deniedStr(e.url, e.host, cfg.robots))
      def saltFactor(h: String): Int =
        math.min(cfg.saltMax, math.max(1, math.max(
          math.ceil(hostCounts(h).toDouble / cfg.budgetPerHost).toInt,
          math.ceil(hostCounts(h).toDouble / cfg.maxBucketRows).toInt)))
      // strict split: Σ bucket budgets == budgetPerHost exactly (buckets
      // below the remainder get one extra slot; with base 0, buckets past
      // the remainder defer everything) — mirrors Politeness.scheduleFlagged
      def bucketBudget(h: String, salt: Int): Int = {
        val sf = saltFactor(h)
        val base = cfg.budgetPerHost / sf
        base + (if (salt < cfg.budgetPerHost - base * sf) 1 else 0)
      }
      def saltOf(e: OEntry): Int = java.lang.Math.floorMod(e.hash, saltFactor(e.host).toLong).toInt

      val byBucket = novel.groupBy(e => (e.host, saltOf(e)))
      val scheduled = Vector.newBuilder[(OEntry, Int, Int)] // entry, salt, seq
      val deferred = Vector.newBuilder[OEntry]
      byBucket.foreach { case ((_, salt), es) =>
        val sorted = es.sortBy(e => (e.priority, e.canonical))
        val b = bucketBudget(es.head.host, salt)
        sorted.take(b).zipWithIndex.foreach { case (e, i) => scheduled += ((e, salt, i)) }
        sorted.drop(b).foreach(deferred += _)
      }

      // fetch (pure simulator) — per-round batch state mirrors the engine
      val retries = Vector.newBuilder[OEntry]
      val roundDiscovered = Vector.newBuilder[OEntry]
      val roundJudgRaw = Vector.newBuilder[(OEntry, Synth.Discovered)]
      val roundDocs = Vector.newBuilder[(Long, String, Seq[Span])] // priority, doc_id, spans

      scheduled.result().foreach { case (e, salt, seq) =>
        val out = Synth.fetch(synthCfg, e.url, e.retry)
        fetchLog += FetchLogRow(round, e.host, salt, seq, e.canonical, out.status, out.kind)
        if (out.status != "ok") {
          if (e.retry + 1 < cfg.maxRetries) retries += e.copy(retry = e.retry + 1)
        } else {
          seen += e.canonical
          out.doc.foreach(d => roundDocs += ((e.priority, d.doc_id, d.spans)))
          out.discovered.foreach { d =>
            val priority = if (d.priority == -1L) (e.priority & ~0xFFL) + d.depth else d.priority
            val court = if (d.court == null) e.court else d.court
            val query = if (d.query == null) e.query else d.query
            val page = if (d.page == -1) e.page else d.page
            if (d.caseNumber != null) {
              roundJudgRaw += ((e.copy(priority = priority, court = court, query = query, page = page), d))
            } else {
              val m = metaOf(d.url)
              roundDiscovered += OEntry(d.url, m.canonical, m.hash, m.host, court, query,
                page, d.depth, priority, 0)
            }
          }
        }
      }

      // judgment D1 routing (mirrors Crawler.runRound exactly)
      val jr = roundJudgRaw.result().map { case (pe, d) =>
        val m = metaOf(d.url)
        (d.caseNumber, m, d, pe)
      }
      val caseFirst = jr.groupBy(_._1).values
        .map(_.minBy { case (_, m, d, pe) => (d.priority, m.canonical) }).toVector
      val caseNovel = caseFirst.filter { case (cn, _, _, _) => !caseSeen.contains(cn) }
      val byUrl = caseNovel.groupBy(_._2.canonical)
      val kept = Vector.newBuilder[(String, UrlMeta, Synth.Discovered, OEntry)]
      byUrl.foreach { case (canon, group) =>
        val sorted = group.sortBy { case (cn, _, d, _) => (d.priority, cn) }
        val first = sorted.head
        sorted.tail.foreach { case (cn, m, _, _) => merges += ((cn, m.canonical)) }
        if (judgUrlSeen.contains(canon)) merges += ((first._1, canon))
        else kept += first
      }
      kept.result().foreach { case (cn, m, d, pe) =>
        caseSeen += cn
        judgUrlSeen += m.canonical
        judgments += ((cn, m.canonical))
        roundDiscovered += OEntry(d.url, m.canonical, m.hash, m.host,
          pe.court, pe.query, pe.page, 1, d.priority, 0)
      }
      // NOTE: the engine adds ONLY case-novel kept judgments to caseSeen via
      // the judgments table; dropped cases stay unknown — mirror that by not
      // touching caseSeen for drops.

      // docs: D2 then D3, keep-first by (priority, doc_id)
      val d2kept = roundDocs.result()
        .groupBy { case (_, _, spans) => spans }
        .values.map(_.minBy { case (p, id, _) => (p, id) })
        .filter { case (_, _, spans) => !contentKeySeen.contains(spans) }
        .toVector.sortBy { case (p, id, _) => (p, id) }
      var survivors = d2kept
      graft.operators.Segregate.RenderingNames.foreach { r =>
        val rs = renderSeen.getOrElseUpdate(r, mutable.Set.empty[String])
        survivors = survivors
          .groupBy { case (_, _, spans) => rendering(r, spans) }
          .values.map(_.minBy { case (p, id, _) => (p, id) })
          .filter { case (_, _, spans) => !rs.contains(rendering(r, spans)) }
          .toVector.sortBy { case (p, id, _) => (p, id) }
      }
      survivors.foreach { case (_, id, spans) =>
        contentKeySeen += spans
        graft.operators.Segregate.RenderingNames.foreach(r =>
          renderSeen(r) += rendering(r, spans))
        docs += (id -> spans)
        paragraphs += PayloadOracle.segregateDoc(id, "plain", spans)
          .count(p => PayloadOracle.sentKeepRegex(p.content))
      }

      // next frontier: deferred + retries + keep-first new discoveries
      // (L2: discoveries past maxDepth never enter the frontier)
      val newFirst = roundDiscovered.result()
        .filter(_.depth <= cfg.maxDepth)
        .groupBy(_.canonical).values
        .map(_.minBy(e => (e.priority, e.url))).toVector
      frontier = deferred.result() ++ retries.result() ++ newFirst
      round += 1
    }

    Result(fetchLog.result(), seen.toSet, docs.toMap, judgments.toSet,
      merges.result(), paragraphs)
  }
}
