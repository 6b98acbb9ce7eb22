package graft

import graft.model.{Doc, Span}
import graft.sources.{Rng, SynthConfig}
import graft.sources.Synth._

/** The synthetic fetch on objects: the oracle for the byte-direct payload
  * writers (`Synth.fetchEncoded` and its `write*Payload` streams). Each
  * function builds the `Discovered`/`Span` objects and Strings of a fetch
  * result the plain way; `PayloadOracle.encode` of its output must equal
  * the streamed payload byte for byte (HashingSpec), and CrawlOracle runs
  * its crawl on it. */
object SynthOracle {

  /** Doc-page href as it appears in a listing — carries a junk ID= param that
    * varies per (page,rank) discovery so canonicalization is load-bearing. */
  def docPageHref(cfg: SynthConfig, c: Int, caseId: Long, junk: Long): String =
    s"https://${courtHost(c)}/view?case=$caseId&ID=${java.lang.Long.toUnsignedString(junk)}"

  def caseNumber(cfg: SynthConfig, c: Int, caseId: Long): String = {
    val n = Rng.bounded(Rng.mix(cfg.seed, 0x11L, caseId), 99999L) + 1
    val yr = 2010 + Rng.bounded(Rng.mix(cfg.seed, 0x12L, caseId), 13L)
    s"${courtName(c)} $n/$yr"
  }

  def titleOf(cfg: SynthConfig, caseId: Long): String = {
    val h = Rng.mix(cfg.seed, 0x717L, caseId)
    words(h, 3 + (Rng.bounded(h, 4L)).toInt).toUpperCase + " VS " +
      words(Rng.mix64(h ^ 0x5AL), 2 + (Rng.bounded(h, 3L)).toInt).toUpperCase
  }

  def dateOf(cfg: SynthConfig, caseId: Long): String = {
    val h = Rng.mix(cfg.seed, 0xDA7EL, caseId)
    val yr = 2010 + Rng.bounded(h, 13L)
    val mo = 1 + Rng.bounded(Rng.mix64(h), 12L)
    val dy = 1 + Rng.bounded(Rng.mix64(h ^ 1), 28L)
    f"$yr%04d-$mo%02d-$dy%02d"
  }

  /** Spans of a document (structure at `Synth.writePdfPayload`). */
  def spansOf(cfg: SynthConfig, contentId: Long): Vector[Span] = {
    val baseId = baseIdOf(cfg, contentId)
    val hw = Rng.mix(cfg.seed, 0x59A1L, baseId)  // words keyed by baseId
    val hn = Rng.mix(cfg.seed, 0x59A2L, contentId) // digits/layout keyed by contentId
    val nParas = 20 + Rng.bounded(hw, 41L).toInt
    val out = Vector.newBuilder[Span]
    var off = 0
    def add(kind: String, text: String, media: String): Unit = {
      out += Span(kind, text, media, off); off += 1
    }
    add("heading", s"IN THE HIGH COURT OF ${words(hw ^ 0x1, 2).toUpperCase}", null)
    var p = 0
    var himg = hn
    while (p < nParas) {
      val hp = Rng.mix64(hw ^ (0x100L + p))
      val nSpansInPara = 1 + Rng.bounded(hp, 3L).toInt
      val serial = Rng.bounded(Rng.mix64(hn ^ p), 9000L) + 100 // contentId-dependent digits
      add("text", s"${p + 1}. " + words(hp ^ 0x2, 18 + Rng.bounded(hp, 20L).toInt) +
        s" vide order no $serial", null)
      var s = 1
      while (s < nSpansInPara) {
        add("text", words(Rng.mix64(hp ^ (0x200L + s)), 12 + Rng.bounded(hp ^ s, 14L).toInt), null)
        s += 1
      }
      // ~1/4 of paragraphs followed by an image, ~1/5 by a table-structure span
      himg = Rng.mix64(himg)
      if (Rng.bounded(himg, 4L) == 0L)
        add("image", null, s"fig_${contentId}_$p")
      if (Rng.bounded(Rng.mix64(himg ^ 0x7L), 5L) == 0L)
        add("table", null, null)
      p += 1
    }
    out.result()
  }

  final case class FetchOut(
      status: String, // ok | fail
      kind: String,   // listing | docpage | pdf | unknown
      discovered: Seq[Discovered],
      doc: Option[Doc],
      bytes: Long,
      latencyMicros: Long)

  /** The simulator on objects: pure function (cfg, url, attempt) → result. */
  def fetch(cfg: SynthConfig, url: String, attempt: Int): FetchOut = {
    val lat = 200 + Rng.bounded(Rng.mixStr(cfg.seed ^ 0x1A7L, url), 1800L) // 0.2-2ms simulated
    if (failsAt(cfg, url, attempt))
      return FetchOut("fail", "unknown", Nil, None, 0L, lat)
    parseUrl(url) match {
      case ListingUrl(c, q, page) if c >= 0 && c < cfg.courts && page >= 1 && page <= cfg.pagesPerQuery =>
        val query = queryOf(cfg, q)
        val rows = (0 until cfg.rowsPerPage).map { rank =>
          val caseId = caseIdOf(cfg, c, q, page, rank)
          val junk = Rng.mix(cfg.seed, 0x1DL, rowIndex(cfg, c, q, page, rank)) // per-discovery junk
          Discovered(docPageHref(cfg, c, caseId, junk), courtName(c), query, page, 1,
            priorityOf(c, q, page, rank, 1),
            caseNumber(cfg, c, caseId), titleOf(cfg, caseId), dateOf(cfg, caseId), rank)
        }
        val next =
          if (page < cfg.pagesPerQuery)
            Seq(Discovered(listingUrl(c, q, page + 1), courtName(c), query, page + 1, 0,
              priorityOf(c, q, page + 1, 0, 0), null, null, null, -1))
          else Nil
        FetchOut("ok", "listing", rows ++ next, None, 4096L + rows.size * 512L, lat)
      case DocPageUrl(c, caseId) =>
        val fid = fileIdOf(cfg, c, caseId)
        // priority -1: inherit from the parent (see Synth.writeDocpagePayload)
        val d = Discovered(pdfUrl(cfg, c, fid), courtName(c), null, -1, 2,
          -1L, null, null, null, -1)
        FetchOut("ok", "docpage", Seq(d), None, 2048L, lat)
      case PdfUrl(c, fid) =>
        val spans = spansOf(cfg, contentIdOf(cfg, fid))
        val bytes = spans.map(s => if (s.text == null) 256L else s.text.length.toLong).sum
        FetchOut("ok", "pdf", Nil, Some(Doc(docIdOf(c, fid), spans)), bytes, lat)
      case _ => FetchOut("fail", "unknown", Nil, None, 0L, lat)
    }
  }
}
