package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import graft.model._

/** Deterministic synthetic crawl universe (zero egress — no wall clock, no
  * external randomness). Everything is a pure function of a 64-bit mix of the
  * global seed and the entity's key, so any URL's fetch result is computable
  * inside any task without coordination, and the 10^10-URL frontier shape is
  * never materialized — URLs are generated on demand.
  *
  * The universe mirrors the reference's crawl graph
  * (`/root/reference/src/pipeline/search_and_scrape.py:138-317`):
  *   listing page (court,query,page) → judgment rows with intermediate doc-page
  *   hrefs (carrying a junk `ID=` session param, cf. `preprocess.py:34-48`) →
  *   doc page resolves to the real PDF URL
  *   (`src/retrievers/delhi_high_court.py:64-77`) → PDF fetch yields the
  *   interleaved span stream (`src/segregators/adobe_json.py:26-61` shape).
  *
  * Planted duplicates at all three reference dedup levels:
  *   D1: case-number space < row space → repeated case numbers across pages;
  *       href space < case space → same canonical URL under different cases.
  *   D2: content space < file space → distinct PDFs with identical bytes.
  *   D3: base-text space < content space → contents that collide only under
  *       the digit-stripping rendering.
  */
object Rng {
  // 64-bit avalanche mix (splitmix64 finalizer — public-domain constant set).
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def mix(seed: Long, ks: Long*): Long = ks.foldLeft(mix64(seed))((a, k) => mix64(a ^ k))
  def mixStr(seed: Long, s: String): Long = {
    var h = mix64(seed)
    var i = 0
    while (i < s.length) { h = mix64(h ^ s.charAt(i).toLong); i += 1 }
    h
  }
  /** Uniform in [0, n) from a mixed value. */
  def bounded(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)
}

final case class SynthConfig(
    seed: Long = 42L,
    courts: Int = 2,
    queriesPerCourt: Int = 4,
    pagesPerQuery: Int = 8,
    rowsPerPage: Int = 12,
    /** fraction of rows whose case number repeats an earlier one (D1-case) */
    caseDupRate: Double = 0.10,
    /** fraction of cases sharing a doc href with another case (D1-url → merge) */
    urlDupRate: Double = 0.06,
    /** fraction of files sharing identical content (D2) */
    contentDupRate: Double = 0.08,
    /** fraction of contents colliding under the digit-stripping rendering (D3) */
    renderDupRate: Double = 0.08,
    /** transient fetch failure rate per attempt (retried next round, C3) */
    failRate: Double = 0.03,
    mirrorHosts: Int = 16
) {
  val totalRows: Long = courts.toLong * queriesPerCourt * pagesPerQuery * rowsPerPage
  val caseSpace: Long = math.max(1L, (totalRows * (1.0 - caseDupRate)).toLong)
  val fileSpace: Long = math.max(1L, (caseSpace * (1.0 - urlDupRate)).toLong)
  val contentSpace: Long = math.max(1L, (fileSpace * (1.0 - contentDupRate)).toLong)
  val baseSpace: Long = math.max(1L, (contentSpace * (1.0 - renderDupRate)).toLong)
}

/** Synthetic URL space + page/content generators + the fetch simulator. */
object Synth {

  val QueriesPool: Vector[String] = Vector(
    "trade marks", "copyright", "patent", "arbitration",
    "income tax", "land acquisition", "service matter", "bail")

  private val Vocab: Array[String] =
    ("the court held that petitioner respondent order dated learned counsel " +
      "submitted judgment appeal section act provisions matter present case " +
      "application filed record perusal aforesaid view facts circumstances " +
      "accordingly disposed directions issued notice reply written statement " +
      "evidence witness examined cross document exhibit marked trial suit " +
      "decree plaintiff defendant injunction restrained mark trade business " +
      "goods services registration infringement passing off damages rendition " +
      "accounts delivery costs interest pendente lite satisfied prima facie " +
      "balance convenience irreparable loss grant refuse vacate confirm modify").split(' ')

  def courtName(c: Int): String = if (c == 0) "DHC" else s"SC$c"
  def courtHost(c: Int): String = s"courts-${courtName(c).toLowerCase}.example.org"

  def queryOf(cfg: SynthConfig, q: Int): String = QueriesPool(q % QueriesPool.length)

  // ---- URL construction / parsing (string ops only — hot path) ----

  def listingUrl(c: Int, q: Int, page: Int): String =
    s"https://${courtHost(c)}/search?query=${queryOf(null, q).replace(' ', '+')}&qid=$q&page=$page"

  def pdfUrl(cfg: SynthConfig, c: Int, fileId: Long): String = {
    // ~1/8 of PDFs live on a rare mirror host (Zipf tail); the rest share the
    // court's single dominant host — the skew the salted partitioner must absorb.
    val h = Rng.mix(cfg.seed, 0xF11EL, c.toLong, fileId)
    val host =
      if (Rng.bounded(h, 8) == 0L) s"mirror-${Rng.bounded(Rng.mix64(h), cfg.mirrorHosts.toLong)}.example.org"
      else courtHost(c)
    s"https://$host/pdf/$fileId.pdf"
  }

  sealed trait ParsedUrl
  final case class ListingUrl(court: Int, qid: Int, page: Int) extends ParsedUrl
  final case class DocPageUrl(court: Int, caseId: Long) extends ParsedUrl
  final case class PdfUrl(court: Int, fileId: Long) extends ParsedUrl
  case object UnknownUrl extends ParsedUrl

  private def param(url: String, name: String): Option[String] = {
    val qi = url.indexOf('?')
    if (qi < 0) None
    else url.substring(qi + 1).split('&').iterator
      .map(_.split("=", 2)).collectFirst { case Array(`name`, v) => v }
  }

  def courtOfHost(url: String): Int = {
    val i = url.indexOf("courts-")
    if (i < 0) -1
    else {
      val rest = url.substring(i + 7, url.indexOf('.', i))
      if (rest == "dhc") 0 else scala.util.Try(rest.stripPrefix("sc").toInt).getOrElse(-1)
    }
  }

  def parseUrl(url: String): ParsedUrl = {
    if (url.contains("/search?")) {
      (param(url, "qid"), param(url, "page")) match {
        case (Some(q), Some(p)) => ListingUrl(courtOfHost(url), q.toInt, p.toInt)
        case _ => UnknownUrl
      }
    } else if (url.contains("/view?")) {
      param(url, "case") match {
        case Some(cc) => DocPageUrl(courtOfHost(url), cc.toLong)
        case None => UnknownUrl
      }
    } else if (url.contains("/pdf/")) {
      val i = url.indexOf("/pdf/") + 5
      val j = url.indexOf(".pdf", i)
      if (j < 0) UnknownUrl
      else {
        // mirror-hosted PDFs: recover court from fileId mapping (court is not
        // in the mirror hostname), encoded in the low bit of fileId.
        val fid = url.substring(i, j).toLong
        PdfUrl((fid % 64).toInt, fid) // fileId = rawFile*64 + court-tag; see fileIdOf
      }
    } else UnknownUrl
  }

  // ---- Entity derivations (the planted-duplicate arithmetic) ----

  /** Global row index of (court, query, page, rank). */
  def rowIndex(cfg: SynthConfig, c: Int, q: Int, page: Int, rank: Int): Long =
    ((c.toLong * cfg.queriesPerCourt + q) * cfg.pagesPerQuery + (page - 1)) * cfg.rowsPerPage + rank

  /** Case id for a listing row — collides at rate caseDupRate. */
  def caseIdOf(cfg: SynthConfig, c: Int, q: Int, page: Int, rank: Int): Long = {
    val ri = rowIndex(cfg, c, q, page, rank)
    val h = Rng.mix(cfg.seed, 0xCA5EL, ri)
    c.toLong * cfg.caseSpace * 2 + Rng.bounded(h, cfg.caseSpace) // court-disjoint case spaces
  }

  /** File id for a case — collides (same canonical URL for different cases is
    * modeled at the docpage level; same *file* for different cases at this
    * level). Low 6 bits tag the court so mirror-hosted PDF URLs stay parseable. */
  def fileIdOf(cfg: SynthConfig, c: Int, caseId: Long): Long = {
    val raw = Rng.bounded(Rng.mix(cfg.seed, 0xF17EL, caseId), cfg.fileSpace)
    raw * 64 + c.toLong
  }

  def contentIdOf(cfg: SynthConfig, fileId: Long): Long =
    Rng.bounded(Rng.mix(cfg.seed, 0xC0DEL, fileId / 64), cfg.contentSpace)

  def baseIdOf(cfg: SynthConfig, contentId: Long): Long =
    Rng.bounded(Rng.mix(cfg.seed, 0xBA5EL, contentId), cfg.baseSpace)

  /** `n` vocabulary words seeded by `h0`, space-separated. */
  private[graft] def words(h0: Long, n: Int): String = {
    val sb = new StringBuilder
    var h = h0
    var i = 0
    while (i < n) {
      h = Rng.mix64(h)
      if (i > 0) sb.append(' ')
      sb.append(Vocab((Rng.bounded(h, Vocab.length.toLong)).toInt))
      i += 1
    }
    sb.toString
  }

  def docIdOf(c: Int, fileId: Long): String = s"${courtName(c)}/$fileId"

  /** S3: deterministic Supreme-Court by-date rows with the reference's nested
    * shape — petitioner/respondent structs, bench array, planted case_number
    * duplicates (~30% collision space) so D1 case dedup is exercised
    * (`/root/reference/src/retrievers/supreme_court.py:128-142`). */
  def scJudgments(cfg: SynthConfig, n: Int): Seq[graft.model.ScJudgment] =
    (0 until n).map { i =>
      val h = Rng.mix(cfg.seed, 0x5CAFEL, i.toLong)
      graft.model.ScJudgment(
        diary_number = s"D-${10000 + i}",
        case_number = s"SC/${Rng.bounded(h ^ 0x1, math.max(1L, n * 7L / 10))}/2022",
        by = "HON. " + words(h ^ 0x2, 2).toUpperCase,
        bench = (0 to Rng.bounded(h ^ 0x3, 3L).toInt)
          .map(j => "J. " + words(Rng.mix64(h ^ (0x10L + j)), 1).toUpperCase),
        petitioner = graft.model.Party(words(h ^ 0x4, 2), "Adv. " + words(h ^ 0x5, 1)),
        respondent = graft.model.Party(words(h ^ 0x6, 2), "Adv. " + words(h ^ 0x7, 1)),
        document_href = s"https://sc.example.org/judgment/${Rng.bounded(h ^ 0x8, n.toLong)}.pdf")
    }

  // ---- Fetch simulation ----

  final case class Discovered(
      url: String, court: String, query: String, page: Int, depth: Int,
      priority: Long, // total crawl order: court,query,page,rank packed
      caseNumber: String, title: String, date: String, rank: Int)

  def priorityOf(c: Int, q: Int, page: Int, rank: Int, depth: Int): Long =
    (c.toLong << 56) | (q.toLong << 44) | (page.toLong << 24) | (rank.toLong << 8) | depth.toLong

  /** Transient failure: deterministic in (url, attempt); always succeeds by
    * attempt 2 so maxRetries=3 (reference `adobe.py:111-138`) converges. */
  def failsAt(cfg: SynthConfig, url: String, attempt: Int): Boolean =
    attempt < 2 && Rng.bounded(Rng.mixStr(cfg.seed ^ 0xFA11L, url) ^ attempt.toLong, 1000L) < (cfg.failRate * 1000).toLong

  // ---- Byte-direct fetch: the one payload generator ----
  //
  // Every payload is streamed straight into a per-thread Wire.PayloadWriter,
  // with no Span/Discovered objects or String text in between. JFR
  // attribution of the 615k-doc mega wave put ~45 GB (of 270 GB total) of
  // allocation in the former object generator's StringBuilder growth +
  // toString + UTF-8 encode chain — pure young-GC tax at exactly the
  // 32-thread level the scaling gate measures. The object-path generator
  // (`SynthOracle.fetch`/`spansOf` + `PayloadOracle.encode`, in src/test) is
  // the oracle: HashingSpec pins byte equality over every URL kind (pdf,
  // listing, docpage, failure, out-of-range).

  private val VocabBytes: Array[Array[Byte]] = Vocab.map(_.getBytes(UTF_8))
  private val VocabUpperBytes: Array[Array[Byte]] = Vocab.map(_.toUpperCase.getBytes(UTF_8))
  private val KindHeadingB = "heading".getBytes(UTF_8)
  private val KindTextB = "text".getBytes(UTF_8)
  private val KindImageB = "image".getBytes(UTF_8)
  private val KindTableB = "table".getBytes(UTF_8)
  private val HeadingPrefixB = "IN THE HIGH COURT OF ".getBytes(UTF_8)
  private val DotSpaceB = ". ".getBytes(UTF_8)
  private val VideOrderB = " vide order no ".getBytes(UTF_8)
  private val FigB = "fig_".getBytes(UTF_8)
  private val HttpsB = "https://".getBytes(UTF_8)
  private val ViewCaseB = "/view?case=".getBytes(UTF_8)
  private val AmpIdB = "&ID=".getBytes(UTF_8)
  private val SearchQueryB = "/search?query=".getBytes(UTF_8)
  private val AmpQidB = "&qid=".getBytes(UTF_8)
  private val AmpPageB = "&page=".getBytes(UTF_8)
  private val VsB = " VS ".getBytes(UTF_8)
  private val SlashB = "/".getBytes(UTF_8)
  private val PdfPathB = "/pdf/".getBytes(UTF_8)
  private val DotPdfB = ".pdf".getBytes(UTF_8)
  private val MirrorB = "mirror-".getBytes(UTF_8)
  private val ExampleOrgB = ".example.org".getBytes(UTF_8)
  private val QueriesPoolB: Array[Array[Byte]] = QueriesPool.map(_.getBytes(UTF_8)).toArray
  private val QueriesPoolPlusB: Array[Array[Byte]] =
    QueriesPool.map(_.replace(' ', '+').getBytes(UTF_8)).toArray

  /** Byte twin of [[words]] (Vocab is pure ASCII, so `toUpperCase` and UTF-8
    * length are per-word precomputable). */
  private def writeWords(w: Wire.PayloadWriter, h0: Long, n: Int, upper: Boolean): Unit = {
    val vs = if (upper) VocabUpperBytes else VocabBytes
    var h = h0
    var i = 0
    while (i < n) {
      h = Rng.mix64(h)
      if (i > 0) w.putByte(' '.toByte)
      w.putRaw(vs(Rng.bounded(h, Vocab.length.toLong).toInt))
      i += 1
    }
  }

  /** Streams the pdf payload of doc `docId` (no discoveries, one doc) into
    * `w` without materializing spans; returns the simulated download size
    * (Σ text length, 256 per null-text span).
    *
    * The span structure mirrors the Adobe element stream observed in the
    * reference's `dumps/structuredData.json` (252 Text / 26 Image / 60
    * table-structure elements over 338): a heading, then numbered
    * paragraphs of 1-3 text spans, with occasional image and table spans
    * interleaved. The paragraph count mirrors the reference's published
    * stats (avg 41, max 248 paras/judgment — /root/reference/README.md:
    * 131-133): 20-60. The digits in the text derive from contentId while
    * the words derive from baseId — so the digit-stripping rendering
    * collides contents that share a baseId (the D3 plant). Byte-equal to
    * `PayloadOracle.encode(Nil, Some(Doc(docId, SynthOracle.spansOf(cfg,
    * contentId))))` (HashingSpec). */
  private[sources] def writePdfPayload(
      w: Wire.PayloadWriter, cfg: SynthConfig, contentId: Long, docId: String): Long = {
    val baseId = baseIdOf(cfg, contentId)
    val hw = Rng.mix(cfg.seed, 0x59A1L, baseId)
    val hn = Rng.mix(cfg.seed, 0x59A2L, contentId)
    val nParas = 20 + Rng.bounded(hw, 41L).toInt
    w.putByte(Wire.Version)
    w.putInt(0)  // no discoveries
    w.putByte(1) // doc present
    w.putStr(docId)
    val countAt = w.reserveInt()
    var off = 0
    var bytes = 0L

    @inline def beginText(kind: Array[Byte]): Int = { w.putStrBytes(kind); w.reserveInt() }
    @inline def endText(lenAt: Int, bodyStart: Int): Unit = {
      val len = w.pos - bodyStart
      w.patchInt(lenAt, len)
      bytes += len
      w.putNullStr() // media_ref
      w.putInt(off); off += 1
    }

    var lenAt = beginText(KindHeadingB); var q0 = w.pos
    w.putRaw(HeadingPrefixB); writeWords(w, hw ^ 0x1, 2, upper = true)
    endText(lenAt, q0)

    var p = 0
    var himg = hn
    while (p < nParas) {
      val hp = Rng.mix64(hw ^ (0x100L + p))
      val nSpansInPara = 1 + Rng.bounded(hp, 3L).toInt
      val serial = Rng.bounded(Rng.mix64(hn ^ p), 9000L) + 100
      lenAt = beginText(KindTextB); q0 = w.pos
      w.putDigits(p + 1L); w.putRaw(DotSpaceB)
      writeWords(w, hp ^ 0x2, 18 + Rng.bounded(hp, 20L).toInt, upper = false)
      w.putRaw(VideOrderB); w.putDigits(serial)
      endText(lenAt, q0)
      var s = 1
      while (s < nSpansInPara) {
        lenAt = beginText(KindTextB); q0 = w.pos
        writeWords(w, Rng.mix64(hp ^ (0x200L + s)), 12 + Rng.bounded(hp ^ s, 14L).toInt, upper = false)
        endText(lenAt, q0)
        s += 1
      }
      himg = Rng.mix64(himg)
      if (Rng.bounded(himg, 4L) == 0L) {
        w.putStrBytes(KindImageB); w.putNullStr() // text null
        val mAt = w.reserveInt(); val m0 = w.pos
        w.putRaw(FigB); w.putDigits(contentId); w.putByte('_'.toByte); w.putDigits(p.toLong)
        w.patchInt(mAt, w.pos - m0)
        w.putInt(off); off += 1
        bytes += 256L
      }
      if (Rng.bounded(Rng.mix64(himg ^ 0x7L), 5L) == 0L) {
        w.putStrBytes(KindTableB); w.putNullStr(); w.putNullStr()
        w.putInt(off); off += 1
        bytes += 256L
      }
      p += 1
    }
    w.patchInt(countAt, off)
    bytes
  }

  /** Streams a listing page's payload — one Discovered block per case row
    * plus the next-page link, no doc — without materializing
    * Discovered/String objects; byte-equal to the listing branch of
    * `SynthOracle.fetch` (HashingSpec). The listing wave is
    * round 1 of every crawl (and the whole of it at high court/query
    * fan-out): its per-discovery URL/title/caseNumber string concat chain
    * profiled as the round-1 GC wall (279 s of GC in one 32-task stage,
    * stage listener round 4). */
  private[sources] def writeListingPayload(
      w: Wire.PayloadWriter, cfg: SynthConfig, c: Int, q: Int, page: Int): Unit = {
    val hostB = courtHost(c).getBytes(UTF_8)
    val courtB = courtName(c).getBytes(UTF_8)
    val qi = q % QueriesPool.length
    val hasNext = page < cfg.pagesPerQuery
    w.putByte(Wire.Version)
    w.putInt(cfg.rowsPerPage + (if (hasNext) 1 else 0))
    var rank = 0
    while (rank < cfg.rowsPerPage) {
      val caseId = caseIdOf(cfg, c, q, page, rank)
      val junk = Rng.mix(cfg.seed, 0x1DL, rowIndex(cfg, c, q, page, rank))
      // url: the doc-page href, whose junk ID= param varies per discovery
      // so canonicalization is load-bearing
      var at = w.reserveInt(); var p0 = w.pos
      w.putRaw(HttpsB); w.putRaw(hostB); w.putRaw(ViewCaseB)
      w.putDigits(caseId); w.putRaw(AmpIdB); w.putDigitsUnsigned(junk)
      w.patchInt(at, w.pos - p0)
      w.putStrBytes(courtB)
      w.putStrBytes(QueriesPoolB(qi))
      w.putInt(page); w.putInt(1)
      val pr = priorityOf(c, q, page, rank, 1)
      w.putInt((pr >>> 32).toInt); w.putInt(pr.toInt)
      // case number: "<court> <n>/<year>"
      at = w.reserveInt(); p0 = w.pos
      w.putRaw(courtB); w.putByte(' '.toByte)
      w.putDigits(Rng.bounded(Rng.mix(cfg.seed, 0x11L, caseId), 99999L) + 1)
      w.putRaw(SlashB)
      w.putDigits(2010 + Rng.bounded(Rng.mix(cfg.seed, 0x12L, caseId), 13L))
      w.patchInt(at, w.pos - p0)
      // title: "<3-6 WORDS> VS <2-4 WORDS>"
      at = w.reserveInt(); p0 = w.pos
      val ht = Rng.mix(cfg.seed, 0x717L, caseId)
      writeWords(w, ht, 3 + Rng.bounded(ht, 4L).toInt, upper = true)
      w.putRaw(VsB)
      writeWords(w, Rng.mix64(ht ^ 0x5AL), 2 + Rng.bounded(ht, 3L).toInt, upper = true)
      w.patchInt(at, w.pos - p0)
      // date: yyyy-mm-dd
      at = w.reserveInt(); p0 = w.pos
      val hd = Rng.mix(cfg.seed, 0xDA7EL, caseId)
      w.putDigits(2010 + Rng.bounded(hd, 13L))
      w.putByte('-'.toByte); w.put2Digits((1 + Rng.bounded(Rng.mix64(hd), 12L)).toInt)
      w.putByte('-'.toByte); w.put2Digits((1 + Rng.bounded(Rng.mix64(hd ^ 1), 28L)).toInt)
      w.patchInt(at, w.pos - p0)
      w.putInt(rank)
      rank += 1
    }
    if (hasNext) {
      // url = listingUrl(c, q, page + 1)
      val at = w.reserveInt(); val p0 = w.pos
      w.putRaw(HttpsB); w.putRaw(hostB); w.putRaw(SearchQueryB)
      w.putRaw(QueriesPoolPlusB(qi)); w.putRaw(AmpQidB); w.putDigits(q.toLong)
      w.putRaw(AmpPageB); w.putDigits((page + 1).toLong)
      w.patchInt(at, w.pos - p0)
      w.putStrBytes(courtB)
      w.putStrBytes(QueriesPoolB(qi))
      w.putInt(page + 1); w.putInt(0)
      val pr = priorityOf(c, q, page + 1, 0, 0)
      w.putInt((pr >>> 32).toInt); w.putInt(pr.toInt)
      w.putNullStr(); w.putNullStr(); w.putNullStr()
      w.putInt(-1)
    }
    w.putByte(0) // no doc
  }

  /** Streams a doc page's payload: its single discovery, the resolved pdf
    * URL. The reference resolves the intermediate page via regex + netloc
    * rewrite (`delhi_high_court.py:64-77`). Priority -1 means "inherit from
    * the parent frontier entry": the crawler replaces it with
    * parent.priority|depth, so crawl order stays the reference's strict
    * court→query→page→row total order. */
  private[sources] def writeDocpagePayload(
      w: Wire.PayloadWriter, cfg: SynthConfig, c: Int, caseId: Long): Unit = {
    val fid = fileIdOf(cfg, c, caseId)
    w.putByte(Wire.Version)
    w.putInt(1)
    // url = pdfUrl(cfg, c, fid)
    val at = w.reserveInt(); val p0 = w.pos
    w.putRaw(HttpsB)
    val h = Rng.mix(cfg.seed, 0xF11EL, c.toLong, fid)
    if (Rng.bounded(h, 8) == 0L) {
      w.putRaw(MirrorB); w.putDigits(Rng.bounded(Rng.mix64(h), cfg.mirrorHosts.toLong))
      w.putRaw(ExampleOrgB)
    } else w.putRaw(courtHost(c).getBytes(UTF_8))
    w.putRaw(PdfPathB); w.putDigits(fid); w.putRaw(DotPdfB)
    w.patchInt(at, w.pos - p0)
    w.putStr(courtName(c))
    w.putNullStr()        // query
    w.putInt(-1); w.putInt(2)
    w.putInt(-1); w.putInt(-1) // priority = -1L (inherit)
    w.putNullStr(); w.putNullStr(); w.putNullStr()
    w.putInt(-1)
    w.putByte(0) // no doc
  }

  /** A fetch result with its payload Wire-encoded — what the fetch hot loop
    * consumes. */
  final case class FetchEnc(status: String, kind: String, docId: String,
      payload: Array[Byte], bytes: Long, latencyMicros: Long)

  private val payloadScratch: ThreadLocal[Wire.PayloadWriter] =
    ThreadLocal.withInitial(() => new Wire.PayloadWriter())

  /** The simulator: pure function (cfg, url, attempt) → result, every
    * payload streamed byte-direct. A URL outside the universe (unparseable,
    * an out-of-range court or listing page) is a fail row with no payload.
    * Identical on every field to the object-path oracle in src/test
    * (`SynthOracle.fetch` + `PayloadOracle.encode`, HashingSpec). */
  def fetchEncoded(cfg: SynthConfig, url: String, attempt: Int): FetchEnc = {
    val lat = 200 + Rng.bounded(Rng.mixStr(cfg.seed ^ 0x1A7L, url), 1800L)
    if (failsAt(cfg, url, attempt)) return FetchEnc("fail", "unknown", null, null, 0L, lat)
    parseUrl(url) match {
      case PdfUrl(c, fid) => pdfFetch(cfg, contentIdOf(cfg, fid), docIdOf(c, fid), lat)
      case ListingUrl(c, q, page) if c >= 0 && c < cfg.courts && page >= 1 && page <= cfg.pagesPerQuery =>
        // zero discoveries (rowsPerPage == 0 on the last page): a NULL
        // payload, as for every fetch with neither discoveries nor a doc,
        // instead of a 6-byte empty block
        if (cfg.rowsPerPage + (if (page < cfg.pagesPerQuery) 1 else 0) == 0)
          FetchEnc("ok", "listing", null, null, 4096L, lat)
        else {
          val w = payloadScratch.get()
          w.reset()
          writeListingPayload(w, cfg, c, q, page)
          FetchEnc("ok", "listing", null, w.result(), 4096L + cfg.rowsPerPage * 512L, lat)
        }
      case DocPageUrl(c, caseId) =>
        val w = payloadScratch.get()
        w.reset()
        writeDocpagePayload(w, cfg, c, caseId)
        FetchEnc("ok", "docpage", null, w.result(), 2048L, lat)
      case _ => FetchEnc("fail", "unknown", null, null, 0L, lat)
    }
  }

  /** The pdf branch of [[fetchEncoded]]: doc `docId` with the spans of
    * `contentId`. */
  private def pdfFetch(cfg: SynthConfig, contentId: Long, docId: String, lat: Long): FetchEnc = {
    val w = payloadScratch.get()
    w.reset()
    val bytes = writePdfPayload(w, cfg, contentId, docId)
    FetchEnc("ok", "pdf", docId, w.result(), bytes, lat)
  }

  /** The payload a pdf fetch returns for doc `docId` with the spans of
    * `contentId` — the query surface's synthetic docs
    * (`SparkEntry.synthDocs`) are these payloads' spans. */
  def pdfPayload(cfg: SynthConfig, contentId: Long, docId: String): Array[Byte] =
    pdfFetch(cfg, contentId, docId, 0L).payload

  // ---- Catalyst-facing fetch row (fetch-as-expression, round 4) ----
  //
  // JFR attribution of the 32-thread mega wave put ~11% of execution samples
  // in UTF8String↔java.lang.String conversion around the old typed fetch
  // chain: Dataset[Sched].filter(typed lambda) deserialized every row for a
  // boolean, mapPartitions deserialized the 13-field entry again, and the
  // typed fetch-row encoder re-serialized all eight entry strings per row.
  // The fetch is stateless per row, so it runs as ONE codegen expression
  // ([[graft.functions.SynthFetchExpr]]) over the sched frame instead, and
  // Politeness.fetchAll flattens its struct into the fetch projection: the
  // entry struct is never decoded, the only String materialized per row is
  // the url (the generator's parse input).
  private val UOk = org.apache.spark.unsafe.types.UTF8String.fromString("ok")
  private val UFail = org.apache.spark.unsafe.types.UTF8String.fromString("fail")
  private val UListing = org.apache.spark.unsafe.types.UTF8String.fromString("listing")
  private val UDocpage = org.apache.spark.unsafe.types.UTF8String.fromString("docpage")
  private val UPdf = org.apache.spark.unsafe.types.UTF8String.fromString("pdf")
  private val UUnknown = org.apache.spark.unsafe.types.UTF8String.fromString("unknown")

  /** Test-only invocation counting: pins fetch-exactly-once-per-scheduled-row
    * (a collapsed projection that inlined the fetch expression per extracted
    * field would silently multiply generator work). Volatile flag keeps the
    * hot path at one predictable branch. */
  @volatile private[graft] var fetchRowCounting: Boolean = false
  private[graft] val fetchRowCount = new java.util.concurrent.atomic.AtomicLong

  /** [[fetchEncoded]] as a Catalyst row — the fetch expression's kernel.
    * Status/kind are interned UTF8Strings (no per-row allocation); the
    * payload is the PayloadWriter's exact-size copy, never the scratch. */
  def fetchRow(cfg: SynthConfig, url: org.apache.spark.unsafe.types.UTF8String,
      attempt: Int, minIntervalMicros: Long): org.apache.spark.sql.catalyst.InternalRow = {
    if (fetchRowCounting) fetchRowCount.incrementAndGet()
    val out = fetchEncoded(cfg, url.toString, attempt)
    val lat =
      if (minIntervalMicros > 0L && out.latencyMicros < minIntervalMicros) minIntervalMicros
      else out.latencyMicros
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      if (out.status == "ok") UOk else UFail,
      out.kind match {
        case "listing" => UListing
        case "docpage" => UDocpage
        case "pdf"     => UPdf
        case _         => UUnknown
      },
      out.bytes, lat,
      if (out.docId == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(out.docId),
      out.payload))
  }

  /** Seed frontier: page-1 listing URL per (court, query). */
  def seedEntries(cfg: SynthConfig): Seq[FrontierEntry] = listingEntries(cfg, 1)

  /** One listing URL per (court, query) at the given page — `url_hash`/
    * canonical fields left for the caller's canonicalize/hash pass, exactly
    * like the crawl seeds (`Crawler.run`). */
  def listingEntries(cfg: SynthConfig, page: Int): Seq[FrontierEntry] =
    for {
      c <- 0 until cfg.courts
      q <- 0 until cfg.queriesPerCourt
    } yield {
      val u = listingUrl(c, q, page)
      FrontierEntry(u, u, 0L, courtHost(c), courtName(c), queryOf(cfg, q), page, 0,
        priorityOf(c, q, page, 0, 0), "pending", 0, 0)
    }
}
