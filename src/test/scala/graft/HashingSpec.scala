package graft

import graft.functions.WireFunctions
import graft.model.{Doc, Span}
import graft.operators.Segregate
import graft.sources.{Synth, SynthConfig, Wire}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming payload kernels (doc hash, paragraph fold, filter) to
  * the typed object-path oracle ([[PayloadOracle]]) and to their Catalyst
  * twins: same hashes, same rendering strings, same filter decisions, for
  * the crawl's fetch payloads and the queries' `spansPayload(spans)`. */
class HashingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("typed renderings equal Column renderings on synth docs") {
    val cfg = SynthConfig()
    val docs = (0L until 30L).map(i => Doc(s"d$i", Synth.spansOf(cfg, i)))
    val byId = docs.toDS.toDF.select(
      $"doc_id",
      Segregate.renderPlain($"spans").as("p"),
      Segregate.renderNoDigits($"spans").as("n"),
      Segregate.renderMarked($"spans").as("m"))
      .as[(String, String, String, String)].collect()
      .map { case (id, p, n, m) => id -> ((p, n, m)) }.toMap
    docs.foreach { d =>
      val (p, n, m) = (byId(d.doc_id)._1, byId(d.doc_id)._2, byId(d.doc_id)._3)
      assert(p === PayloadOracle.renderPlainStr(d.spans), s"plain ${d.doc_id}")
      assert(n === PayloadOracle.renderNoDigitsStr(d.spans), s"nodigits ${d.doc_id}")
      assert(m === PayloadOracle.renderMarkedStr(d.spans), s"marked ${d.doc_id}")
    }
  }

  test("sentKeepBytes equals the Column sentCountFilter") {
    val paras = Seq(
      "One. Two. Three.",
      "Short. Text.",
      ("word " * 31).trim + ".",
      "the a of and to in on for with by",
      "",
      "1. 2. 3!? mixed punctuation here",
      ("content " * 40).trim)
    val df = paras.zipWithIndex.map { case (c, i) => (i, c) }.toDF("id", "content")
    val keptCol = PayloadOracle.sentCountFilter(df).select($"id").as[Int].collect().toSet
    val keptScala = paras.zipWithIndex.collect {
      case (c, i) if { val b = c.getBytes("UTF-8"); Segregate.sentKeepBytes(b, 0, b.length) } => i
    }.toSet
    assert(keptCol === keptScala)
  }

  /** Offset-unsorted docs for the streaming kernels' sorted-copy rerun
    * (Wire.inOffsetOrder): a synth doc with its spans fully reversed, one
    * with its last two spans swapped, and one whose tied offsets must keep
    * their payload order (a stable sort, as the oracle's `sortBy`). The
    * swapped doc is chosen so its first n-2 spans already yield a surviving
    * paragraph: the paragraph fold emits it before it meets the disorder,
    * so its rerun must discard what it emitted. */
  private def unsortedDocs(cfg: SynthConfig): Seq[Doc] = {
    val reversed = Doc("u-rev", Synth.spansOf(cfg, 0L).reverse)
    val swapped = (0L until 200L).iterator.map(Synth.spansOf(cfg, _)).collectFirst {
      case sp if sp.length >= 3 && PayloadOracle.segregateDoc("u", "plain", sp.dropRight(2))
          .exists(p => PayloadOracle.sentKeepRegex(p.content)) =>
        Doc("u-swap", sp.dropRight(2) ++ Seq(sp.last, sp(sp.length - 2)))
    }
    assert(swapped.isDefined, "no synth doc emits a paragraph before its last two spans")
    val tied = Doc("u-tie", Seq(
      Span("text", "3. third starter. One. Two. Three.", null, 2),
      Span("text", "1. first of the tie. One. Two. Three.", null, 0),
      Span("heading", "TIED HEADING", null, 1),
      Span("text", "2. second of the tie. One. Two. Three.", null, 1),
      Span("text", "4. closer", null, 3)))
    Seq(reversed, swapped.get, tied)
  }

  test("Wire.docHashesStreaming equals the oracle docHashes(decodeSpans) bit-for-bit") {
    val cfg = SynthConfig()
    val synthDocs = (0L until 40L).map(i => Doc(s"d$i", Synth.spansOf(cfg, i))) ++ unsortedDocs(cfg)
    // adversarial shapes: unicode (2/3-byte UTF-8), supplementary-plane code
    // points (4-byte → surrogate pairs), unicode numerals/spaces in starter
    // position, null text, null media_ref, empty doc
    val weird = Seq(
      Doc("w0", Seq(Span("text", "ü¶€ 12. düö", null, 0), Span("image", null, "m0", 1))),
      Doc("w1", Seq(Span("text", " ١٢. arabic-indic starter", null, 0))),
      Doc("w2", Seq(Span("text", "𐄇 supplementary 𐄇 pair", null, 0),
        Span("heading", "H𝟙", null, 1), Span("text", "1. after ünïcode", null, 2))),
      Doc("w3", Seq(Span("text", null, null, 0), Span("table", "t", null, 1))),
      Doc("w4", Seq.empty),
      Doc("w5", Seq(Span("heading", null, null, 0), Span("text", " 2 . dotted", null, 1))))
    (synthDocs ++ weird).foreach { d =>
      val payload = Wire.encode(Nil, Some(d))
      val streamed = Wire.docHashesStreaming(7L, "c", payload)
      val objects = PayloadOracle.docHashes(d.doc_id, 7L, "c", PayloadOracle.decodeSpans(payload))
      assert(streamed === objects, s"streaming hash mismatch for ${d.doc_id}")
    }
  }

  test("Wire.paragraphsArrayData equals the oracle fold and regex filter on objects") {
    // Compares CONTENT, not just counts. Regression (round 4): the Catalyst
    // sink wrapped the reusable fold scratch zero-copy (UTF8String.fromBytes
    // aliases the array), so every row read back as the LAST paragraph's
    // bytes once the fold moved on — counts matched, content was garbage.
    val cfg = SynthConfig()
    val synthDocs = (0L until 40L).map(i => Doc(s"d$i", Synth.spansOf(cfg, i))) ++ unsortedDocs(cfg)
    val weird = Seq(
      Doc("w0", Seq(Span("text", "1. ü¶€ starter. Two. Three sentences here.", null, 0),
        Span("text", "continuation text", null, 1), Span("text", "2. next", null, 2))),
      Doc("w1", Seq(Span("text", " ١٢. arabic-indic starter. A. B. C.", null, 0),
        Span("text", "3. close", null, 1))),
      Doc("w2", Seq(Span("text", "𐄇 supplementary", null, 0), Span("heading", "H", null, 1),
        Span("text", "1. after heading. X. Y. Z.", null, 2), Span("text", "2. tail", null, 3))),
      Doc("w3", Seq(Span("text", null, null, 0), Span("table", "t", null, 1))),
      Doc("w4", Seq.empty),
      Doc("w5", Seq(Span("text", "1 . 2. chained ref. Sent. Sent. Sent.", null, 0),
        Span("image", null, "m", 1), Span("text", "9. end", null, 2))),
      // reference-scan adversaries: multi-repetition chain, incomplete
      // trailing repetition (digits with no dot — must roll back), NBSP as
      // \p{Z} inside the chain, supplementary-plane \p{N} (U+10107) in the
      // reference itself
      Doc("w6", Seq(Span("text", "1.2. 3. triple chain. A one. B two. C three.", null, 0))),
      Doc("w7", Seq(Span("text", "12. 34 not a second rep. One. Two. Three.", null, 0))),
      Doc("w8", Seq(Span("text", "5 . nbsp ref. One. Two. Three.", null, 0))),
      Doc("w9", Seq(Span("text", "𐄇. aegean ref. One. Two. Three.", null, 0))))
    (synthDocs ++ weird).foreach { d =>
      val payload = Wire.encode(Nil, Some(d))
      val arr = Wire.paragraphsArrayData(payload, 3, 30)
      assert(arr != null, s"null array for ${d.doc_id}")
      val streamed = (0 until arr.numElements()).map { k =>
        val r = arr.getStruct(k, 4)
        (r.getInt(0), r.getInt(1), r.getUTF8String(2).toString,
          if (r.isNullAt(3)) null else r.getUTF8String(3).toString)
      }
      val objects = PayloadOracle.segregateDoc(d.doc_id, "plain", d.spans)
        .filter(p => PayloadOracle.sentKeepRegex(p.content))
        .map(p => (p.page, p.paragraph_number, p.content, p.reference))
      assert(streamed === objects, s"streaming paragraph mismatch for ${d.doc_id}")
    }
  }

  test("Wire round-trip: encode → decodeDiscovered/decodeDoc is identity") {
    val ds = Seq(
      Synth.Discovered("https://a.example.org/x?y=1", "c", "q", 2, 1, 99L, "CN/1", "Tü", "2022-01-01", 3),
      Synth.Discovered("https://b.example.org/", null, null, -1, 2, -1L, null, null, null, -1))
    val doc = Doc("D/1", Seq(Span("text", "body ünïcode 𐄇", null, 0), Span("image", null, "ref", 1)))
    val p1 = Wire.encode(ds, Some(doc))
    assert(Wire.decodeDiscovered(p1) === ds)
    assert(PayloadOracle.decodeDoc(p1) === Some(doc))
    val p2 = Wire.encode(ds, None)
    assert(Wire.decodeDiscovered(p2) === ds)
    assert(PayloadOracle.decodeDoc(p2) === None)
    assert(Wire.encode(Nil, None) === null)
    assert(Wire.decodeDiscovered(null) === Nil)
    assert(PayloadOracle.decodeDoc(null) === None)
  }

  test("fetchEncoded equals fetch+encode on every URL kind, bit-for-bit") {
    // The crawl hot loop streams pdf payloads byte-direct
    // (Synth.writePdfPayload into a Wire.PayloadWriter); this pins it to the
    // Span/String object path across pdf / listing / docpage / failure URLs,
    // including a failRate config so the fail branch is exercised.
    for (cfg <- Seq(SynthConfig(), SynthConfig(failRate = 0.3, seed = 7L))) {
      val urls =
        (0L until 40L).map(fid => Synth.pdfUrl(cfg, (fid % cfg.courts).toInt, fid * 64 + (fid % cfg.courts))) ++
        // every page: exercises the no-next-page tail and ~64-bit junk IDs
        // (negative longs → the unsigned-digits writer) in the byte-direct
        // listing encoder
        (0 until cfg.courts).flatMap(c => (0 until 2).flatMap(q =>
          (1 to cfg.pagesPerQuery).map(page => Synth.listingUrl(c, q, page)))) ++
        // enough docpages to hit the 1/8 mirror-host branch of the pdf-url writer
        (0 until cfg.courts).flatMap(c => (0 until 12).map(rank =>
          Synth.docPageHref(cfg, c, Synth.caseIdOf(cfg, c, 1, 2, rank), 5L))) ++
        Seq("https://nowhere.example.org/unknown")
      for (url <- urls; attempt <- Seq(0, 1, 2)) {
        val out = Synth.fetch(cfg, url, attempt)
        val enc = Synth.fetchEncoded(cfg, url, attempt)
        assert(enc.status === out.status, url)
        assert(enc.kind === out.kind, url)
        assert(enc.docId === out.doc.map(_.doc_id).orNull, url)
        assert(enc.bytes === out.bytes, url)
        assert(enc.latencyMicros === out.latencyMicros, url)
        val expected = Wire.encode(out.discovered, out.doc)
        assert(java.util.Arrays.equals(enc.payload, expected), s"payload bytes differ for $url attempt $attempt")
      }
    }
  }

  test("synth doc text is BMP-only (q_rendering_dedup oracle contract)") {
    // The q_rendering_dedup DuckDB oracle counts CODE POINTS
    // (length(s.text)) where the engine's sz counts UTF-16 units, and its
    // \p{N} strip covers supplementary-plane numerals where the engine's
    // isNumberChar is BMP-only by design (Dedup.scala). The two agree
    // precisely BECAUSE the synthetic corpus never leaves the BMP — this
    // test pins that generator invariant so a vocab change cannot silently
    // diverge engine and oracle (ADVICE r3).
    val cfg = SynthConfig()
    (0L until 200L).foreach { i =>
      Synth.spansOf(cfg, i).foreach { sp =>
        Seq(sp.text, sp.media_ref).filter(_ != null).foreach { s =>
          assert(s.codePoints().allMatch(cp => cp <= 0xFFFF),
            s"supplementary-plane char in synth doc $i: '$s'")
        }
      }
    }
  }

  test("starterFind scan equals the StarterRegex") {
    val pat = Segregate.StarterRegex.r.pattern
    val cases = Seq(
      "1. para", " 12 . x", " 1.", "a 1. b", ". dot first", "", " ",
      "١٢. arabic", "Ⅻ. roman numeral", "①. circled", "12",
      "12.", "  .", "1 2.", "𐄇. aegean number", " 1. ")
    cases.foreach { s =>
      assert(PayloadOracle.starterFind(s) === pat.matcher(s).find(), s"mismatch on '$s'")
    }
  }

  test("docHashes is deterministic and discriminates content") {
    val cfg = SynthConfig()
    def docHashes(id: String, spans: Seq[Span]) =
      Wire.docHashesStreaming(1L, "c", Wire.encode(Nil, Some(Doc(id, spans))))
    val a = docHashes("x", Synth.spansOf(cfg, 1L))
    val a2 = docHashes("x", Synth.spansOf(cfg, 1L))
    val b = docHashes("x", Synth.spansOf(cfg, 2L))
    assert(a === a2)
    assert(a.content_hash !== b.content_hash)
    // D3 plant: two contents sharing a baseId collide under nodigits only
    val contentA = Synth.spansOf(cfg, 10L)
    val base = Synth.baseIdOf(cfg, 10L)
    val partner = (0L until cfg.contentSpace).find(c2 =>
      c2 != 10L && Synth.baseIdOf(cfg, c2) == base)
    partner.foreach { c2 =>
      val hA = docHashes("a", contentA)
      val hB = docHashes("b", Synth.spansOf(cfg, c2))
      assert(hA.render_hash_nodigits === hB.render_hash_nodigits)
      assert(hA.content_hash !== hB.content_hash)
    }
  }

  test("query-path D2/D3 columns equal docHashesStruct of the doc's Synth fetch payload") {
    // one identity: q_rendering_dedup hashes docHashesStruct(spansPayload(spans)),
    // the crawl hashes docHashesStruct(payload) at fetch and stores it in docs
    val cfg = SynthConfig()
    val fetched = (0L until 60L).map { fid =>
      val enc = Synth.fetchEncoded(cfg, Synth.pdfUrl(cfg, (fid % cfg.courts).toInt,
        fid * 64 + (fid % cfg.courts)), 0)
      (enc.docId, enc.payload)
    }.filter(_._2 != null)
    assert(fetched.size > 40)
    val withSpans = fetched.map { case (id, payload) => (id, payload, PayloadOracle.decodeSpans(payload)) }
      .toDF("doc_id", "payload", "spans")
    val rows = withSpans.select($"doc_id",
        WireFunctions.docHashesStruct($"payload").as("fetch"),
        WireFunctions.docHashesStruct(WireFunctions.spansPayload($"spans")).as("query"))
      .collect()
    assert(rows.length === fetched.size)
    rows.foreach { r =>
      assert(!r.isNullAt(1), r.getString(0))
      assert(r.getStruct(2) === r.getStruct(1), s"identity differs for ${r.getString(0)}")
    }
  }

  test("inOffsetOrder: the payload itself when sorted, a stable offset sort otherwise") {
    val sorted = Wire.encode(Nil, Some(Doc("s", Seq(Span("text", "a", null, 0),
      Span("text", "b", null, 0), Span("image", null, "m", 1)))))
    assert(Wire.inOffsetOrder(sorted) eq sorted)
    val docless = Wire.encode(Seq(Synth.Discovered("u", "c", "q", 1, 0, 1L, null, null, null, 0)), None)
    assert(Wire.inOffsetOrder(docless) eq docless)
    val spans = Seq(Span("text", "c", null, 2), Span("text", "a1", null, 0),
      Span(null, null, null, 1), Span("text", "a2", null, 0))
    val unsorted = Wire.encode(Nil, Some(Doc(null, spans)))
    assert(java.util.Arrays.equals(Wire.inOffsetOrder(unsorted),
      Wire.encode(Nil, Some(Doc(null, spans.sortBy(_.offset))))))
  }
}
