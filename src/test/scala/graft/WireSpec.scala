package graft

import graft.model.{Doc, Span}
import graft.sources.{Synth, Wire}

import org.scalatest.funsuite.AnyFunSuite

/** Decoder robustness against torn/corrupt payloads (VERDICT r4 #8): a
  * truncated file tail or flipped byte must surface as the diagnosable
  * [[Wire.CorruptPayloadException]] (or decode cleanly when the damage lands
  * in value bytes) — never an opaque ArrayIndexOutOfBounds/EOF/
  * NegativeArraySize from deep inside a stage, and never a giant allocation
  * attempt from a corrupt length prefix. */
class WireSpec extends AnyFunSuite {

  private def mkPayload(nDisc: Int, withDoc: Boolean): Array[Byte] = {
    val disc = (0 until nDisc).map { i =>
      Synth.Discovered(s"https://h.example.org/d/$i", s"court$i", s"q$i",
        i, 1, 1000L + i, if (i % 2 == 0) s"CASE/$i" else null, s"Title $i",
        "2021-01-02", i)
    }
    val doc =
      if (!withDoc) None
      else Some(Doc("DHC/9", Seq(
        Span("heading", "IN THE HIGH COURT", null, 0),
        Span("text", "1. The petitioner submits. This is a sentence. And one more here to pass filters.", null, 1),
        Span("image", null, "media/9/img0.png", 2),
        Span("text", "Further text with enough words to matter for the paragraph fold over spans.", null, 3))))
    PayloadOracle.encode(disc, doc)
  }

  private val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
    "decodeDiscovered" -> (b => Wire.decodeDiscovered(b)),
    "decodeDoc" -> (b => PayloadOracle.decodeDoc(b)),
    "inOffsetOrder" -> (b => Wire.inOffsetOrder(b)),
    "spansArrayData" -> (b => Wire.spansArrayData(b)),
    "docHashesStreaming" -> (b => Wire.docHashesStreaming(0L, "c", b)),
    "paragraphsArrayData" -> (b => Wire.paragraphsArrayData(b, 1, 3)))

  private def assertSaneFailure(name: String, bytes: Array[Byte]): Unit = {
    val free0 = Runtime.getRuntime.freeMemory()
    try { decoders.foreach { case (_, d) => d(bytes) }; () }
    catch {
      case _: Wire.CorruptPayloadException => () // the designed failure mode
      case _: IllegalArgumentException     => () // version-byte mismatch
      case e: Throwable =>
        fail(s"$name: decoder leaked a raw ${e.getClass.getName}: ${e.getMessage}")
    }
    // belt-and-braces: no decoder should have attempted a giant allocation
    assert(free0 - Runtime.getRuntime.freeMemory() < (1L << 30))
  }

  test("round trip: decode(encode) preserves discoveries and doc") {
    val b = mkPayload(3, withDoc = true)
    val disc = Wire.decodeDiscovered(b)
    assert(disc.length === 3)
    assert(disc.head.url === "https://h.example.org/d/0")
    assert(disc(1).caseNumber === null)
    val doc = PayloadOracle.decodeDoc(b).get
    assert(doc.doc_id === "DHC/9")
    assert(doc.spans.map(_.kind) === Seq("heading", "text", "image", "text"))
    assert(doc.spans(2).media_ref === "media/9/img0.png")
  }

  test("every truncation of a valid payload fails sanely (or decodes a valid prefix)") {
    for (payload <- Seq(mkPayload(2, withDoc = true), mkPayload(0, withDoc = true),
        mkPayload(4, withDoc = false))) {
      for (cut <- 0 until payload.length) {
        assertSaneFailure(s"truncate@$cut/${payload.length}",
          java.util.Arrays.copyOf(payload, cut))
      }
    }
  }

  test("single-byte corruptions fail sanely or decode to (garbage) values") {
    val payload = mkPayload(3, withDoc = true)
    val rng = new scala.util.Random(42)
    for (_ <- 0 until 2000) {
      val b = payload.clone()
      val at = rng.nextInt(b.length)
      b(at) = (b(at) ^ (1 << rng.nextInt(8))).toByte
      assertSaneFailure(s"flip@$at", b)
    }
  }

  test("multi-byte corruption bursts fail sanely") {
    val payload = mkPayload(2, withDoc = true)
    val rng = new scala.util.Random(7)
    for (_ <- 0 until 500) {
      val b = payload.clone()
      val at = rng.nextInt(b.length)
      val len = math.min(1 + rng.nextInt(8), b.length - at)
      for (i <- 0 until len) b(at + i) = rng.nextInt(256).toByte
      assertSaneFailure(s"burst@$at+$len", b)
    }
  }

  test("a corrupt length prefix cannot provoke a giant allocation") {
    // hand-build: version byte + discovery count 2^30 — decodeDiscovered
    // must reject the count as implausible before sizing any buffer
    val b = Array[Byte](1, 0x40, 0, 0, 0)
    val e = intercept[Wire.CorruptPayloadException](Wire.decodeDiscovered(b))
    assert(e.getMessage.contains("implausible"))
  }
}
