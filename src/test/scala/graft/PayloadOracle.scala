package graft

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import graft.model.{Doc, Paragraph, Span}
import graft.operators.{Dedup, Segregate}
import graft.sources.{Synth, Wire}

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The typed object path over payloads, spans and paragraphs: the oracle
  * for the payload writers (`Wire.PayloadWriter` as the Synth fetch drives
  * it) and the streaming kernels (`Wire.docHashesStreaming`,
  * `Wire.paragraphsArrayData`, `Segregate.sentKeepBytes`). Each function
  * decodes to `Span`/`Doc` objects and Strings and computes the result the
  * way the reference states it; the kernels must agree with it bit for bit
  * (HashingSpec, SegregateSpec, WireSpec, CrawlOracle). */
object PayloadOracle {

  // ---------- payload encode / decode ----------

  /** Encode (discoveries, doc) → the wire layout, plainly: big-endian ints
    * and length-prefixed `String.getBytes(UTF_8)` strings (`-1` = null).
    * Null when both are empty, so the parquet column stores a NULL. */
  def encode(discovered: Seq[Synth.Discovered], doc: Option[Doc]): Array[Byte] = {
    if (discovered.isEmpty && doc.isEmpty) return null
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    def putStr(s: String): Unit =
      if (s == null) out.writeInt(-1)
      else { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
    out.writeByte(1) // wire version
    out.writeInt(discovered.size)
    discovered.foreach { d =>
      putStr(d.url); putStr(d.court); putStr(d.query)
      out.writeInt(d.page); out.writeInt(d.depth); out.writeLong(d.priority)
      putStr(d.caseNumber); putStr(d.title); putStr(d.date)
      out.writeInt(d.rank)
    }
    out.writeBoolean(doc.isDefined)
    doc.foreach { d =>
      putStr(d.doc_id)
      out.writeInt(d.spans.size)
      d.spans.foreach { s =>
        putStr(s.kind); putStr(s.text); putStr(s.media_ref)
        out.writeInt(s.offset)
      }
    }
    out.flush()
    bytes.toByteArray
  }

  private def skipStr(in: DataInputStream): Unit = {
    val n = in.readInt()
    if (n > 0) in.skipBytes(n)
  }

  /** Decode only the doc (skips over the discovery block). */
  def decodeDoc(bytes: Array[Byte]): Option[Doc] = Wire.guarded("decodeDoc", bytes) {
    if (bytes == null) return None
    val in = Wire.open(bytes)
    var n = in.readInt()
    while (n > 0) { // skip discoveries: 6 strings, 3 ints, 1 long each
      var s = 0
      while (s < 3) { skipStr(in); s += 1 }
      in.skipBytes(16) // page, depth, priority
      s = 0
      while (s < 3) { skipStr(in); s += 1 }
      in.skipBytes(4) // rank
      n -= 1
    }
    if (!in.readBoolean()) None
    else {
      val docId = Wire.readStr(in)
      val nSpans = in.readInt()
      if (nSpans < 0 || nSpans > bytes.length / 16)
        Wire.corrupt("decodeDoc", s"implausible span count $nSpans")
      val spans = new ArrayBuffer[Span](nSpans)
      var i = 0
      while (i < nSpans) {
        spans += Span(Wire.readStr(in), Wire.readStr(in), Wire.readStr(in), in.readInt())
        i += 1
      }
      Some(Doc(docId, spans.toSeq))
    }
  }

  def decodeSpans(bytes: Array[Byte]): Seq[Span] =
    decodeDoc(bytes).map(_.spans).getOrElse(Nil)

  // ---------- reading order, starter, renderings ----------

  def sortedByOffset(spans: Seq[Span]): Seq[Span] = spans.sortBy(_.offset)

  /** [[Segregate.StarterRegex]] `^\p{Z}*\p{N}+\p{Z}*\.` as a scan over
    * code points (the classes are pairwise disjoint, so the greedy pattern
    * needs no backtracking); pinned to the regex in HashingSpec. */
  def starterFind(text: String): Boolean = {
    val n = text.length
    var i = 0
    def isZ(t: Int) = t == Character.SPACE_SEPARATOR ||
      t == Character.LINE_SEPARATOR || t == Character.PARAGRAPH_SEPARATOR
    def isN(t: Int) = t == Character.DECIMAL_DIGIT_NUMBER ||
      t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
    def skip(cls: Int => Boolean): Unit =
      while (i < n && cls(Character.getType(text.codePointAt(i))))
        i += Character.charCount(text.codePointAt(i))
    skip(isZ)
    val digitStart = i
    skip(isN)
    if (i == digitStart) return false
    skip(isZ)
    i < n && text.charAt(i) == '.'
  }

  private val digitsPattern = java.util.regex.Pattern.compile("(?U)\\p{N}+")

  def renderPlainStr(spans: Seq[Span]): String =
    sortedByOffset(spans).iterator
      .filter(s => s.kind == "text" || s.kind == "heading")
      .map(_.text).mkString("\n\n")

  def renderNoDigitsStr(spans: Seq[Span]): String =
    digitsPattern.matcher(renderPlainStr(spans)).replaceAll("")

  def renderMarkedStr(spans: Seq[Span]): String =
    sortedByOffset(spans).iterator
      .filter(s => s.kind == "text" || s.kind == "heading")
      .map { s =>
        if (s.kind == "heading") "[Heading]\n" + s.text
        else if (starterFind(s.text)) "[Paragraph]\n" + s.text
        else s.text
      }.mkString("\n\n")

  // ---------- D2/D3 identity ----------

  /** Two independent 64-bit FNV-1a lanes: one 128-bit streaming identity. */
  final class Fnv128 {
    private var h1 = 0xcbf29ce484222325L
    private var h2 = 0x6c62272e07bb0142L
    def update(c: Char): Unit = {
      h1 = (h1 ^ c) * 0x100000001b3L
      h2 = (h2 ^ c) * 0x9e3779b97f4a7c15L
    }
    def updateStr(s: String): Unit = s.foreach(update)
    def hex: String = Dedup.fnvHex(h1, h2)
    def lane1: Long = h1
  }

  /** [[Dedup.DocHashes]] of the spans, folded span by span over objects. */
  def docHashes(docId: String, priority: Long, court: String, spans: Seq[Span]): Dedup.DocHashes = {
    var sz = 0L
    val content = new Fnv128
    val plain = new Fnv128
    val nodigits = new Fnv128
    val marked = new Fnv128
    var prefix = 0L
    var firstSeen = false
    var firstPiece = true
    sortedByOffset(spans).foreach { s =>
      sz += (if (s.text != null) s.text.length.toLong else 256L)
      // content identity over all fields, with presence/field delimiters
      content.updateStr(s.kind); content.update(0)
      if (s.text != null) content.updateStr(s.text)
      content.update(1)
      if (s.media_ref != null) content.updateStr(s.media_ref)
      content.update(2)
      content.update((s.offset & 0xFFFF).toChar)
      content.update(((s.offset >> 16) & 0xFFFF).toChar)
      if (!firstSeen) {
        firstSeen = true
        prefix = content.lane1 // prefix stage = content lane after span 1
      }
      // renderings: the chars of renderPlainStr/renderNoDigitsStr/
      // renderMarkedStr ("null" for a null text, as mkString writes it)
      if (s.kind == "text" || s.kind == "heading") {
        if (!firstPiece) Seq(plain, nodigits, marked).foreach(_.updateStr("\n\n"))
        firstPiece = false
        val text = if (s.text == null) "null" else s.text
        if (s.kind == "heading") marked.updateStr("[Heading]\n")
        else if (s.text != null && starterFind(s.text)) marked.updateStr("[Paragraph]\n")
        text.foreach { c =>
          plain.update(c)
          if (!Dedup.isNumberChar(c)) nodigits.update(c)
          marked.update(c)
        }
      }
    }
    Dedup.DocHashes(docId, priority, court, sz, prefix, content.hex,
      plain.hex, nodigits.hex, marked.hex)
  }

  // ---------- W1: paragraph segregation ----------

  private val referencePattern = Segregate.ReferenceRegex.r.pattern
  private val spacesPattern = java.util.regex.Pattern.compile("(?U)\\p{Z}+")

  /** The fold of `adobe_json.py:23-63` over span objects (rules at
    * Segregate's W1 section), trailing paragraph dropped. */
  def segregateDoc(docId: String, extractor: String, spans: Seq[Span]): Seq[Paragraph] = {
    val out = Vector.newBuilder[Paragraph]
    val content = new java.lang.StringBuilder(256)
    var hasContent = false
    var reference: String = null
    var open = false
    var pageStart = 0
    var page = 0
    var seq = 0
    sortedByOffset(spans).foreach { sp =>
      sp.kind match {
        case "table" | "image" => // skipped (adobe_json.py:35-37; images carry no text)
        case "heading" =>
          open = false; content.setLength(0); hasContent = false; reference = null
          page += 1
        case "text" if sp.text != null =>
          if (starterFind(sp.text)) {
            if (open && hasContent) {
              seq += 1
              out += Paragraph(docId, extractor, pageStart + 1, seq,
                content.toString.trim, reference)
            }
            val m = referencePattern.matcher(sp.text)
            content.setLength(0)
            if (m.find()) {
              reference = spacesPattern.matcher(m.group(1)).replaceAll("")
              content.append(sp.text.substring(m.end()).trim)
            } else {
              reference = null
              content.append(sp.text.trim)
            }
            hasContent = true
            pageStart = page
            open = true
          } else if (open) {
            content.append(' ').append(sp.text)
          }
        case _ => // null-text text span: ignore
      }
    }
    out.result()
  }

  /** [[segregateDoc]] of every doc as a typed flatMap. */
  def paragraphs(docs: Dataset[Doc]): Dataset[Paragraph] = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => segregateDoc(d.doc_id, "plain", d.spans))
  }

  // ---------- P7/P8: sentence/word-count filter ----------

  private val sentBoundaryPattern = java.util.regex.Pattern.compile("[.!?]+(\\s+|$)")
  private val nonLetterPattern = java.util.regex.Pattern.compile("[^\\p{L}]+")
  private val stopwords = Segregate.Stopwords.toSet

  /** The filter as the reference computes it: regex sentence split, then
    * the lowercased \p{L} tokens not in the stopword list. */
  def sentKeepRegex(content: String, minSents: Int = 3, minWords: Int = 30): Boolean =
    sentBoundaryPattern.split(content).count(_.trim.nonEmpty) >= minSents ||
      nonLetterPattern.split(content.toLowerCase).count(w => w.nonEmpty && !stopwords.contains(w)) >= minWords

  /** Sentence count via the regex boundary split, as a Column. */
  def sentenceCount(content: Column): Column =
    size(filter(split(content, "[.!?]+(\\s+|$)"), s => length(trim(s)) > 0))

  /** Content words as a Column: alphabetic tokens not in the stopword list
    * (`sent_count_filter.py:46-52`). */
  def contentWordCount(content: Column): Column = {
    val words = split(lower(content), "[^\\p{L}]+")
    size(filter(words, w => length(w) > 0 && !w.isin(Segregate.Stopwords.map(lit): _*)))
  }

  /** The filter over a `content` column (defaults 3/30). */
  def sentCountFilter(paras: DataFrame, minSents: Int = 3, minWords: Int = 30): DataFrame =
    paras.filter(
      sentenceCount(col("content")) >= minSents ||
        contentWordCount(col("content")) >= minWords)
}
