package graft.operators

import graft.model._

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Span-stream rendering (reference P11, `/root/reference/src/extractors/adobe.py:63-93`),
  * paragraph segregation (W1, `src/segregators/adobe_json.py:23-63`) and the
  * sentence/word-count paragraph filter (P7/P8, `src/filters/sent_count_filter.py:31-57`).
  *
  * All per-document: `spans` is a nested array, so rendering is a columnar
  * `filter`/`transform`/`array_join` over the array — zero shuffle — and the
  * stateful paragraph fold is a typed `flatMap` per row (also zero shuffle).
  * The relational window variant of the fold exists as a cross-check in
  * SparkEntry ("q_w1_relational").
  */
object Segregate {

  /** The paragraph-starter regex (`adobe_json.py:28`): optional space-class
    * chars, digits, space-class, a dot. Java regex with UNICODE flags. */
  val StarterRegex = "^(?U)\\p{Z}*\\p{N}+\\p{Z}*\\."
  /** Leading numeral chain, e.g. "1. 2." → reference field (`adobe_json.py:44-47`). */
  val ReferenceRegex = "^((?:(?U)\\p{N}+\\p{Z}*\\.)+)"

  private val referencePattern = ReferenceRegex.r
  // precompiled: String.replaceAll would recompile this on EVERY paragraph
  private val spacesPattern = java.util.regex.Pattern.compile("(?U)\\p{Z}+")

  /** Starter test for typed kernels (Dedup.docHashes, segregateDoc): exact
    * scan equivalent of [[StarterRegex]] `^(?U)\p{Z}*\p{N}+\p{Z}*\.` on code
    * points. A scan instead of `Pattern.matcher`: the regex allocated one
    * Matcher per text span in the crawl hot path, and since \p{Z}, \p{N} and
    * '.' are pairwise disjoint the greedy pattern needs no backtracking —
    * the scan is the regex. (Pinned equal to the Column `rlike` in
    * SegregateSpec/HashingSpec.) */
  def starterFind(text: String): Boolean = {
    val n = text.length
    var i = 0
    @inline def isZ(t: Int) = t == Character.SPACE_SEPARATOR ||
      t == Character.LINE_SEPARATOR || t == Character.PARAGRAPH_SEPARATOR
    @inline def isN(t: Int) = t == Character.DECIMAL_DIGIT_NUMBER ||
      t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
    while (i < n && isZ(Character.getType(text.codePointAt(i))))
      i += Character.charCount(text.codePointAt(i))
    val digitStart = i
    while (i < n && isN(Character.getType(text.codePointAt(i))))
      i += Character.charCount(text.codePointAt(i))
    if (i == digitStart) return false
    while (i < n && isZ(Character.getType(text.codePointAt(i))))
      i += Character.charCount(text.codePointAt(i))
    i < n && text.charAt(i) == '.'
  }

  // ---------- renderings (the "extractors" of our engine, SURVEY.md S9) ----------

  /** Names in declared order — D3 chaining is order-sensitive
    * (`src/pipeline/process.py:114-122`). */
  val RenderingNames: Seq[String] = Seq("plain", "nodigits", "marked")

  /** Plain text: text+heading spans joined with "\n\n", tables skipped
    * (`adobe.py:63-74`). */
  def renderPlain(spans: Column): Column =
    array_join(
      transform(
        filter(spans, s => s("kind") === "text" || s("kind") === "heading"),
        s => s("text")),
      "\n\n")

  /** Digit-stripped rendering — collides docs differing only in serials. */
  def renderNoDigits(spans: Column): Column =
    regexp_replace(renderPlain(spans), "(?U)\\p{N}+", "")

  /** Layout-marked rendering (the reference's "processed" variant,
    * `adobe.py:76-93`): Heading/Paragraph marker lines injected. */
  def renderMarked(spans: Column): Column =
    array_join(
      transform(
        filter(spans, s => s("kind") === "text" || s("kind") === "heading"),
        s => when(s("kind") === "heading", concat(lit("[Heading]\n"), s("text")))
          .otherwise(when(s("text").rlike(StarterRegex), concat(lit("[Paragraph]\n"), s("text")))
            .otherwise(s("text")))),
      "\n\n")

  def rendering(name: String, spans: Column): Column = name match {
    case "plain"    => renderPlain(spans)
    case "nodigits" => renderNoDigits(spans)
    case "marked"   => renderMarked(spans)
    case other      => throw new IllegalArgumentException(s"unknown rendering $other")
  }

  // ---- typed (plain-Scala) twins of the renderings ----
  // The crawler's per-doc hot kernel runs these instead of the Column
  // versions: array higher-order functions are CodegenFallback (interpreted)
  // in Spark, and the interpreted eval's per-element allocation measured
  // ~10 ms/doc + 25% GC at local[32]. The Column versions remain the
  // query-surface API; SegregateSpec pins typed == Column on synth docs.

  private val digitsPattern = java.util.regex.Pattern.compile("(?U)\\p{N}+")

  /** Spans arrive offset-ordered from every source in this engine — skip the
    * per-doc sort copy when a linear check confirms it. */
  private[graft] def sortedByOffset(spans: Seq[Span]): Seq[Span] = {
    val it = spans.iterator
    var prev = Int.MinValue
    var sorted = true
    while (sorted && it.hasNext) {
      val o = it.next().offset
      if (o < prev) sorted = false
      prev = o
    }
    if (sorted) spans else spans.sortBy(_.offset)
  }

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

  // ---------- W1: paragraph segregation ----------

  /** The exact fold of `adobe_json.py:23-63`, per doc:
    *  - table spans are skipped entirely;
    *  - a heading ends any open paragraph WITHOUT emitting it (content reset,
    *    `valid_content=False` until the next starter) and advances the page
    *    bookkeeping — in our span model "page change" is approximated by
    *    heading spans (the synthetic corpus is single-page per doc);
    *  - a starter text span ("1.", "2." …) first emits the accumulated
    *    paragraph, then starts a new one; its numeral chain becomes
    *    `reference` (spaces stripped) and is removed from the content head;
    *  - non-starter text is appended only while a paragraph is open;
    *  - **the trailing open paragraph is never flushed** — the reference
    *    drops it (no final emit in `adobe_json.py:33-61`) and we preserve the
    *    quirk bit-for-bit;
    *  - paragraphs are numbered sequentially from 1; `page` = pageStart + 1
    *    (Adobe pages are 0-based, `adobe_json.py:49-50`).
    *
    * Pure Scala, applied via typed flatMap in [[paragraphs]].
    */
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
          page += 1 // heading ≈ page/section advance in the synthetic model
        case "text" if sp.text != null =>
          val isStarter = starterFind(sp.text)
          if (isStarter) {
            if (open && hasContent) {
              seq += 1
              out += Paragraph(docId, extractor, pageStart + 1, seq,
                content.toString.trim, reference)
            }
            val m = referencePattern.pattern.matcher(sp.text)
            if (m.find()) {
              reference = spacesPattern.matcher(m.group(1)).replaceAll("")
              content.setLength(0)
              content.append(sp.text.substring(m.end()).trim)
            } else {
              reference = null
              content.setLength(0)
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
    // no final flush — trailing paragraph intentionally dropped (see doc above)
    out.result()
  }

  /** Paragraphs of every doc under every rendering-extractor. Only the "plain"
    * extractor has a segregator binding (mirrors the reference where only
    * adobe_api has one, `src/pipeline/segregate.py:31-36`). */
  def paragraphs(docs: Dataset[Doc]): Dataset[Paragraph] = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => segregateDoc(d.doc_id, "plain", d.spans))
  }

  /** W1(b): the paragraph fold as a PURE RELATIONAL plan (windows + groupBy),
    * general-case equivalent of [[segregateDoc]] — cross-checked against the
    * typed fold in SegregateSpec and DuckDB-oracled as `q_w1_relational`.
    *
    * Derivation: every starter or heading opens a new group (`grp` = running
    * count of boundary rows per doc, ordered by offset); a group is an
    * emitted paragraph iff it starts with a starter AND the next group also
    * starts with a starter (a heading next kills the open paragraph; no next
    * group = the trailing paragraph, which the reference never flushes).
    * Content = starter text minus its reference numeral + following
    * non-boundary texts in offset order; page = headings before the starter
    * + 1. Zero-shuffle claim does NOT hold here (two window exchanges) — this
    * variant exists because it is SQL-portable and oracle-checkable, while
    * the typed fold is the production path. */
  def paragraphsRelational(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.offset").as("off"))
      .filter(col("kind") === "heading" || (col("kind") === "text" && col("text").isNotNull))
      .withColumn("is_starter",
        (col("kind") === "text" && col("text").rlike(StarterRegex)).cast("int"))
      .withColumn("is_heading", (col("kind") === "heading").cast("int"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("off"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val grouped = sp
      .withColumn("grp", sum(col("is_starter") + col("is_heading")).over(w))
      .withColumn("heads", sum(col("is_heading")).over(w))
    val para = grouped.groupBy(col("doc_id"), col("grp"))
      .agg(
        max(when(col("is_starter") === 1, col("heads"))).as("hb"),
        max(when(col("is_starter") === 1, col("text"))).as("starter_text"),
        max(col("is_starter")).as("starts_starter"),
        // tail texts in offset order (collect_list is unordered post-shuffle)
        array_join(transform(array_sort(collect_list(
          when(col("is_starter") === 0 && col("is_heading") === 0,
            struct(col("off"), col("text"))))),
          s => s("text")), " ").as("tail_text"))
    val wg = Window.partitionBy(col("doc_id")).orderBy(col("grp"))
    para
      .withColumn("next_starter", lead(col("starts_starter"), 1).over(wg))
      .filter(col("starts_starter") === 1 && col("next_starter") === 1)
      .withColumn("ref_raw", regexp_extract(col("starter_text"), ReferenceRegex, 1))
      .withColumn("reference",
        when(col("ref_raw") === "", lit(null).cast("string"))
          .otherwise(regexp_replace(col("ref_raw"), "(?U)\\p{Z}+", "")))
      .withColumn("stripped", trim(col("starter_text").substr(length(col("ref_raw")) + 1, lit(Int.MaxValue))))
      .withColumn("content", trim(concat_ws(" ", col("stripped"), col("tail_text"))))
      .withColumn("paragraph_number", row_number().over(wg).cast("int"))
      .select(col("doc_id"), lit("plain").as("extractor"),
        (col("hb") + 1).cast("int").as("page"),
        col("paragraph_number"), col("content"), col("reference"))
  }

  // ---------- P7/P8: sentence/word-count filter ----------

  /** Sentence count via regex boundary split (declared deviation from NLTK
    * punkt — FIXTURES.md §5): boundaries are [.!?]+ followed by whitespace. */
  def sentenceCount(content: Column): Column =
    size(filter(split(content, "[.!?]+(\\s+|$)"), s => length(trim(s)) > 0))

  /** English stopword list (fixed, small — the filter only needs a ratio). */
  val Stopwords: Seq[String] = Seq(
    "a", "an", "the", "and", "or", "of", "to", "in", "on", "for", "with", "by",
    "at", "from", "as", "is", "are", "was", "were", "be", "been", "it", "its",
    "this", "that", "these", "those", "he", "she", "they", "we", "his", "her",
    "their", "our", "not", "no", "nor", "but", "if", "then", "than", "so",
    "such", "very", "can", "will", "shall", "may", "would", "should", "could",
    "has", "have", "had", "do", "does", "did", "there", "here", "when", "where",
    "which", "who", "whom", "what", "how", "all", "any", "both", "each", "into",
    "through", "during", "before", "after", "above", "below", "up", "down",
    "out", "off", "over", "under", "again", "further", "once", "own", "same")

  /** Content words: alphabetic tokens not in the stopword list
    * (`sent_count_filter.py:46-52`). */
  def contentWordCount(content: Column): Column = {
    val words = split(lower(content), "[^\\p{L}]+")
    size(filter(words, w => length(w) > 0 && !w.isin(Stopwords.map(lit): _*)))
  }

  /** Keep iff sentences >= minSents OR content words >= minWords (defaults
    * 3/30, `sent_count_filter.py:31-37,54-57`). */
  def sentCountFilter(paras: DataFrame, minSents: Int = 3, minWords: Int = 30): DataFrame =
    paras.filter(
      sentenceCount(col("content")) >= minSents ||
        contentWordCount(col("content")) >= minWords)

  // precompiled: String.split(String) recompiles multi-char regexes on every
  // call — at millions of paragraphs/round that was two Pattern.compile per
  // paragraph in the crawl hot path
  private val sentBoundaryPattern = java.util.regex.Pattern.compile("[.!?]+(\\s+|$)")
  private val nonLetterPattern = java.util.regex.Pattern.compile("[^\\p{L}]+")

  /** Allocation-free scan equivalent of
    * `sentBoundaryPattern.split(content).count(_.trim.nonEmpty)`: a boundary
    * is a [.!?]+ run followed by ASCII whitespace or end-of-string (regex \s
    * without (?U) is ASCII); a segment counts iff it contains any char
    * > ' ' (String.trim semantics). The split-based version allocated a
    * String array + trimmed copies per paragraph — at ~10M paragraphs per
    * crawl wave the two regex splits in sentKeepStr were the paragraph
    * stage's dominant cpu (pinned ≡ regex in SegregateSpec). */
  private[graft] def sentenceCountScan(content: String): Int = {
    val n = content.length
    @inline def isPunct(c: Char) = c == '.' || c == '!' || c == '?'
    @inline def isWs(c: Char) = c == ' ' || (c >= '\t' && c <= '\r')
    var i = 0
    var sents = 0
    var segHasContent = false
    while (i < n) {
      val c = content.charAt(i)
      if (isPunct(c)) {
        var j = i + 1
        while (j < n && isPunct(content.charAt(j))) j += 1
        if (j >= n || isWs(content.charAt(j))) {
          // boundary: punct run + (ws run | end)
          while (j < n && isWs(content.charAt(j))) j += 1
          if (segHasContent) sents += 1
          segHasContent = false
          i = j
        } else {
          segHasContent = true // punct run embedded in a segment
          i = j
        }
      } else {
        if (c > ' ') segHasContent = true
        i += 1
      }
    }
    if (segHasContent) sents += 1
    sents
  }

  private lazy val MaxStopwordLen: Int = Stopwords.map(_.length).max

  /** Every stopword is ≤ 12 lowercase ASCII letters, so a token packs
    * injectively into a Long (5 bits per letter, codes 1–26, length implied
    * by the leading-zero structure); membership is a binary search over 87
    * longs. The per-token `new Array[Char] + new String` the HashSet lookup
    * needed was ~16 GB of allocation per mega wave (JFR round 4) — all of it
    * in the paragraph-filter hot loop. */
  private lazy val StopwordPacked: Array[Long] = {
    require(Stopwords.forall(w => w.length <= 12 && w.forall(c => c >= 'a' && c <= 'z')),
      "packed stopword lookup requires ≤12-char lowercase ASCII stopwords")
    Stopwords.map { w =>
      var acc = 0L
      var i = 0
      while (i < w.length) { acc = (acc << 5) | (w.charAt(i) - 'a' + 1).toLong; i += 1 }
      acc
    }.distinct.sorted.toArray
  }

  /** Open-addressing twin of [[StopwordPacked]]: 256 slots (load ~0.34,
    * 2 KB, L1-resident) probed with a splitmix-mixed key and linear steps —
    * 1-2 dependent loads per membership test where the binary search paid
    * ~7 (3.7% of wave CPU in the round-4 JFR). 0 is a safe empty sentinel:
    * packed codes are 1-26 per letter, so no nonempty token packs to 0. */
  private val StopwordHashBits = 8
  private lazy val StopwordHashed: Array[Long] = {
    val t = new Array[Long](1 << StopwordHashBits)
    StopwordPacked.foreach { k =>
      var i = stopwordSlot(k)
      while (t(i) != 0L) i = (i + 1) & ((1 << StopwordHashBits) - 1)
      t(i) = k
    }
    t
  }
  @inline private def stopwordSlot(k: Long): Int = {
    // splitmix64 finalizer (public domain, Steele et al. 2014)
    var z = k + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) >>> (64 - StopwordHashBits)).toInt
  }
  @inline private def isStopwordPacked(k: Long): Boolean = {
    val mask = (1 << StopwordHashBits) - 1
    var i = stopwordSlot(k)
    var v = StopwordHashed(i)
    while (v != 0L && v != k) { i = (i + 1) & mask; v = StopwordHashed(i) }
    v == k
  }

  /** Early-exit scan equivalent of the content-word count
    * (`nonLetterPattern.split(content.toLowerCase).count(w => w.nonEmpty &&
    * !stopword)` >= minWords): tokens are maximal \p{L} runs; ASCII tokens
    * longer than the longest stopword count immediately with no allocation;
    * candidate-length tokens allocate one small lowercase string for the set
    * lookup; the scan RETURNS as soon as minWords is reached. Any non-ASCII
    * char falls back to the regex path (String.toLowerCase is locale- and
    * length-unstable off ASCII — e.g. İ lowercases to two chars — and the
    * scan must match it exactly; the corpus is ASCII, so the fallback is
    * cold). */
  private def wordKeepScan(content: String, minWords: Int): Boolean = {
    val n = content.length
    var i = 0
    var words = 0
    while (i < n) {
      var c = content.charAt(i)
      if (c >= 0x80) { // non-ASCII: exact regex semantics
        val ws = nonLetterPattern.split(content.toLowerCase)
          .count(w => w.nonEmpty && !StopwordSet.contains(w))
        return ws >= minWords
      }
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        val start = i
        var ascii = true
        while (i < n && {
          c = content.charAt(i)
          if (c >= 0x80) ascii = false
          (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        }) i += 1
        if (!ascii) { // token ran into non-ASCII territory: fall back
          val ws = nonLetterPattern.split(content.toLowerCase)
            .count(w => w.nonEmpty && !StopwordSet.contains(w))
          return ws >= minWords
        }
        val len = i - start
        if (len > MaxStopwordLen) words += 1
        else {
          var acc = 0L
          var j = start
          while (j < i) {
            val ch = content.charAt(j)
            val lc = if (ch >= 'A' && ch <= 'Z') ch + 32 else ch.toInt
            acc = (acc << 5) | (lc - 'a' + 1).toLong
            j += 1
          }
          if (!isStopwordPacked(acc)) words += 1
        }
        if (words >= minWords) return true
      } else i += 1
    }
    words >= minWords
  }

  /** Typed twin of [[sentCountFilter]] (same semantics — pinned equal in
    * SegregateSpec/HashingSpec); used in the crawler's hot path. Both legs
    * are early-exit scans: the filter only ever needs "reached the
    * threshold", never the exact counts — the original two
    * `Pattern.split`s per paragraph (array + substring allocations, full
    * traversals) were 83% of the whole paragraph stage's cpu at ~10M
    * paragraphs per crawl wave. */
  def sentKeepStr(content: String, minSents: Int = 3, minWords: Int = 30): Boolean = {
    // word leg first: it early-exits after ~minWords tokens, while the
    // sentence leg must scan to the minSents-th boundary (the whole string
    // when there are few); OR-semantics make the order free
    if (wordKeepScan(content, minWords)) return true
    sentenceScanAtLeast(content, minSents)
  }

  /** [[sentenceCountScan]] with early exit at `minSents`. */
  private def sentenceScanAtLeast(content: String, minSents: Int): Boolean = {
    val n = content.length
    @inline def isPunct(c: Char) = c == '.' || c == '!' || c == '?'
    @inline def isWs(c: Char) = c == ' ' || (c >= '\t' && c <= '\r')
    var i = 0
    var sents = 0
    var segHasContent = false
    while (i < n) {
      val c = content.charAt(i)
      if (isPunct(c)) {
        var j = i + 1
        while (j < n && isPunct(content.charAt(j))) j += 1
        if (j >= n || isWs(content.charAt(j))) {
          while (j < n && isWs(content.charAt(j))) j += 1
          if (segHasContent) { sents += 1; if (sents >= minSents) return true }
          segHasContent = false
          i = j
        } else { segHasContent = true; i = j }
      } else {
        if (c > ' ') segHasContent = true
        i += 1
      }
    }
    if (segHasContent) sents += 1
    sents >= minSents
  }

  private lazy val StopwordSet: Set[String] = Stopwords.toSet

  // ---- UTF-8 byte-slice twins of the paragraph filter ----
  //
  // The streaming paragraph kernel (Wire.paragraphsFilteredStreaming) folds
  // span bytes without decoding; these run the SAME filter decisions on the
  // undecoded slice. Exactness: all delimiter classes here are ASCII
  // ('.', '!', '?', ' ', '\t'..'\r', letters), and every byte of a multi-byte
  // UTF-8 sequence is ≥ 0x80, so byte-wise classification agrees with
  // char-wise on well-formed input; the one place semantics depend on
  // Unicode classes (the word leg's \p{L} tokens / toLowerCase) detects the
  // first ≥ 0x80 byte and falls back to the decoded-String path. Pinned
  // equal to sentKeepStr in SegregateSpec (ASCII + non-ASCII adversarial).

  /** [[sentKeepStr]] on the UTF-8 slice `[start, end)`. */
  def sentKeepBytes(b: Array[Byte], start: Int, end: Int,
      minSents: Int = 3, minWords: Int = 30): Boolean = {
    val w = wordKeepBytes(b, start, end, minWords)
    if (w > 0) return true
    if (w < 0) // non-ASCII: exact String/regex semantics
      return sentKeepStr(new String(b, start, end - start, java.nio.charset.StandardCharsets.UTF_8),
        minSents, minWords)
    sentenceScanBytesAtLeast(b, start, end, minSents)
  }

  /** Word leg on bytes: 1 = keep, 0 = fail, -1 = non-ASCII seen (caller
    * must fall back to the String path for exact \p{L}/lowercase behavior). */
  private def wordKeepBytes(b: Array[Byte], start: Int, end: Int, minWords: Int): Int = {
    var i = start
    var words = 0
    while (i < end) {
      var c = b(i) & 0xFF
      if (c >= 0x80) return -1
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        val tokStart = i
        var acc = 0L
        var bail = false
        while (!bail && i < end && {
          c = b(i) & 0xFF
          if (c >= 0x80) { bail = true; false }
          else (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        }) {
          val lc = if (c >= 'A' && c <= 'Z') c + 32 else c
          acc = (acc << 5) | (lc - 'a' + 1).toLong
          i += 1
        }
        if (bail) return -1
        val len = i - tokStart
        // acc only consulted when len ≤ MaxStopwordLen (≤ 12): no overflow
        if (len > MaxStopwordLen || !isStopwordPacked(acc))
          words += 1
        if (words >= minWords) return 1
      } else i += 1
    }
    if (words >= minWords) 1 else 0
  }

  /** [[sentenceScanAtLeast]] on bytes (delimiters all ASCII; ≥ 0x80 bytes
    * classify as content, as their decoded chars would). */
  private def sentenceScanBytesAtLeast(b: Array[Byte], start: Int, end: Int, minSents: Int): Boolean = {
    @inline def isPunct(c: Int) = c == '.' || c == '!' || c == '?'
    @inline def isWs(c: Int) = c == ' ' || (c >= '\t' && c <= '\r')
    var i = start
    var sents = 0
    var segHasContent = false
    while (i < end) {
      val c = b(i) & 0xFF
      if (isPunct(c)) {
        var j = i + 1
        while (j < end && isPunct(b(j) & 0xFF)) j += 1
        if (j >= end || isWs(b(j) & 0xFF)) {
          while (j < end && isWs(b(j) & 0xFF)) j += 1
          if (segHasContent) { sents += 1; if (sents >= minSents) return true }
          segHasContent = false
          i = j
        } else { segHasContent = true; i = j }
      } else {
        if (c > ' ') segHasContent = true
        i += 1
      }
    }
    if (segHasContent) sents += 1
    sents >= minSents
  }
}
