package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Span-stream rendering (reference P11, `/root/reference/src/extractors/adobe.py:63-93`),
  * paragraph segregation (W1, `src/segregators/adobe_json.py:23-63`) and the
  * sentence/word-count paragraph filter (P7/P8, `src/filters/sent_count_filter.py:31-57`).
  *
  * All per-document: `spans` is a nested array, so rendering is a columnar
  * `filter`/`transform`/`array_join` over the array — zero shuffle. The
  * paragraph fold and the filter have one production kernel, the streaming
  * fold over Wire payload bytes (`Wire.paragraphsArrayData`, which calls
  * [[sentKeepBytes]]); the crawl runs it on fetch payloads and `q_segregate`
  * on `spansPayload(spans)`. The relational window variant of the fold
  * ([[paragraphsRelational]]) is `q_w1_relational`. The typed object-path
  * fold is the test oracle.
  */
object Segregate {

  /** The paragraph-starter regex (`adobe_json.py:28`): optional space-class
    * chars, digits, space-class, a dot. Java regex with UNICODE flags. */
  val StarterRegex = "^(?U)\\p{Z}*\\p{N}+\\p{Z}*\\."
  /** Leading numeral chain, e.g. "1. 2." → reference field (`adobe_json.py:44-47`). */
  val ReferenceRegex = "^((?:(?U)\\p{N}+\\p{Z}*\\.)+)"

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

  // ---------- W1: paragraph segregation ----------
  //
  // The fold of `adobe_json.py:23-63`, per doc:
  //  - table spans are skipped entirely;
  //  - a heading ends any open paragraph WITHOUT emitting it (content reset,
  //    `valid_content=False` until the next starter) and advances the page
  //    bookkeeping — in our span model "page change" is approximated by
  //    heading spans (the synthetic corpus is single-page per doc);
  //  - a starter text span ("1.", "2." …) first emits the accumulated
  //    paragraph, then starts a new one; its numeral chain becomes
  //    `reference` (spaces stripped) and is removed from the content head;
  //  - non-starter text is appended only while a paragraph is open;
  //  - **the trailing open paragraph is never flushed** — the reference
  //    drops it (no final emit in `adobe_json.py:33-61`) and we preserve the
  //    quirk bit-for-bit;
  //  - paragraphs are numbered sequentially from 1; `page` = pageStart + 1
  //    (Adobe pages are 0-based, `adobe_json.py:49-50`).

  /** W1(b): the paragraph fold as a PURE RELATIONAL plan (windows + groupBy),
    * general-case equivalent of the streaming fold — cross-checked against
    * the typed oracle fold in SegregateSpec and DuckDB-oracled as
    * `q_w1_relational`.
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
    * the streaming fold is the production path. */
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
  //
  // Keep a paragraph iff it has >= minSents sentences OR >= minWords content
  // words (defaults 3/30, `sent_count_filter.py:31-37,54-57`). Sentences
  // come from a regex boundary split (declared deviation from NLTK punkt —
  // FIXTURES.md §5): boundaries are [.!?]+ followed by whitespace or the
  // end, and a segment counts iff it is non-blank after `String.trim`.
  // Content words are the non-empty tokens of
  // `lowercase(content).split("[^\p{L}]+")` not in [[Stopwords]]
  // (`sent_count_filter.py:46-52`).

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

  private val nonLetterPattern = java.util.regex.Pattern.compile("[^\\p{L}]+")

  /** The P7/P8 filter on the UTF-8 slice `[start, end)`: one early-exit
    * scan per leg, neither decodes the slice. The filter only ever needs
    * "reached the threshold", never the exact counts — the two
    * `Pattern.split`s per paragraph were 83% of the paragraph stage's cpu at
    * ~10M paragraphs per crawl wave. Byte-wise classification is exact: all
    * sentence delimiters are ASCII ('.', '!', '?', ' ', '\t'..'\r') but a
    * final U+0085/U+2028/U+2029 (matched as a whole sequence), and every
    * byte of a multi-byte UTF-8 sequence is ≥ 0x80. The word leg's
    * tokens are Unicode classes (\p{L}, toLowerCase — İ lowercases to two
    * chars), so at the first byte ≥ 0x80 it splits the decoded slice with
    * the reference's regex instead (the corpus is ASCII: a cold path).
    * Pinned equal to the reference regex filter in SegregateSpec. */
  def sentKeepBytes(b: Array[Byte], start: Int, end: Int,
      minSents: Int = 3, minWords: Int = 30): Boolean = {
    val w = wordKeepBytes(b, start, end, minWords)
    if (w > 0) return true
    if (w < 0 && nonLetterPattern.split(new String(b, start, end - start, UTF_8).toLowerCase)
        .count(t => t.nonEmpty && !Stopwords.contains(t)) >= minWords) return true
    sentenceScanBytesAtLeast(b, start, end, minSents)
  }

  /** Word leg on bytes: 1 = keep, 0 = fail, -1 = non-ASCII seen (caller
    * must split the decoded slice for exact \p{L}/lowercase behavior).
    * ASCII tokens longer than the longest stopword count with no lookup;
    * the scan returns as soon as minWords is reached. */
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

  /** The sentence leg: counts boundary-delimited non-blank segments up to
    * `minSents` (≥ 0x80 bytes classify as content, as their decoded chars
    * would). The regex's `$` also matches before a final line terminator
    * (U+0085, U+2028, U+2029): a punct run followed by exactly one of those
    * at the end of the slice is a boundary, and the terminator itself is a
    * last, non-blank segment. */
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
        } else if (isFinalTerminator(b, j, end)) {
          if (segHasContent) sents += 1
          return sents + 1 >= minSents
        } else { segHasContent = true; i = j }
      } else {
        if (c > ' ') segHasContent = true
        i += 1
      }
    }
    if (segHasContent) sents += 1
    sents >= minSents
  }

  /** `[j, end)` is exactly one UTF-8 U+0085, U+2028 or U+2029. */
  private def isFinalTerminator(b: Array[Byte], j: Int, end: Int): Boolean =
    (end - j == 2 && (b(j) & 0xFF) == 0xC2 && (b(j + 1) & 0xFF) == 0x85) ||
      (end - j == 3 && (b(j) & 0xFF) == 0xE2 && (b(j + 1) & 0xFF) == 0x80 &&
        ((b(j + 2) & 0xFF) == 0xA8 || (b(j + 2) & 0xFF) == 0xA9))
}
