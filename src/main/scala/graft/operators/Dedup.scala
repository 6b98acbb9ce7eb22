package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's three-step dedup cascade as relational operators
  * (SURVEY.md §2.3). Step 1 (URL/case) lives in [[SeenSet]] and the crawler;
  * this module is step 2 (file-content, staged cheap-to-expensive,
  * `/root/reference/src/pipeline/search_and_scrape.py:97-134`,
  * `preprocess.py:173-203`) and step 3 (per-rendering content hash, chained in
  * rendering order, `src/pipeline/process.py:29-165`).
  *
  * Everything is expressed as window keep-first / anti-join — NOT
  * `dropDuplicates`, which does not guarantee which row survives (SURVEY.md
  * L5). Keep-first order must be a total order supplied by the caller
  * (`arrivalCols`), making results partition-count invariant.
  */
object Dedup {

  /** Staged content-identity columns (cheap → expensive), the scaled analog of
    * size → 1 KiB-prefix SHA-1 → full SHA-1 (`preprocess.py:66-84,186-197`).
    * At 100 TB the win is that `sz`+`prefix_hash` come from tiny reads while
    * `content_hash` needs the full payload; Spark computes all three per row
    * in one pass here, but grouping on (sz, prefix_hash, content_hash)
    * preserves the short-circuit semantics: rows differing in a cheap column
    * can never be content-dupes. */
  def withStagedHashes(docs: DataFrame, spansCol: String = "spans"): DataFrame = {
    val spans = col(spansCol)
    docs
      .withColumn("sz",
        aggregate(spans, lit(0L), (acc, s) =>
          acc + coalesce(length(s("text")).cast("long"), lit(256L))))
      .withColumn("prefix_hash", xxhash64(to_json(element_at(spans, 1))))
      .withColumn("content_hash", xxhash64(to_json(spans)))
  }

  /** Keep-first distinct by `key` under the total order `arrival`. */
  def keepFirst(df: DataFrame, key: Seq[Column], arrival: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(arrival: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** D2: within-batch keep-first by full content identity, then anti-join
    * against the historical content hashes (any frame carrying the staged
    * columns — the docs table itself). Returns the kept rows; the dup count
    * is `input count - kept count` (derived arithmetically by callers, no
    * second evaluation of the window chain). `arrival` must be a total order
    * (e.g. priority, doc_id). */
  def contentDedup(
      docsWithHashes: DataFrame,
      history: Option[DataFrame], // columns: sz, prefix_hash, content_hash
      arrival: Seq[Column]): DataFrame = {
    val key = Seq(col("sz"), col("prefix_hash"), col("content_hash"))
    val w = Window.partitionBy(key: _*).orderBy(arrival: _*)
    val firsts = docsWithHashes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    history match {
      case Some(h) => antiHistory(firsts, docsWithHashes, h, Seq("sz", "prefix_hash", "content_hash"))
      case None    => firsts
    }
  }

  /** Drop rows of `batch` whose `keys` appear in `history`, with HISTORY
    * NEVER SHUFFLED: semi-join history against the broadcast key set of
    * `keySource`, so history is scanned map-side, column-pruned,
    * exchange-free — then anti-join the batch against the broadcast hit set.
    * The earlier `history.distinct()` + left_anti shape shuffled and
    * aggregated the ENTIRE accumulated history every round (linear growth
    * with crawl age — VERDICT r2 Performance #3); left_anti is
    * duplicate-tolerant, so the distinct was pure waste.
    *
    * `keySource` is the dedup function's own INPUT frame, of which `batch`
    * (the step's keep-first survivors) is a subset. The hit set
    * `history ⋉ keySource` is then a superset of `history ⋉ batch`, and the
    * extra hits carry keys no `batch` row has, so the anti-join drops
    * exactly the same rows. What it buys is plan size: taking the keys from
    * `batch` itself referenced each step's input twice, so the four chained
    * D2/D3 steps grew the optimized plan as 2^k (31 leaves on the
    * HistoryPlanSpec fixture); with a fixed key source each step adds a
    * constant number of leaves (15 in all).
    *
    * The broadcast hints are deliberate and SAFE here (unlike the seen-set
    * hit path, where rediscovery rate is unbounded): `keySource` is this
    * round's doc batch — politeness-bounded by construction — and `hits` is
    * a subset of it. Without the hint, Catalyst's post-window stats make it
    * plan a sort-merge join whose map side shuffle-WRITES the whole history
    * before AQE's late broadcast conversion can kick in (caught by
    * HistoryPlanSpec, which walks the final adaptive plan). */
  private def antiHistory(
      batch: DataFrame, keySource: DataFrame, history: DataFrame, keys: Seq[String]): DataFrame = {
    val sourceKeys = keySource.select(keys.map(col): _*)
    val hits = history.select(keys.map(col): _*)
      .join(broadcast(sourceKeys), keys, "left_semi")
    batch.join(broadcast(hits), keys, "left_anti")
  }

  /** Per-rendering hash column name in the docs table. */
  def renderHashCol(rendering: String): String = s"render_hash_$rendering"

  /** Narrow per-doc identity row — everything D2/D3 needs, ~150 B/row.
    * Field names match the staged/render hash column names. Content and
    * rendering identities are 128-bit (hex): at the 10^10-doc design point a
    * 64-bit key sees birthday collisions (~2^32 docs), which for D2/D3 means
    * silently DROPPING a unique document. */
  final case class DocHashes(
      doc_id: String,
      priority: Long,
      court: String,
      sz: Long,
      prefix_hash: Long,
      content_hash: String,
      render_hash_plain: String,
      render_hash_nodigits: String,
      render_hash_marked: String)

  /** Two independent 64-bit FNV-1a lanes ≈ one streaming 128-bit identity.
    * A streaming hash (vs xxhash64-of-built-string) is the point: the doc
    * kernel below never materializes a rendering string — it folds chars
    * straight into the lanes. */
  private[graft] final class Fnv128 {
    private var h1 = 0xcbf29ce484222325L
    private var h2 = 0x6c62272e07bb0142L
    @inline def update(c: Char): Unit = {
      h1 = (h1 ^ c) * 0x100000001b3L
      h2 = (h2 ^ c) * 0x9e3779b97f4a7c15L
    }
    def updateStr(s: String): Unit = {
      var i = 0
      while (i < s.length) { update(s.charAt(i)); i += 1 }
    }
    def hex: String = {
      // manual zero-padded hex: the f"%016x" interpolator routes through
      // String.format (runtime format-string parsing — measured hot)
      val out = new Array[Char](32)
      var i = 0
      while (i < 16) {
        out(15 - i) = Character.forDigit(((h1 >>> (i * 4)) & 0xF).toInt, 16)
        out(31 - i) = Character.forDigit(((h2 >>> (i * 4)) & 0xF).toInt, 16)
        i += 1
      }
      new String(out)
    }
    def lane1: Long = h1
  }

  /** [[Fnv128.hex]] for lane values held as plain longs (the streaming
    * kernel keeps its lanes in locals/scratch, not Fnv128 objects). */
  private[graft] def fnvHex(h1: Long, h2: Long): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(15 - i) = Character.forDigit(((h1 >>> (i * 4)) & 0xF).toInt, 16)
      out(31 - i) = Character.forDigit(((h2 >>> (i * 4)) & 0xF).toInt, 16)
      i += 1
    }
    new String(out)
  }

  /** Chars the nodigits rendering strips: Java regex `(?U)\p{N}` =
    * DECIMAL_DIGIT_NUMBER | LETTER_NUMBER | OTHER_NUMBER.
    *
    * BMP-only BY DESIGN: this classifies UTF-16 code UNITS, so a
    * supplementary-plane numeral (e.g. U+10107 AEGEAN NUMBER ONE, a
    * surrogate pair) is NOT stripped — its surrogates type as SURROGATE —
    * whereas the Column rendering's code-point regex would strip it. The
    * typed kernel is the production hash definition (HashingSpec pins
    * streaming ≡ object path on supplementary-plane inputs); the divergence
    * from the Column regexp on non-BMP numerals only loosens the nodigits
    * COLLISION space (two docs differing in Aegean numerals hash apart
    * instead of together), never correctness of exact identity. */
  @inline private[graft] def isNumberChar(c: Char): Boolean =
    // ASCII fast path: '0'-'9' is the only \p{N} below 0x80, and the hash
    // kernel calls this once per char of every text span — Character.getType's
    // table walk alone was 7% of the crawl wave's total CPU (JFR, round 4).
    if (c < 0x80) c >= '0' && c <= '9'
    else {
      val t = Character.getType(c)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  /** Typed hash kernel: ONE traversal over the spans, zero string building.
    * Runs inside the fetch stage while the spans are live objects
    * (hash-at-ingest) — the earlier build-3-rendering-strings-then-hash
    * version cost ~0.5 ms/doc in allocations alone and dominated the crawl
    * round's CPU at local[32]. Hash definitions:
    *   sz           = Σ len(text) (256 for media spans) — the cheap stage
    *   prefix_hash  = FNV64 over the first span's fields — the 1 KiB-prefix
    *                  analog (`preprocess.py:66-84`)
    *   content_hash = 128-bit streaming hash over all span fields in offset
    *                  order (field/presence delimiters included)
    *   render_hash_<r> = 128-bit streaming hash of exactly the chars of the
    *                  rendering string (equal strings ⇔ equal hashes w.h.p.;
    *                  pinned vs the string renderings in HashingSpec)
    */
  def docHashes(docId: String, priority: Long, court: String, spans: Seq[graft.model.Span]): DocHashes = {
    val sorted = Segregate.sortedByOffset(spans)
    var sz = 0L
    val content = new Fnv128
    val plain = new Fnv128
    val nodigits = new Fnv128
    val marked = new Fnv128
    var prefix = 0L
    var firstSeen = false
    var firstPiece = true
    val it = sorted.iterator
    while (it.hasNext) {
      val s = it.next()
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
      // renderings: text+heading spans joined with "\n\n" (tables/images
      // skipped); "null" for null text matches the mkString semantics of the
      // string renderings (Segregate.renderPlainStr)
      if (s.kind == "text" || s.kind == "heading") {
        if (!firstPiece) {
          plain.update('\n'); plain.update('\n')
          nodigits.update('\n'); nodigits.update('\n')
          marked.update('\n'); marked.update('\n')
        }
        firstPiece = false
        val text = if (s.text == null) "null" else s.text
        if (s.kind == "heading") marked.updateStr("[Heading]\n")
        else if (s.text != null && Segregate.starterFind(s.text)) marked.updateStr("[Paragraph]\n")
        var i = 0
        while (i < text.length) {
          val c = text.charAt(i)
          plain.update(c)
          if (!isNumberChar(c)) nodigits.update(c)
          marked.update(c)
          i += 1
        }
      }
    }
    DocHashes(docId, priority, court, sz, prefix, content.hex,
      plain.hex, nodigits.hex, marked.hex)
  }

  /** Near-duplicate dedup over a text column — the crawl-side "D4" stage a
    * training-data pipeline chains after exact content dedup (reference
    * analog: the chained content checks of `process.py:114-122`, extended to
    * fuzzy identity): MinHash+LSH candidate generation
    * ([[Similarity.minhashNearDupPairs]], band equi-join — never all-pairs)
    * → exact n-gram-Jaccard verification on the candidate slice ONLY
    * ([[Similarity.verifyPairsJaccard]]) → drop every doc that has a
    * VERIFIED earlier near-dup (arrival order = ascending id, the same
    * keep-first discipline as D2/D3). Returns the surviving rows of `docs`.
    *
    * `estThreshold` prunes candidates on the signature-estimated jaccard
    * (cheap, fixed-width); the DECISION runs on the exact jaccard of the
    * texts, so the sketch can only cost recall, never precision. At 100 TB
    * the candidate slice is the only place texts are joined pairwise. */
  def nearDupDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      estThreshold: Double = 0.35,
      jaccardThreshold: Double = 0.6): DataFrame = {
    val cands = Similarity.minhashNearDupPairs(
      docs, idCol, textCol, shingleK, numHashes, bands, estThreshold)
    val verified = Similarity.verifyPairsJaccard(cands, docs, idCol, textCol, shingleK)
      .filter(col("jaccard") >= jaccardThreshold)
    // pairs have id_a < id_b: the later member of every verified pair drops
    val drops = verified.select(col("id_b").as(idCol)).distinct()
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Add one hash column per rendering (computed in a single projection —
    * these are the D3 history the docs table carries). */
  def withRenderHashes(docs: DataFrame, renderings: Seq[String]): DataFrame =
    renderings.foldLeft(docs)((d, r) =>
      d.withColumn(renderHashCol(r), xxhash64(Segregate.rendering(r, col("spans")))))

  /** D3: chained per-rendering dedup. For each rendering name (in declared
    * order — order-sensitivity is golden-tested against the reference,
    * `process.py:114-122`, `tests/test_process.py:46-135`): drop rows whose
    * rendering hash collides with an earlier row (within the surviving batch)
    * or with history for that rendering. Survivors of rendering k feed
    * rendering k+1. Returns the kept rows, with the render-hash columns
    * retained (they ARE the history the caller persists).
    *
    * `docs` must carry a `spans` column; `history` (if any) must carry the
    * [[renderHashCol]] columns; `arrival` is the keep-first total order.
    */
  def renderingDedup(
      docs: DataFrame,
      renderings: Seq[String],
      history: Option[DataFrame],
      arrival: Seq[Column]): DataFrame = {
    // reuse precomputed hash columns (narrow-frame path: spans were dropped)
    val hashed =
      if (renderings.forall(r => docs.columns.contains(renderHashCol(r)))) docs
      else withRenderHashes(docs, renderings)
    // every step's history hits come from `hashed` (the input), not from the
    // previous step's survivors — see antiHistory
    renderings.foldLeft(hashed) { (kept, r) =>
      val hc = renderHashCol(r)
      val w = Window.partitionBy(col(hc)).orderBy(arrival: _*)
      val firsts = kept.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      history match {
        case Some(h) => antiHistory(firsts, hashed, h, Seq(hc))
        case None    => firsts
      }
    }
  }
}
