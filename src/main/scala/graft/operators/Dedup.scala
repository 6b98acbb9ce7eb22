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
  * Everything is expressed as window keep-first plus one map-side history
  * probe per cascade ([[keepFirstProbed]]) — NOT `dropDuplicates`, which
  * does not guarantee which row survives (SURVEY.md L5). Keep-first order
  * must be a total order supplied by the caller (`arrivalCols`), making
  * results partition-count invariant.
  */
object Dedup {

  /** Keep-first distinct by `key` under the total order `arrival`. */
  def keepFirst(df: DataFrame, key: Seq[Column], arrival: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(arrival: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The staged content identity of D2 (cheap → expensive columns), the
    * scaled analog of size → 1 KiB-prefix SHA-1 → full SHA-1
    * (`preprocess.py:66-84,186-197`). At 100 TB the win is that `sz` and
    * `prefix_hash` come from tiny reads while `content_hash` needs the full
    * payload; the kernel computes all three in one pass, but grouping on the
    * triple preserves the short-circuit semantics: rows differing in a cheap
    * column can never be content-dupes. */
  val ContentKey: HistoryKey = HistoryKey("content", Seq("sz", "prefix_hash", "content_hash"))

  /** The D3 identity of one rendering: its hash column. */
  def renderingKey(rendering: String): HistoryKey = HistoryKey(rendering, Seq(renderHashCol(rendering)))

  /** One identity a row is deduplicated on: the columns of the key, named so
    * that the keys of one cascade can share one history probe. */
  final case class HistoryKey(name: String, cols: Seq[String]) {
    /** `name:v1:v2…` over the row's key columns, null when any of them is
      * null (a null key matches nothing, as in an equi-join). The name keeps
      * the keys of one probe apart; the values are numbers or hex, so the
      * `:` separators cannot be forged. */
    def tag: Column =
      concat((lit(name) +: cols.flatMap(c => Seq(lit(":"), col(c).cast("string")))): _*)
  }

  private val TagCol = "__tag"
  private val HitsCol = "__hits"

  /** Keep-first by `key` under `order`, each kept row flagged against
    * `history` for every one of `keys` with ONE map-side probe:
    * {{{
    *   tagged = rows × keys → (key…, tag)                  // round-bounded
    *   hits   = ∪ per key: history.select(tag)  ⋈ broadcast(tagged.tag)
    *   marks  = tagged ⋉ broadcast(hits)                   // rows' tags in history
    *   (rows ∪ marks) ── one window partitioned by key ──→ first row + its tags in history
    * }}}
    * The round's tagged key set is broadcast once; each key's history branch
    * reuses that exchange and reads only that key's columns, map-side, never
    * shuffled. The one hit set comes back through a broadcast, and the hit
    * marks ride the keep-first window's own exchange: a mark carries its
    * row's `key`, so it lands in that row's window partition, and
    * `collect_set` hands every row the tags of its partition that hit.
    * Whether a row's key is in history does not depend on which other rows
    * survive, so one probe serves every later step of a cascade
    * ([[inHistory]]). Inner, not semi, join into `hits`: a semi join would
    * be pushed into every union branch and repeat `tagged` in the plan once
    * per key; the duplicates it lets through only repeat hit tags.
    *
    * Broadcasts are safe here: `tagged` is the caller's round batch
    * (politeness bounded) and `hits` is a subset of its tags. Without the
    * hint Catalyst's post-window statistics plan a sort-merge join whose map
    * side shuffle-writes the whole history before AQE can convert it
    * (HistoryPlanSpec walks the final plan). */
  private[graft] def keepFirstProbed(
      rows: DataFrame,
      key: Seq[String],
      order: Seq[Column],
      keys: Seq[HistoryKey],
      history: DataFrame): DataFrame = {
    val tagged = rows.select((key.map(col) :+ explode(array(keys.map(_.tag): _*)).as(TagCol)): _*)
    val hits = keys.map(k => history.select(k.tag.as(TagCol))).reduce(_ union _)
      .join(broadcast(tagged.select(TagCol)), TagCol)
    val marks = tagged.join(broadcast(hits), Seq(TagCol), "left_semi")
    val byKey = Window.partitionBy(key.map(col): _*)
    rows.withColumn(TagCol, lit(null).cast("string"))
      .unionByName(marks, allowMissingColumns = true)
      .withColumn(HitsCol, collect_set(col(TagCol)).over(byKey))
      // rows before marks: the first row of a partition is a batch row
      .withColumn("__rn", row_number().over(byKey.orderBy((col(TagCol).isNull.desc +: order): _*)))
      .filter(col("__rn") === 1 && col(TagCol).isNull)
      .drop("__rn", TagCol)
  }

  /** On a [[keepFirstProbed]] row: whether its `k` is in history. */
  private[graft] def inHistory(k: HistoryKey): Column =
    coalesce(array_contains(col(HitsCol), k.tag), lit(false))

  /** Drop the flags [[keepFirstProbed]] added. */
  private[graft] def dropHits(df: DataFrame): DataFrame = df.drop(HitsCol)

  /** The D2/D3 cascade: for each key in turn, keep-first by that key among
    * the previous step's survivors under `arrival` (a total order), then
    * drop the survivors whose key is in `history`. One history probe flags
    * every input row for all `keys` up front ([[keepFirstProbed]], on the
    * first step's window); the later steps filter on those flags. A step's
    * order of keep-first and history filter does not matter: rows sharing a
    * key share its flag. With no history the cascade is the keep-first
    * windows alone. Returns the kept rows with the input's columns. */
  def dedupCascade(
      docs: DataFrame,
      keys: Seq[HistoryKey],
      history: Option[DataFrame],
      arrival: Seq[Column]): DataFrame = history match {
    case None => keys.foldLeft(docs)((kept, k) => keepFirst(kept, k.cols.map(col), arrival))
    case Some(h) =>
      val first = keepFirstProbed(docs, keys.head.cols, arrival, keys, h)
        .filter(!inHistory(keys.head))
      dropHits(keys.tail.foldLeft(first) { (kept, k) =>
        keepFirst(kept, k.cols.map(col), arrival).filter(!inHistory(k))
      })
  }

  /** D2: within-batch keep-first by full content identity, then drop rows
    * whose content is in `history` (any frame carrying the staged columns —
    * the docs table itself). Returns the kept rows; the dup count is
    * `input count - kept count` (derived arithmetically by callers, no
    * second evaluation of the window chain). `arrival` must be a total
    * order (e.g. priority, doc_id). */
  def contentDedup(
      docsWithHashes: DataFrame,
      history: Option[DataFrame], // columns: sz, prefix_hash, content_hash
      arrival: Seq[Column]): DataFrame =
    dedupCascade(docsWithHashes, Seq(ContentKey), history, arrival)

  /** Per-rendering hash column name in the docs table. */
  def renderHashCol(rendering: String): String = s"render_hash_$rendering"

  /** Narrow per-doc identity row — everything D2/D3 needs, ~150 B/row —
    * computed by `Wire.docHashesStreaming`, the one production definition.
    * Field names match the staged/render hash column names. Hash
    * definitions, over the spans in offset order:
    *   sz           = Σ len(text) in UTF-16 units (256 for a null text) — the
    *                  cheap stage
    *   prefix_hash  = the content hash's first 64-bit lane after the first
    *                  span — the 1 KiB-prefix analog (`preprocess.py:66-84`)
    *   content_hash = 128-bit streaming hash over all span fields
    *                  (field/presence delimiters included)
    *   render_hash_<r> = 128-bit streaming hash of exactly the chars of the
    *                  rendering string (equal strings ⇔ equal hashes w.h.p.)
    * The 128-bit hashes are two independent 64-bit FNV-1a lanes, folded char
    * by char so no rendering string is ever built. 128 bits because at the
    * 10^10-doc design point a 64-bit key sees birthday collisions (~2^32
    * docs), which for D2/D3 means silently DROPPING a unique document. */
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

  /** Zero-padded 32-digit hex of a two-lane hash. Manual: the f"%016x"
    * interpolator routes through String.format (runtime format-string
    * parsing — measured hot). */
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
    * streaming kernel is the production hash definition (HashingSpec pins
    * it ≡ the object-path oracle on supplementary-plane inputs); the divergence
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

  /** D3: chained per-rendering dedup. For each rendering name (in declared
    * order — order-sensitivity is golden-tested against the reference,
    * `process.py:114-122`, `tests/test_process.py:46-135`): drop rows whose
    * rendering hash collides with an earlier row (within the surviving batch)
    * or with history for that rendering. Survivors of rendering k feed
    * rendering k+1. Returns the kept rows, with the render-hash columns
    * retained (they ARE the history the caller persists).
    *
    * `docs` and `history` (if any) must carry the [[renderHashCol]]
    * columns of the docs identity ([[DocHashes]], e.g.
    * `docHashesStruct(spansPayload(spans))`); `arrival` is the keep-first
    * total order. A frame with another identity could never match the docs
    * history, so missing columns are an error, not a recomputation.
    */
  def renderingDedup(
      docs: DataFrame,
      renderings: Seq[String],
      history: Option[DataFrame],
      arrival: Seq[Column]): DataFrame = {
    val missing = renderings.map(renderHashCol).filterNot(docs.columns.contains)
    require(missing.isEmpty,
      s"renderingDedup: docs lack the rendering hash columns ${missing.mkString(", ")}")
    dedupCascade(docs, renderings.map(renderingKey), history, arrival)
  }
}
