package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Text-analysis and dedup-sketch column functions for large-scale
  * training-data curation. The token/quality/language functions are composed
  * from built-in Catalyst expressions (`functions._`); the sketch and vector
  * functions wrap the single-pass kernel expressions of
  * `SketchExpressions.scala`. All are codegen'd, no Scala/Python UDFs, so the
  * hot path stays inside whole-stage codegen at 100 TB.
  *
  * Scale notes per function are inline; the common theme: each sketch is a
  * narrow fixed-width column computed in one projection over the text column
  * (map-side only, no shuffle), and candidate generation joins on small keys
  * (band hashes, buckets) rather than on full text.
  */
object TextFunctions {

  private def c(e: Expression): Column = GraftExpressionBridge.column(e)
  private def e(col: Column): Expression = GraftExpressionBridge.expression(col)

  /** Whitespace tokens (lowercased, empties dropped). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Token count via the count-the-separators identity — O(len), no array. */
  def tokenCountFast(text: Column): Column =
    when(length(text) === 0, lit(0))
      .otherwise(length(text) - length(replace(text, lit(" "), lit(""))) + 1)

  /** BPE-ish subword-aware token estimate: letter runs + digit runs +
    * individual other non-space chars (a cheap proxy for tokenizer length
    * used in data curation). Pure regex-match count — portable to the DuckDB
    * oracle (RE2 has no lookbehind, so no boundary-split formulation). */
  def tokenCountBpeIsh(text: Column): Column =
    size(regexp_extract_all(text, lit("(?U)\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** P10 `constrain` (`/root/reference/src/utils/__init__.py:12-18`): fit a
    * string to `width` — middle-ellipsis when longer, right-pad when shorter.
    * Matches the reference exactly: keep the first `width/2 - 1` chars,
    * "...", and the last `width - width/2 - 2` chars. */
  def constrain(text: Column, width: Int): Column = {
    val half = width >> 1
    val othHalf = width - half
    when(length(text) > width,
      concat(substring(text, 1, half - 1), lit("..."),
        substring(text, length(text) - (othHalf - 2) + 1, lit(othHalf - 2))))
      .otherwise(rpad(text, width, " "))
  }

  /** MinHash signature (Broder 1997): for each of `numHashes` seeded hash
    * functions, the min over shingle hashes. One single-pass kernel per row
    * ([[SketchKernels.minhashSignature]] — tokenizes ONCE, constant work per
    * seed); the signature is `numHashes` longs regardless of document size —
    * this is the column you persist/partition on at 100 TB, never the
    * shingle sets. */
  def minhashSignature(text: Column, k: Int = 5, numHashes: Int = 32): Column =
    c(MinHashSigExpr(e(text), k, numHashes))

  /** LSH band keys over a minhash signature: `bands` hashes, each over
    * `rowsPerBand` consecutive signature positions; band index = array
    * position (recover with posexplode). Docs sharing any band key are
    * near-dup candidates → join on (band, key), never all-pairs. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    c(BandKeysExpr(e(signature), bands, rowsPerBand))

  /** Estimated Jaccard similarity from two minhash signatures: fraction of
    * agreeing positions. */
  def minhashJaccard(sigA: Column, sigB: Column): Column =
    c(SigAgreementExpr(e(sigA), e(sigB)))

  /** Exact n-gram Jaccard between two texts (for verification of candidate
    * pairs — runs only on the LSH-candidate slice, never all pairs). Exact
    * string-set semantics (|A∩B|/|A∪B| over distinct space-joined shingles),
    * one kernel pass per text ([[NgramJaccardExpr]]). */
  def ngramJaccard(a: Column, b: Column, k: Int = 3): Column =
    c(NgramJaccardExpr(e(a), e(b), k))

  /** 64-bit SimHash (Charikar 2002) over whitespace tokens: per bit, the sign
    * of the sum of ±1 contributions of token hashes. One single-pass codegen
    * kernel per row ([[SimHash64Expr]]) — the round-1 64-aggregate column fold
    * re-tokenized the text 64× in interpreted eval and was the bench's prime
    * scale-killer. Near-dups then compare by hamming distance on a long.
    * 62 live bits: output bits 0 and 1 are always 0 (see
    * [[SketchKernels.simhash64]]). */
  def simhash64(text: Column): Column = c(SimHash64Expr(e(text)))

  /** Hamming distance between two simhash longs. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Rolling-hash document fingerprint (winnowing-style): the `n` smallest
    * distinct k-shingle hashes, ascending — a compact order-invariant sketch
    * (single-pass kernel, [[FingerprintExpr]]). */
  def fingerprint(text: Column, k: Int = 5, n: Int = 8): Column =
    c(FingerprintExpr(e(text), k, n))

  // ---------- quality scoring (integer components — oracle-friendly) ----------

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.!?,;:]", ""))

  def digitCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "(?U)\\p{N}", ""))

  def stopwordCount(text: Column): Column = {
    import graft.operators.Segregate.Stopwords
    size(filter(tokens(text), t => t.isin(Stopwords.map(lit): _*)))
  }

  /** Composite quality gate for training data: enough tokens, not digit- or
    * punctuation-dominated, has some stopwords (English-ish fluency proxy). */
  def qualityKeep(text: Column, minTokens: Int = 20): Column = {
    val nTok = tokenCountFast(text)
    (nTok >= minTokens) &&
      (digitCount(text) * 4 < length(text)) &&
      (punctCount(text) * 4 < length(text)) &&
      (stopwordCount(text) * 20 >= nTok)
  }

  // ---------- language id (n-gram / marker-word heuristic) ----------

  /** Marker words per language — tiny, embedded, deterministic. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "une", "pour"),
    "es" -> Seq("el", "la", "los", "es", "en", "que", "una", "por"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))

  /** Best-scoring language by marker-hit count; "und" (undetermined) when no
    * marker hits. Pure column expression: one score per language, greatest-of. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      val hits = size(filter(toks, t => t.isin(markers.map(lit): _*)))
      struct(hits.as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(best("score") > 0, best("lang")).otherwise(lit("und"))
  }

  // ---------- embeddings ----------

  /** Dot product of two numeric-array columns — one-pass codegen kernel with
    * double accumulation left-to-right (DuckDB-oracle-matchable). */
  def dot(a: Column, b: Column): Column = c(VecSimExpr(e(a), e(b), "dot"))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — one fused pass computing dot and both norms
    * ([[VecSimExpr]]); 0.0 when either vector is all-zero. */
  def cosineSimilarity(a: Column, b: Column): Column = c(VecSimExpr(e(a), e(b), "cosine"))

  /** Signed-random-projection LSH bucket for cosine ANN: the sign pattern of
    * `planes` pseudo-random hyperplane dot products, packed into a long.
    * Plane components are per-plane-seeded Lehmer/MINSTD arithmetic in the
    * 2^31-1 field (deterministic, identical on every executor, every step
    * i64-exact so DuckDB reproduces them bit-for-bit) and cached per
    * expression instance — per row this is a pure `planes × dim` multiply
    * loop ([[SrpBucketExpr]]). */
  def srpBucket(embedding: Column, planes: Int, dim: Int, seed: Long = 42L): Column =
    c(SrpBucketExpr(e(embedding), planes, dim, seed))
}
