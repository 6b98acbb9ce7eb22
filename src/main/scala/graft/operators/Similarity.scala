package graft.operators

import graft.functions.TextFunctions._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-level near-duplicate detection and similarity search — the
  * operations a training-data curation pipeline runs at 100 TB. Candidate
  * generation is always sketch-first (band/bucket equi-joins); exact scoring
  * runs only on the candidate slice. All-pairs never happens.
  */
object Similarity {

  /** MinHash+LSH near-duplicate pairs over a text column.
    *
    * Plan shape: one projection computes the signature + band keys (map-only),
    * `explode` fans out to `bands` rows per doc, the self-join is an equi-join
    * on (band, key) — shuffle keyed on small band hashes, so it scales with
    * candidate count, not doc-pairs. Jaccard is estimated from signatures
    * (fixed width), not from the texts.
    *
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, distinct pairs.
    */
  def minhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sigs = docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sig", minhashSignature(col("text"), shingleK, numHashes))
      .withColumn("bk", lshBandKeys(col("sig"), bands, rowsPerBand))
      .select(col("id"), col("sig"), posexplode(col("bk")).as(Seq("band", "key")))
      // One signature pass, not two: a plain self-join duplicates the whole
      // sketch subtree (each side — or the broadcast build — re-tokenizes and
      // re-hashes every document). Repartitioning by the join key makes both
      // sides identical Exchange subtrees, which ReuseExchange collapses to a
      // single physical shuffle: the corpus-wide signature computation — the
      // expensive map pass at scale — executes exactly once (guide §2.4
      // "two operations keyed the same way share one exchange").
      .repartition(col("band"), col("key"))
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"), col("band"), col("key"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        minhashJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** Exact n-gram-Jaccard verification of candidate pairs (joins texts back
    * only for the candidate slice). `pairs` must have (id_a, id_b). */
  def verifyPairsJaccard(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    val ta = docs.select(col(idCol).as("id_a"), col(textCol).as("text_a"))
    val tb = docs.select(col(idCol).as("id_b"), col(textCol).as("text_b"))
    pairs.join(ta, "id_a").join(tb, "id_b")
      .withColumn("jaccard", ngramJaccard(col("text_a"), col("text_b"), k))
      .drop("text_a", "text_b")
  }

  /** Embedding-cosine near-duplicate pairs, SRP-bucket-scoped: candidates are
    * rows sharing an SRP-LSH bucket (equi-join on the packed bucket long —
    * the same map-only projection [[srpTopK]] uses; never all-pairs), exact
    * cosine computed on the candidate slice, pairs at or above `minCosine`
    * returned with id_a < id_b. Bucket-scoped BY DEFINITION: a high-cosine
    * pair split across buckets is out of scope (recall tunes with `planes` —
    * fewer planes → bigger buckets → higher recall), which is what makes the
    * operator exactly oracle-checkable (the bucket rule is pure i64
    * arithmetic a SQL engine can replicate). */
  def embeddingNearDupPairs(
      vecs: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      planes: Int = 8, minCosine: Double = 0.95): DataFrame = {
    val b = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", srpBucket(col("v"), planes, dim))
    val a = b.select(col("id").as("id_a"), col("v").as("v_a"), col("bucket"))
    val c = b.select(col("id").as("id_b"), col("v").as("v_b"), col("bucket"))
    a.join(c, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosineSimilarity(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Embedding near-dup DEDUP: drop every row with a bucket-scoped verified
    * near-dup of smaller id ([[embeddingNearDupPairs]]; same keep-first
    * discipline as [[graft.operators.Dedup.nearDupDedup]]). */
  def embeddingNearDupDedup(
      vecs: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      planes: Int = 8, minCosine: Double = 0.95): DataFrame = {
    val drops = embeddingNearDupPairs(vecs, idCol, vecCol, dim, planes, minCosine)
      .select(col("id_b").as(idCol)).distinct()
    vecs.join(drops, Seq(idCol), "left_anti")
  }

  /** Brute-force cosine top-k: every query row against every corpus row.
    * The query side MUST be small — it is broadcast, so the corpus is
    * streamed map-side with no shuffle of the corpus itself; the only shuffle
    * is the per-query top-k (keyed by query id). This is the exact baseline
    * ANN; [[srpTopK]] is the scale path. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosineSimilarity(col("cv"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** SRP-LSH approximate top-k: corpus bucketed by signed-random-projection
    * signature (one map-only projection, persistable); queries probe only
    * their own bucket (equi-join on the packed bucket long), exact cosine
    * re-ranks within the bucket. Recall tunes with `planes` (fewer planes →
    * bigger buckets → higher recall & cost). The 100 TB shape: bucket is the
    * partition key of the stored index — a query touches one partition. */
  def srpTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      planes: Int = 8, k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .withColumn("bucket", srpBucket(col("cv"), planes, dim))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("bucket", srpBucket(col("qv"), planes, dim))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosineSimilarity(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }
}
