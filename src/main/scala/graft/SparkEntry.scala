package graft

import graft.functions.{TextFunctions => TF, Urls, WireFunctions, WireParagraphsExpr}
import graft.model.Doc
import graft.operators.{Dedup, Multimodal, Segregate, Similarity}
import graft.sources.{Synth, SynthConfig}

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per operator family (SURVEY.md §2),
  * with a DuckDB oracle for every SQL-expressible one (`oracleSql`). Column
  * names are aligned 1:1 between the Spark plan and the oracle SQL; float
  * aggregates are computed exactly in decimal and cast to double at the end
  * so both engines produce bit-identical values.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Row-group count per parquet file, cached per path (footer metadata only
    * — never row data). Parquet scans parallelize at row-group grain, so this
    * is the file's TRUE scan parallelism no matter what the split config
    * says. An unreadable footer reads as `Int.MaxValue` ("not degenerate")
    * and is NOT cached, so a transient read error is retried next time. */
  private val rowGroupCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def parquetRowGroups(spark: SparkSession, path: String): Int =
    try rowGroupCounts.computeIfAbsent(path, (p: String) => {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Integer.valueOf(r.getRowGroups.size()) finally r.close()
    }).intValue
    catch { case scala.util.control.NonFatal(_) => Int.MaxValue }

  /** Read a base table and, ONLY when its file is parallelism-degenerate
    * (fewer row groups than half the executor threads — e.g. the sf test
    * files, which are written as ONE row group, so every downstream
    * map-side stage would run on one core), hash-repartition it by `keys`
    * right after the read — guide §2.5's "one huge unsplittable file →
    * repartition immediately after the read". Scale-adaptive by
    * construction: a production-sized table has thousands of row groups,
    * the condition is false, and this is a zero-cost pass-through — the
    * spread exchange is never paid where the scan itself parallelizes.
    * `keys` are chosen per query as (a subset of) the first aggregation/join
    * keys so the spread exchange SATISFIES the downstream distribution
    * requirement (ClusteredDistribution accepts a subset) instead of adding
    * a second one. */
  private def tSpread(spark: SparkSession, dir: String, name: String, keys: Column*): DataFrame = {
    val df = t(spark, dir, name)
    val p = spark.sparkContext.defaultParallelism
    // explicit width (= executor threads, never a literal): AQE's
    // parallelism-first coalescing otherwise folds the few-MB sf-scale
    // exchange back to 2-6 partitions and re-serializes the downstream
    // aggregation it exists to widen
    if (parquetRowGroups(spark, s"$dir/$name.parquet") * 2 <= p) df.repartition(p, keys: _*)
    else df
  }

  /** Synthetic interleaved-span docs (the input-hint shape) — deterministic,
    * derived per-row from Synth arithmetic; used by span/crawl operators.
    * [[writeSynthInputs]] persists the SAME docs to [[SynthDocsPath]] so the
    * DuckDB oracle can read the identical input via `read_parquet` (the
    * queries keep generating in-flight — self-contained at bench time). */
  private def synthDocs(spark: SparkSession, n: Int = 200): DataFrame = {
    import spark.implicits._
    val cfg = SynthConfig()
    spark.range(n.toLong).as[Long]
      .map(i => Doc(s"SYN/$i", Synth.spansOf(cfg, i)))
      .toDF("doc_id", "spans")
  }

  /** Fixed absolute location of the persisted synth inputs (oracle side). */
  val SynthDocsPath = "/root/repo/target/verify_inputs/synth_docs"
  val ScJudgmentsPath = "/root/repo/target/verify_inputs/sc_judgments"

  /** S3 nested-shape source rows (supreme_court.py:128-142). */
  private def scJudgments(spark: SparkSession, n: Int = 300): DataFrame = {
    import spark.implicits._
    Synth.scJudgments(SynthConfig(), n).toDS.toDF
  }

  /** Persist the synth inputs for the oracle (called by Verify before the
    * query dump). */
  def writeSynthInputs(spark: SparkSession): Unit = {
    synthDocs(spark).coalesce(2).write.mode("overwrite").parquet(SynthDocsPath)
    scJudgments(spark).coalesce(1).write.mode("overwrite").parquet(ScJudgmentsPath)
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the A4 stats
    * rollup (`get_data_stats.py:45-105` analog) on orders. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_stats_rollup")(spark, "/root/testdata/sf0.001")

  // exact-in-decimal, double-out aggregation helper
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A4 / aggregation family ----
    "q_pricing_summary" -> ((s, dir) => {
      // spread key l_orderkey ⊂ the distinct-rewrite's first grouping
      // (l_returnflag, l_linestatus, l_orderkey), so the spread exchange
      // replaces the aggregate's own — same exchange count, but the heavy
      // decimal partial aggregation runs at full width instead of inside the
      // single-row-group scan task (measured 2.9 s single-threaded there)
      tSpread(s, dir, "lineitem", col("l_orderkey"))
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    "q_stats_rollup" -> ((s, dir) => {
      // spread by o_custkey: Expand discards partitioning anyway, but the
      // ×3 expand + partial aggregation then runs at full width instead of
      // inside the one-row-group scan task (measured 0.7 s single-threaded)
      tSpread(s, dir, "orders", col("o_custkey"))
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"),
          max(col("o_totalprice")).as("max_price"),
          countDistinct(col("o_custkey")).as("n_customers"))
    }),

    "q_daily_rollup" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
    }),

    // ---- joins (broadcast-able dims; D1 anti/semi shapes) ----
    "q_top_revenue" -> ((s, dir) => {
      // both joins are broadcast (dims hinted/small), so the whole
      // probe+partial-agg pipeline rides the lineitem scan's parallelism —
      // 1 task on the one-row-group sf file (measured 1.3 s there).
      // Aggregate BEFORE the join (guide §2.3): per-order revenue first —
      // decimal sums are exact and associative, so regrouping per-order
      // partials by customer is bit-identical — which shrinks both join
      // probes and the customer aggregation ~4x (lineitems per order); the
      // per-order aggregate needs no exchange of its own because the spread
      // already partitions by l_orderkey. Inner joins preserved: every
      // lineitem's l_orderkey is non-null and the per-order row inherits it.
      val li = tSpread(s, dir, "lineitem", col("l_orderkey"))
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val perOrder = li
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("order_rev"))
      perOrder.join(o, perOrder("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(col("order_rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),

    "q_anti_join" -> ((s, dir) => {
      // L4 validation shape: customers with no open ('O') orders
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    "q_semi_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // ---- dedup family ----
    "q_keepfirst" -> ((s, dir) => {
      // L5 keep-first distinct: first doc per (lang, source) by doc_id —
      // row_number, NOT dropDuplicates (deterministic survivor)
      val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    "q_dedup_exact" -> ((s, dir) => {
      // D2 exact-content dedup shape: per distinct text, survivor + copies
      t(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
        .select(col("keeper"), col("copies"))
    }),

    "q_merge_multimap" -> ((s, dir) => {
      // A1 multimap union: per user, sorted distinct event types
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          array_join(array_sort(collect_set(col("event_type"))), ",").as("types"),
          count(lit(1)).as("n_events"))
    }),

    "q_merge_judgments" -> ((s, dir) => {
      // A2/A3 merge postprocess shape (postprocess.py:28-54) over documents:
      // cluster docs, keep-first is the "judgment", the rest are merge
      // requests; shared keys widen scalar → ordered list (kept value first)
      val d = t(s, dir, "documents")
        .withColumn("cluster",
          concat(col("source"), lit("/"), pmod(col("doc_id"), lit(50))))
      val w = Window.partitionBy(col("cluster")).orderBy(col("doc_id"))
      val ranked = d.withColumn("rn", row_number().over(w))
      val kept = ranked.filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id"), col("lang"), col("n_chars"))
      val reqs = ranked.filter(col("rn") > 1)
        .select(col("cluster"), col("doc_id"), col("lang"), col("n_chars"))
      // array outputs are emitted as ","-joined strings: the driver's pandas
      // comparator cannot sort/factorize ndarray cells (CORRECTNESS_r02 err),
      // and q_merge_multimap's joined-string shape is proven green
      graft.operators.Merge.mergeEntries(kept, reqs, "cluster",
        valueCols = Seq("doc_id", "lang", "n_chars"), arrival = Seq("doc_id"))
        .withColumn("doc_ids", array_join(col("doc_ids").cast("array<string>"), ","))
        .withColumn("langs", array_join(col("langs").cast("array<string>"), ","))
        .withColumn("n_charss", array_join(col("n_charss").cast("array<string>"), ","))
    }),

    "q_stats_full" -> ((s, dir) => {
      // A4 full stats (get_data_stats.py:45-105): per source — entry count,
      // with_file (non-empty payload, the reference's null-path filter P9),
      // token sum, avg tokens per WITH-FILE entry (sum/with_file, NOT /count
      // — get_data_stats.py:83-89), max tokens; plus the grand-total rollup
      // row (the reference's 'total' row)
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", TF.tokenCountFast(col("text")))
        .withColumn("has_file", (length(col("text")) > 0).cast("int"))
      d.rollup(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("has_file")).as("with_file"),
          sum(col("n_tokens")).as("sum_tokens"),
          round(sum(col("n_tokens")).cast("double") / sum(col("has_file")), 6).as("avg_tokens_per_file"),
          max(col("n_tokens")).as("max_tokens"))
    }),

    // ---- window family (W1-W3 relational analogs) ----
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("seq", row_number().over(w))
        .withColumn("running_events",
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("event_id"), col("user_id"), col("seq"), col("running_events"))
    }),

    "q_sessionize" -> ((s, dir) => {
      // session id = running count of >30-min gaps (the reference's
      // running-sum-of-markers pattern, W2)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("gap",
          when(col("prev_ts").isNull, lit(1))
            .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, lit(1))
            .otherwise(lit(0)))
        .withColumn("session_id",
          sum(col("gap")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("event_id"), col("user_id"), col("session_id"))
    }),

    "q_rank_in_order" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_shipdate"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("ship_rank", row_number().over(w))
        .select(col("l_orderkey"), col("l_linenumber"), col("ship_rank"))
    }),

    // ---- projections / scalar functions (P1-P4, P7) ----
    "q_url_canonicalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.org/doc/"),
            col("doc_id"), lit("?ID="), col("n_chars")))
      docs.select(
        col("doc_id"),
        col("url"),
        Urls.canonicalize(col("url")).as("canonical_url"),
        Urls.host(col("url")).as("host"))
    }),

    "q_date_format" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "dd-MM-yyyy").as("formatted_date"))
    }),

    "q_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
    }),

    "q_token_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TF.tokenCountFast(col("text")).as("n_tokens"),
        TF.tokenCountBpeIsh(col("text")).as("n_bpeish"),
        length(col("text")).as("n_chars_actual"),
        TF.punctCount(col("text")).as("n_punct"),
        TF.digitCount(col("text")).as("n_digits"))
    }),

    "q_filenames" -> ((s, dir) => {
      // P4 (retrievers/utils.py:37-52): filename from Content-Disposition
      // (header synthesized for every 3rd doc) else URL-path basename, made
      // path-safe, then the reference's collision rename: the n-th duplicate
      // target name becomes base_(n).ext in arrival order. P10 `constrain`
      // yields the log-display name.
      val d = t(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.org/dl/"), pmod(col("doc_id"), lit(40)).cast("string"), lit(".pdf")))
        .withColumn("content_disposition",
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("attachment; filename=doc "), pmod(col("doc_id"), lit(25)).cast("string"), lit(".pdf"))))
      val named = d.withColumn("file_name",
        Urls.pathSafeName(Urls.fileName(col("content_disposition"), col("url"))))
      val w = Window.partitionBy(col("file_name")).orderBy(col("doc_id"))
      named.withColumn("rn", row_number().over(w))
        .withColumn("ext",
          when(col("file_name").rlike("\\.[^.]*$"),
            regexp_extract(col("file_name"), "(\\.[^.]*)$", 1)).otherwise(lit("")))
        .withColumn("final_name",
          when(col("rn") === 1, col("file_name"))
            .otherwise(concat(
              expr("substring(file_name, 1, length(file_name) - length(ext))"),
              lit("_("), (col("rn") - 1).cast("string"), lit(")"), col("ext"))))
        .select(col("doc_id"), col("file_name"), col("final_name"),
          TF.constrain(col("final_name"), 20).as("display_name"))
    }),

    "q_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TF.tokenCountFast(col("text")).as("n_tokens"),
        TF.stopwordCount(col("text")).as("n_stopwords"),
        TF.qualityKeep(col("text")).as("keep"))
    }),

    "q_lang_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // ---- text-dedup sketches. The sketch kernels' hash arithmetic is
    // Lehmer/MINSTD folds in the 2^31-1 field, every step i64-exact, so
    // DuckDB reproduces the raw sketch values of q_simhash,
    // q_minhash_candidates and q_fingerprint bit-for-bit. ----
    "q_minhash_candidates" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // (a doc_id tSpread of the sig input was A/B'd and reverted: the sig
      // pass over sf-scale documents is ~0.3 s single-task, and the extra
      // exchange + stage latency measured a net wash-to-loss)
      val pairs = Similarity.minhashNearDupPairs(d, "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 16, threshold = 0.25)
      // per-doc candidate count (left join keeps all docs → rows>0 always)
      d.select(col("doc_id"))
        .join(pairs.groupBy(col("id_a").as("doc_id"))
          .agg(count(lit(1)).as("n_candidates")), Seq("doc_id"), "left")
        .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
    }),

    "q_simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TF.simhash64(col("text")).as("simhash"))
        .withColumn("bucket", shiftrightunsigned(col("simhash"), 52))
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      // exact 3-gram jaccard of each doc vs the next doc in id order —
      // a deterministic pair sample exercising the verification kernel
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("text").as("text_b"))
      a.join(b, "id_a")
        .select(col("id_a").as("doc_id"),
          TF.ngramJaccard(col("text_a"), col("text_b"), 3).as("jaccard_next"))
    }),

    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.fingerprint(col("text"), 5, 8).as("fp"))
        .select(col("doc_id"), size(col("fp")).as("fp_size"),
          element_at(col("fp"), 1).as("fp_min"))
    }),

    "q_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), col("lang"),
        TF.langId(col("text")).as("predicted_lang"))
    }),

    "q_neardup_dedup" -> ((s, dir) => {
      // end-to-end near-dup path (sketch → exact verify → drop): plant
      // near-duplicates (docs 0..29 re-added as doc_id+20000 with one token
      // appended — 3-gram jaccard ≈ (n-2)/(n+1), far above the 0.6 decision
      // threshold) and run the full Dedup.nearDupDedup chain. The planted
      // copies must drop (their originals are earlier), everything else
      // survives. The oracle replicates the DECISION rule — exact 3-gram
      // jaccard ≥ 0.6 against any earlier doc — without the sketch, so the
      // query also proves LSH candidate recall covers every true near-dup.
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d0.filter(col("doc_id") < 30)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text"))
      val d = d0.unionByName(planted)
      Dedup.nearDupDedup(d, "doc_id", "text").select(col("doc_id"))
    }),

    "q_sketch_invariance" -> ((s, dir) => {
      // PROPERTY oracle for the three sketches (their raw values are pinned
      // by q_simhash/q_minhash_candidates/q_fingerprint; this pins the
      // invariants the dedup chain relies on, from text alone): plant
      // deterministic duplicates (docs 0..49 re-added under doc_id+10000,
      // same text) and verify, per planted pair, that (a) MinHash+LSH
      // candidate generation covers the pair — identical text ⇒ identical
      // signature ⇒ every band matches, no probabilistic flake; (b) SimHash
      // buckets agree (hamming 0); (c) winnowing fingerprints are identical.
      // DuckDB derives the expected answer (all true) from text equality.
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d0.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000)
      val d = d0.unionByName(planted)
      val a = d.select(col("doc_id").as("id_a"), col("text"))
      val b = d.select(col("doc_id").as("id_b"), col("text"))
      val exactPairs = a.join(b, "text")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val cands = Similarity.minhashNearDupPairs(d, "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 16, threshold = 0.25)
        .select(col("id_a"), col("id_b"), lit(true).as("c"))
      val sk = d.select(col("doc_id"),
        TF.simhash64(col("text")).as("sh"),
        TF.fingerprint(col("text"), 5, 8).as("fp"))
      val ska = sk.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("fp").as("fp_a"))
      val skb = sk.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("fp").as("fp_b"))
      exactPairs
        .join(cands, Seq("id_a", "id_b"), "left")
        .join(ska, "id_a").join(skb, "id_b")
        .select(col("id_a"), col("id_b"),
          coalesce(col("c"), lit(false)).as("minhash_covered"),
          (col("sh_a") === col("sh_b")).as("same_simhash"),
          TF.hamming64(col("sh_a"), col("sh_b")).cast("int").as("hamming"),
          (col("fp_a") === col("fp_b")).as("same_fingerprint"))
    }),

    // ---- similarity search ----
    "q_ann_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"), col("rank"))
    }),

    "q_ann_srp" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Similarity.srpTopK(e, q, "vec_id", "embedding", dim = 64, planes = 4, k = 5)
        .select(col("query_id"), col("corpus_id"), col("rank"))
    }),

    "q_embed_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup dedup, end to end: plant near-identical
      // vectors (vec_id < 20 re-added as vec_id+10000 scaled by exactly 2 —
      // a power-of-two scale is exact in float AND leaves both the SRP
      // bucket and the cosine (= 1) bit-reproducible in DuckDB), run the
      // bucket-scoped candidate → exact-cosine → keep-first drop chain.
      // Planted copies must drop; natural in-bucket pairs ≥ 0.95 (if any)
      // are computed identically by both engines.
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e0.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val e = e0.unionByName(planted)
      Similarity.embeddingNearDupDedup(e, "vec_id", "embedding",
        dim = 64, planes = 4, minCosine = 0.95)
        .select(col("vec_id"))
    }),

    "q_embedding_norms" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          TF.l2norm(col("embedding")).as("l2"),
          size(col("embedding")).as("dim"))
        .select(col("vec_id"), col("label"), col("dim"),
          (col("l2") > 0).as("nonzero"))
    }),

    // ---- interleaved-span operators (input-hint shape; Spark-only) ----
    "q_span_render" -> ((s, dir) => {
      synthDocs(s).select(col("doc_id"),
        length(Segregate.renderPlain(col("spans"))).as("plain_len"),
        length(Segregate.renderNoDigits(col("spans"))).as("nodigits_len"),
        length(Segregate.renderMarked(col("spans"))).as("marked_len"))
    }),

    "q_segregate" -> ((s, dir) =>
      // the crawl's streaming W1 fold, unfiltered (both thresholds 0)
      synthDocs(s)
        .select(col("doc_id"), lit("plain").as("extractor"),
          explode(GraftExpressionBridge.column(WireParagraphsExpr(
            GraftExpressionBridge.expression(WireFunctions.spansPayload(col("spans"))),
            minSents = 0, minWords = 0))).as("p"))
        .select(col("doc_id"), col("extractor"), col("p.page").as("page"),
          col("p.paragraph_number").as("paragraph_number"), col("p.content").as("content"),
          col("p.reference").as("reference"))),

    "q_sc_nested" -> ((s, dir) => {
      // S3: nested-struct scan (petitioner/respondent structs + bench array)
      // with D1 case-number keep-first routing — the reference shape that
      // forces nested types into the model (supreme_court.py:128-142)
      val sc = scJudgments(s)
      val w = Window.partitionBy(col("case_number")).orderBy(col("diary_number"))
      sc.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("case_number"),
          col("petitioner.name").as("petitioner_name"),
          col("petitioner.advocate").as("petitioner_advocate"),
          col("respondent.name").as("respondent_name"),
          size(col("bench")).as("bench_size"),
          array_join(col("bench"), ", ").as("bench_names"),
          col("document_href"))
    }),

    "q_w1_relational" -> ((s, dir) =>
      // W1(b): the same paragraph fold as a pure window/groupBy plan —
      // cross-checks the streaming fold through an independent DuckDB oracle
      Segregate.paragraphsRelational(synthDocs(s))),

    "q_rendering_dedup" -> ((s, dir) => {
      // output is (doc_id, sz) — hash-free, so the D2→D3 cascade is EXACTLY
      // oracle-checkable: DuckDB replicates the chain on the rendering
      // STRINGS themselves (equal strings ⇔ equal hashes w.h.p., and the
      // oracle proves the grouping, survivor choice, and chain order). The
      // hashes are the docs table's own identity, the crawl's kernel.
      val hashed = synthDocs(s)
        .select(col("doc_id"),
          WireFunctions.docHashesStruct(WireFunctions.spansPayload(col("spans"))).as("h"))
        .select(col("doc_id"), col("h.*"))
      val kept = Dedup.contentDedup(hashed, None, Seq(col("doc_id")))
      val survivors = Dedup.renderingDedup(
        kept, Segregate.RenderingNames, None, Seq(col("doc_id")))
      survivors.select(col("doc_id"), col("sz"))
    }),

    "q_media_features" -> ((s, dir) => {
      val media = Multimodal.mediaTable(synthDocs(s))
      Multimodal.decodeFeatures(media, partitions = 8)
        .select(col("doc_id"), col("media_ref"), col("width"), col("height"),
          size(col("feature")).as("feat_dim"))
    }),

    "q_frame_sample" -> ((s, dir) => {
      Multimodal.sampleFrames(Multimodal.mediaTable(synthDocs(s)), 4, 30)
    })
  )

  /** DuckDB-equivalent SQL per query (same column names; same
    * exact-decimal-then-double arithmetic); every query has one. */
  // ---------------------------------------------------------------------
  // Sketch oracles: DuckDB replicas of the Lehmer (i64-arithmetic) sketch
  // kernels — every intermediate fits BIGINT, so the raw sketch values are
  // bit-exact across engines (same scheme that made q_ann_srp exactly
  // oracle-checkable). The CTE prefix reproduces SketchKernels.tokenHashes:
  // ASCII-\s tokens of lower(text), then h = (h*48271 + codepoint)
  // mod (2^31-1) per token.
  // ---------------------------------------------------------------------

  private val tokenHashCte: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[\t\n\x0B\f\r ]+'), t -> t != '') AS toks
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, list_transform(toks, t ->
      |    list_reduce(
      |      list_prepend(0::BIGINT, list_transform(range(1, length(t)+1), i -> unicode(t[i])::BIGINT)),
      |      (a, c) -> (a*48271 + c) % 2147483647)) AS th
      |  FROM tok)""".stripMargin

  /** k-shingle hash chain over token-hash positions i..i+k-1 (1-based `th`),
    * sh = (sh*48271 + th_j) mod M with sh0 = 0 (first step = th[i], < M). */
  private def lehmerChainSql(k: Int): String = {
    var e = "th[i]"
    var j = 1
    while (j < k) { e = s"(($e)*48271 + th[i+$j]) % 2147483647"; j += 1 }
    e
  }

  private def simhashOracleSql: String = {
    val bits = (0 until 64).map(i =>
      s"CASE WHEN coalesce(list_sum(list_transform(hs, h -> ((h >> $i) & 1)*2 - 1)), 0) > 0 THEN 1 ELSE 0 END AS b$i")
      .mkString(",\n  ")
    // acc bit (63-i) <- sign of counts(i); the i=0 term is the sign bit,
    // added as -2^63 so every intermediate stays in BIGINT range
    val acc = "CASE WHEN b0 = 1 THEN -9223372036854775807 - 1 ELSE 0 END" +
      (1 until 64).map(i => s" + b$i * ${1L << (63 - i)}").mkString
    s"""$tokenHashCte,
       |th1 AS (SELECT doc_id, list_transform(th, h -> (h*48271 + 1) % 2147483647) AS h1 FROM th),
       |h64 AS (SELECT doc_id, list_transform(h1, g -> g*2147483648 + (g*48271 + 1) % 2147483647) AS hs FROM th1),
       |bits AS (SELECT doc_id,
       |  $bits
       |FROM h64),
       |sh AS (SELECT doc_id, $acc AS simhash FROM bits)
       |SELECT doc_id, simhash, (simhash >> 52) & 4095 AS bucket FROM sh""".stripMargin
  }

  private def fingerprintOracleSql: String =
    s"""$tokenHashCte,
       |shg AS (SELECT doc_id,
       |  CASE WHEN len(th) >= 5 THEN list_transform(range(1, len(th) - 3), i -> ${lehmerChainSql(5)})
       |       ELSE []::BIGINT[] END AS shingles FROM th),
       |fp AS (SELECT doc_id, list_sort(list_distinct(shingles))[1:8] AS fps FROM shg)
       |SELECT doc_id, CAST(len(fps) AS INT) AS fp_size, fps[1] AS fp_min FROM fp""".stripMargin

  private def minhashOracleSql: String = {
    val M = 2147483647L
    // per-seed affine permutation constants, identical to the engine:
    // a_h = ((h+1)*1103515245 + 42) mod M, b_h = (a_h*48271 + 1) mod M
    val sigExprs = (0 until 32).map { h =>
      val a = ((h + 1).toLong * 1103515245L + 42L) % M
      val b = (a * 48271L + 1L) % M
      s"coalesce(list_min(list_transform(shingles, s -> ($a*s + $b) % 2147483647)), 9223372036854775807)"
    }.mkString("[\n  ", ",\n  ", "]")
    s"""$tokenHashCte,
       |shg AS (SELECT doc_id,
       |  CASE WHEN len(th) >= 3 THEN list_transform(range(1, len(th) - 1), i -> ${lehmerChainSql(3)})
       |       ELSE []::BIGINT[] END AS shingles FROM th),
       |sig AS (SELECT doc_id, $sigExprs AS sig FROM shg),
       |bandt AS (SELECT doc_id, sig, u.band,
       |    (((sig[2*u.band+1] % 2147483647))*48271 + (sig[2*u.band+2] % 2147483647)) % 2147483647 AS key
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS band) u),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bandt a JOIN bandt b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |ver AS (SELECT p.id_a FROM pairs p
       |  JOIN sig x ON x.doc_id = p.id_a
       |  JOIN sig y ON y.doc_id = p.id_b
       |  WHERE list_sum(list_transform(range(1, 33),
       |          i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) >= 8),
       |cnt AS (SELECT id_a AS doc_id, count(*) AS n_candidates FROM ver GROUP BY 1)
       |SELECT d.doc_id, coalesce(c.n_candidates, 0) AS n_candidates
       |FROM documents d LEFT JOIN cnt c USING (doc_id)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "q_simhash" -> simhashOracleSql,
    "q_fingerprint" -> fingerprintOracleSql,
    "q_minhash_candidates" -> minhashOracleSql,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_stats_rollup" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  MAX(o_totalprice) AS max_price,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin,

    "q_daily_rollup" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_top_revenue" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)""".stripMargin,

    "q_keepfirst" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keeper, COUNT(*) AS copies
        |FROM documents GROUP BY text""".stripMargin,

    "q_merge_multimap" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin,

    "q_window_running" ->
      """SELECT event_id, user_id,
        |  ROW_NUMBER() OVER w AS seq,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_events
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q_sessionize" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
        |         WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 THEN 1
        |         ELSE 0 END AS gap
        |  FROM events)""".stripMargin,

    "q_rank_in_order" ->
      """SELECT l_orderkey, l_linenumber,
        |  ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber) AS ship_rank
        |FROM lineitem""".stripMargin,

    "q_url_canonicalize" ->
      """SELECT doc_id,
        |  'https://' || source || '.example.org/doc/' || doc_id || '?ID=' || n_chars AS url,
        |  'https://' || source || '.example.org/doc/' || doc_id AS canonical_url,
        |  source || '.example.org' AS host
        |FROM documents""".stripMargin,

    "q_date_format" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%d-%m-%Y') AS formatted_date
        |FROM orders""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin,

    "q_token_stats" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS n_tokens,
        |  len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS n_bpeish,
        |  length(text) AS n_chars_actual,
        |  length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
        |FROM documents""".stripMargin,

    "q_filenames" ->
      """WITH named AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      CASE WHEN doc_id % 3 = 0 THEN 'doc ' || (doc_id % 25) || '.pdf'
        |           ELSE (doc_id % 40) || '.pdf' END,
        |      '[\\/:*?"<>|]+', '_', 'g'), '\s+', ' ', 'g') AS file_name
        |  FROM documents),
        |r AS (SELECT doc_id, file_name,
        |        ROW_NUMBER() OVER (PARTITION BY file_name ORDER BY doc_id) AS rn
        |      FROM named),
        |e AS (SELECT *, regexp_extract(file_name, '(\.[^.]*)$', 1) AS ext FROM r),
        |f AS (SELECT doc_id, file_name,
        |        CASE WHEN rn = 1 THEN file_name
        |             ELSE substr(file_name, 1, length(file_name) - length(ext))
        |                  || '_(' || (rn - 1) || ')' || ext END AS final_name
        |      FROM e)
        |SELECT doc_id, file_name, final_name,
        |  CASE WHEN length(final_name) > 20
        |       THEN substr(final_name, 1, 9) || '...' || substr(final_name, length(final_name) - 7, 8)
        |       ELSE rpad(final_name, 20, ' ') END AS display_name
        |FROM f""".stripMargin,

    "q_lang_stats" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_merge_judgments" ->
      """WITH ranked AS (
        |  SELECT source || '/' || (doc_id % 50) AS cluster, doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source || '/' || (doc_id % 50) ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT k.cluster,
        |  array_to_string([k.doc_id] || coalesce(r.req_doc_ids, []), ',') AS doc_ids,
        |  array_to_string([k.lang] || coalesce(r.req_langs, []), ',') AS langs,
        |  array_to_string([k.n_chars] || coalesce(r.req_n_chars, []), ',') AS n_charss,
        |  1 + coalesce(r.cnt, 0) AS n_merged
        |FROM (SELECT cluster, doc_id, lang, n_chars FROM ranked WHERE rn = 1) k
        |LEFT JOIN (
        |  SELECT cluster,
        |    list(doc_id ORDER BY doc_id) AS req_doc_ids,
        |    list(lang ORDER BY doc_id) AS req_langs,
        |    list(n_chars ORDER BY doc_id) AS req_n_chars,
        |    COUNT(*) AS cnt
        |  FROM ranked WHERE rn > 1 GROUP BY cluster) r USING (cluster)""".stripMargin,

    "q_stats_full" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(has_file) AS BIGINT) AS with_file,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  round(CAST(SUM(n_tokens) AS DOUBLE) / SUM(has_file), 6) AS avg_tokens_per_file,
        |  MAX(n_tokens) AS max_tokens
        |FROM (
        |  SELECT source,
        |    CASE WHEN length(text) = 0 THEN 0
        |         ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS n_tokens,
        |    CASE WHEN length(text) > 0 THEN 1 ELSE 0 END AS has_file
        |  FROM documents)
        |GROUP BY ROLLUP(source)""".stripMargin,

    "q_quality" -> {
      val stop = graft.operators.Segregate.Stopwords.map(w => s"'$w'").mkString(",")
      s"""SELECT doc_id, n_tokens, n_stopwords,
         |  (n_tokens >= 20 AND n_digits * 4 < n_chars AND n_punct * 4 < n_chars
         |   AND n_stopwords * 20 >= n_tokens) AS keep
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN length(text) = 0 THEN 0
         |         ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS n_tokens,
         |    len(list_filter(string_split_regex(lower(text), '\\s+'),
         |        x -> len(x) > 0 AND x IN ($stop))) AS n_stopwords,
         |    length(text) AS n_chars,
         |    length(text) - length(regexp_replace(text, '\\p{N}', '', 'g')) AS n_digits,
         |    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct
         |  FROM documents)""".stripMargin
    },

    "q_lang_id" -> {
      val scores = TF.LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
        val in = markers.map(m => s"'$m'").mkString(",")
        s"{'score': len(list_filter(toks, x -> x IN ($in))), 'lang': '$lang'}"
      }.mkString(",\n         |    ")
      s"""SELECT doc_id, lang,
         |  CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS predicted_lang
         |FROM (
         |  SELECT doc_id, lang, list_sort([
         |    $scores
         |  ])[-1] AS best
         |  FROM (SELECT doc_id, lang,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
         |  FROM documents))""".stripMargin
    },

    "q_embed_neardup" ->
      // same per-plane-seeded Lehmer plane arithmetic as q_ann_srp; the
      // planted scale-by-2 is exact in float, so bucket AND cosine match the
      // engine bit-for-bit
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (
        |  SELECT vec_id, v FROM e0
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id, list_transform(v, x -> x * 2.0) AS v
        |  FROM e0 WHERE vec_id < 20),
        |b AS (
        |  SELECT vec_id, v,
        |    list_sum(list_transform(range(0, 4), p ->
        |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
        |        v[i+1] * (((((((p+1)*1103515245 + 42) % 2147483647 + (i+1) * (((p+1)*1103515245 + 42) % 2147483647 * 48271 % 2147483647 + 1)) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) / 2147483647.0 * 2.0 - 1.0)
        |      )) > 0 THEN 1 << (3 - p) ELSE 0 END)) AS bucket
        |  FROM d),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, c.vec_id AS id_b
        |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        |  WHERE (CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(c.v, c.v) = 0 THEN 0.0
        |         ELSE list_dot_product(a.v, c.v) /
        |              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) END) >= 0.95)
        |SELECT vec_id FROM d
        |WHERE vec_id NOT IN (SELECT id_b FROM pairs)""".stripMargin,

    "q_embedding_norms" ->
      """SELECT vec_id, label, len(embedding) AS dim,
        |  (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0) AS nonzero
        |FROM embeddings""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS s
        |  FROM tok)
        |SELECT a.doc_id AS doc_id,
        |  CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) END AS jaccard_next
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "q_ann_bruteforce" ->
      """WITH c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |    CASE WHEN nc = 0 OR nq = 0 THEN 0.0
        |         ELSE dot / (sqrt(nc) * sqrt(nq)) END AS cosine
        |  FROM (SELECT query_id, corpus_id,
        |          list_dot_product(cv, qv) AS dot,
        |          list_dot_product(cv, cv) AS nc,
        |          list_dot_product(qv, qv) AS nq
        |        FROM c, q WHERE corpus_id != query_id))
        |SELECT query_id, corpus_id, rank FROM (
        |  SELECT query_id, corpus_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,

    "q_ann_srp" ->
      // the SRP plane matrix is per-plane-seeded Lehmer/MINSTD arithmetic in
      // the 2^31-1 field (SrpBucketExpr): seed_p=((p+1)*1103515245+42)%M,
      // step_p=seed_p*48271%M+1, x0=(seed_p+(i+1)*step_p)%M, then two Lehmer
      // rounds — every step fits BIGINT, so DuckDB reproduces the exact
      // plane doubles, buckets, and cosine ranks (verified bit-exact)
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (
        |  SELECT vec_id, v,
        |    list_sum(list_transform(range(0, 4), p ->
        |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
        |        v[i+1] * (((((((p+1)*1103515245 + 42) % 2147483647 + (i+1) * (((p+1)*1103515245 + 42) % 2147483647 * 48271 % 2147483647 + 1)) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) / 2147483647.0 * 2.0 - 1.0)
        |      )) > 0 THEN 1 << (3 - p) ELSE 0 END)) AS bucket
        |  FROM e),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    CASE WHEN list_dot_product(c.v, c.v) = 0 OR list_dot_product(q.v, q.v) = 0 THEN 0.0
        |         ELSE list_dot_product(c.v, q.v) /
        |              (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v))) END AS cosine
        |  FROM (SELECT * FROM b WHERE vec_id < 10) q
        |  JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id)
        |SELECT query_id, corpus_id, rank FROM (
        |  SELECT query_id, corpus_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,

    "q_neardup_dedup" ->
      // decision-rule replica without the sketch: a doc drops iff some
      // EARLIER doc shares exact 3-gram jaccard ≥ 0.6 with it; candidate
      // pairs are found by shared-shingle join (the LSH-free equivalent)
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000 AS doc_id, text || ' zzz' AS text
        |  FROM documents WHERE doc_id < 30),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS toks
        |  FROM d),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS s
        |  FROM tok),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |px AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |       FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
        |ver AS (
        |  SELECT id_b FROM px
        |  JOIN sh sa ON sa.doc_id = px.id_a
        |  JOIN sh sb ON sb.doc_id = px.id_b
        |  WHERE len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) > 0
        |    AND CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
        |        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.6)
        |SELECT doc_id FROM d
        |WHERE doc_id NOT IN (SELECT id_b FROM ver)""".stripMargin,

    "q_sketch_invariance" ->
      // the expected answer is derivable from text equality alone: identical
      // text ⇒ identical minhash signature (every LSH band matches, est
      // jaccard 1 ≥ threshold), identical simhash (hamming 0), identical
      // winnowing fingerprint — so every planted/natural exact-dup pair must
      // come back all-true from the engine's actual sketch pipeline
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  true AS minhash_covered, true AS same_simhash,
        |  CAST(0 AS INT) AS hamming, true AS same_fingerprint
        |FROM d a JOIN d b ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin,

    "q_rendering_dedup" ->
      // exact replica of the D2→D3 cascade on rendering STRINGS: D2 groups
      // by full span-content identity (sz + json of spans ≡ the engine's
      // sz/prefix/content hash triple), then the three chained keep-firsts
      // run on the plain / digit-stripped / marker-injected renderings in
      // declared order, survivor = min doc_id (the engine's arrival order)
      s"""WITH r AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(spans,
         |      s -> CASE WHEN s.text IS NULL THEN 256 ELSE length(s.text) END)) AS BIGINT) AS sz,
         |    CAST(to_json(spans) AS VARCHAR) AS content_key,
         |    array_to_string(list_transform(
         |      list_filter(spans, s -> s.kind IN ('text','heading')), s -> s.text), e'\\n\\n') AS plain,
         |    array_to_string(list_transform(
         |      list_filter(spans, s -> s.kind IN ('text','heading')),
         |      s -> CASE WHEN s.kind = 'heading' THEN e'[Heading]\\n' || s.text
         |                WHEN regexp_matches(s.text, '^\\p{Z}*\\p{N}+\\p{Z}*\\.') THEN e'[Paragraph]\\n' || s.text
         |                ELSE s.text END), e'\\n\\n') AS marked
         |  FROM read_parquet('$SynthDocsPath/*.parquet')),
         |r2 AS (SELECT *, regexp_replace(plain, '\\p{N}+', '', 'g') AS nodigits FROM r),
         |d2 AS (SELECT * FROM (SELECT *,
         |         ROW_NUMBER() OVER (PARTITION BY sz, content_key ORDER BY doc_id) AS rn
         |       FROM r2) WHERE rn = 1),
         |d3a AS (SELECT * FROM (SELECT doc_id, sz, nodigits, marked,
         |          ROW_NUMBER() OVER (PARTITION BY plain ORDER BY doc_id) AS rn
         |        FROM d2) WHERE rn = 1),
         |d3b AS (SELECT * FROM (SELECT doc_id, sz, marked,
         |          ROW_NUMBER() OVER (PARTITION BY nodigits ORDER BY doc_id) AS rn
         |        FROM d3a) WHERE rn = 1)
         |SELECT doc_id, sz FROM (SELECT doc_id, sz,
         |  ROW_NUMBER() OVER (PARTITION BY marked ORDER BY doc_id) AS rn
         |FROM d3b) WHERE rn = 1""".stripMargin,

    "q_span_render" ->
      s"""WITH r AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(
         |      list_filter(spans, s -> s.kind IN ('text','heading')), s -> s.text), e'\\n\\n') AS plain,
         |    array_to_string(list_transform(
         |      list_filter(spans, s -> s.kind IN ('text','heading')),
         |      s -> CASE WHEN s.kind = 'heading' THEN e'[Heading]\\n' || s.text
         |                WHEN regexp_matches(s.text, '^\\p{Z}*\\p{N}+\\p{Z}*\\.') THEN e'[Paragraph]\\n' || s.text
         |                ELSE s.text END), e'\\n\\n') AS marked
         |  FROM read_parquet('$SynthDocsPath/*.parquet'))
         |SELECT doc_id, length(plain) AS plain_len,
         |  length(regexp_replace(plain, '\\p{N}+', '', 'g')) AS nodigits_len,
         |  length(marked) AS marked_len
         |FROM r""".stripMargin,

    "q_segregate" -> segregateOracleSql,
    "q_w1_relational" -> segregateOracleSql,

    "q_sc_nested" ->
      s"""SELECT case_number,
         |  petitioner.name AS petitioner_name,
         |  petitioner.advocate AS petitioner_advocate,
         |  respondent.name AS respondent_name,
         |  len(bench) AS bench_size,
         |  array_to_string(bench, ', ') AS bench_names,
         |  document_href
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY case_number ORDER BY diary_number) AS rn
         |      FROM read_parquet('$ScJudgmentsPath/*.parquet'))
         |WHERE rn = 1""".stripMargin,

    "q_frame_sample" ->
      s"""WITH media AS (
         |  SELECT doc_id, s.media_ref AS media_ref
         |  FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('$SynthDocsPath/*.parquet'))
         |  WHERE s.kind = 'image')
         |SELECT doc_id, media_ref, CAST(i * 30 AS INT) AS frame_idx
         |FROM media, (SELECT unnest(range(0, 4)) AS i) g""".stripMargin,

    "q_media_features" ->
      s"""WITH media AS (
         |  SELECT doc_id, s.media_ref AS media_ref
         |  FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('$SynthDocsPath/*.parquet'))
         |  WHERE s.kind = 'image'),
         |h AS (
         |  SELECT doc_id, media_ref,
         |    list_sum(list_transform(range(1, length(p) + 1), i -> unicode(p[i:i]) * i)) % 1000003 AS hv
         |  FROM (SELECT doc_id, media_ref, media_ref || ':' || doc_id AS p FROM media))
         |SELECT doc_id, media_ref,
         |  CAST(64 + hv % 960 AS INT) AS width,
         |  CAST(64 + (hv // 7) % 960 AS INT) AS height,
         |  8 AS feat_dim
         |FROM h""".stripMargin
  )

  /** The W1 paragraph fold as portable SQL (same derivation as
    * [[graft.operators.Segregate.paragraphsRelational]]) — the oracle for BOTH
    * q_segregate (streaming fold) and q_w1_relational (relational plan). */
  private def segregateOracleSql: String =
    s"""WITH sp AS (
       |  SELECT doc_id, s.kind AS kind, s.text AS text, s."offset" AS off
       |  FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('$SynthDocsPath/*.parquet'))
       |  WHERE s.kind = 'heading' OR (s.kind = 'text' AND s.text IS NOT NULL)),
       |g AS (
       |  SELECT *,
       |    CASE WHEN kind = 'text' AND regexp_matches(text, '^\\p{Z}*\\p{N}+\\p{Z}*\\.') THEN 1 ELSE 0 END AS is_starter,
       |    CASE WHEN kind = 'heading' THEN 1 ELSE 0 END AS is_heading
       |  FROM sp),
       |h AS (
       |  SELECT *,
       |    SUM(is_starter + is_heading) OVER w AS grp,
       |    SUM(is_heading) OVER w AS heads
       |  FROM g WINDOW w AS (PARTITION BY doc_id ORDER BY off ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |para AS (
       |  SELECT doc_id, grp,
       |    MAX(CASE WHEN is_starter = 1 THEN heads END) AS hb,
       |    MAX(CASE WHEN is_starter = 1 THEN text END) AS starter_text,
       |    MAX(is_starter) AS starts_starter,
       |    string_agg(CASE WHEN is_starter = 0 AND is_heading = 0 THEN text END, ' ' ORDER BY off) AS tail_text
       |  FROM h GROUP BY doc_id, grp),
       |emit AS (
       |  SELECT *, LEAD(starts_starter) OVER (PARTITION BY doc_id ORDER BY grp) AS next_starter
       |  FROM para),
       |kept AS (
       |  SELECT *,
       |    regexp_extract(starter_text, '^((?:\\p{N}+\\p{Z}*\\.)+)', 1) AS ref_raw
       |  FROM emit WHERE starts_starter = 1 AND next_starter = 1)
       |SELECT doc_id, 'plain' AS extractor,
       |  CAST(hb + 1 AS INT) AS page,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY grp) AS INT) AS paragraph_number,
       |  trim(concat_ws(' ', trim(substr(starter_text, length(ref_raw) + 1)), tail_text)) AS content,
       |  NULLIF(regexp_replace(ref_raw, '\\p{Z}+', '', 'g'), '') AS reference
       |FROM kept""".stripMargin
}
