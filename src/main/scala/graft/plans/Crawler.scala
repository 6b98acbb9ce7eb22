package graft.plans

import graft.functions.Urls
import graft.model._
import graft.operators.{Dedup, Politeness, SeenSet, Segregate}
import graft.sources.{Snapshots, Synth, SynthConfig}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One fetch-event discovery joined with the parent entry's ordering state. */
final case class RawDiscovery(
    parent_priority: Long,
    parent_court: String,
    parent_query: String,
    parent_page: Int,
    url: String,
    court: String,
    query: String,
    page: Int,
    depth: Int,
    priority: Long,
    case_number: String,
    title: String,
    date: String,
    rank: Int)

final case class RoundReport(
    round: Int,
    scheduled: Long,
    fetched_ok: Long,
    fetch_failed: Long,
    dup_url: Long,
    robots_denied: Long,
    deferred: Long,
    new_docs: Long,
    dup_docs: Long,
    new_judgments: Long,
    merge_requests: Long,
    new_paragraphs: Long)

/** The crawl driver loop — the Spark re-architecture of the reference's
  * `search_and_scrape → extract → process → segregate → merge` pipeline
  * (`/root/reference/paracurate.py:96-110`), as an iterative batch fold over a
  * `Dataset[FrontierEntry]` (SURVEY.md §3.1, §7).
  *
  * Per round:
  *  1. D1 URL dedup of the pending frontier via one combined bloom+cuckoo
  *     probe projection + exact join on the probe-positive slice
  *     ([[SeenSet.markDupes]]);
  *  2. politeness scheduling: salted host buckets + bounded per-bucket
  *     priority queues ([[Politeness.scheduleFlagged]]) — overflow is *deferred*, not
  *     dropped;
  *  3. deterministic fetch ([[Politeness.fetchAll]]); transient failures are
  *     re-enqueued with `retry_count+1` up to `maxRetries`
  *     (reference retry loop, `src/extractors/adobe.py:111-138`);
  *  4. discoveries → new frontier entries (canonicalized/hashed in one
  *     columnar pass); listing rows → judgment metadata with D1 case/URL
  *     routing (drop same-case, merge-request same-URL-different-case,
  *     `search_and_scrape.py:52-94`);
  *  5. fetched PDFs → docs; D2 staged content dedup + D3 chained rendering
  *     dedup vs within-round and historical hashes ([[Dedup]]) — the staged
  *     and per-rendering hashes are columns OF the docs table, so history is
  *     one column-pruned scan of prior deltas;
  *  6. kept docs → paragraph segregation + sentence/word filter ([[Segregate]]);
  *  7. snapshot commit (frontier rewrite + per-table deltas; row counts from
  *     parquet footers — zero counting jobs) — crash-resumable at round
  *     granularity ([[Snapshots]]), then cuckoo+bloom filter update.
  *
  * Actions per round are deliberately few: three metric aggregations on
  * persisted frames, seven table writes, two filter updates. Everything else
  * is derived arithmetically or from parquet footers. Spark JOBS are more:
  * AQE submits one per query stage and broadcast. Every read passes the
  * table's declared schema ([[TableSchemas]]), so no read runs a
  * schema-inference job. Each history table is probed once per round,
  * map-side: one probe flags the D2/D3 cascade's rows for all four keys
  * ([[Dedup.dedupCascade]]), and one probe routes the round's judgments
  * into one persisted frame that both judgment tables are written from
  * ([[routeJudgments]]). Counted by RoundBudgetSpec (CrawlSpec fixture,
  * local[4], compaction every round): a round on an empty store runs 40
  * jobs and builds 1 broadcast hash relation; a history round runs 48-49
  * jobs and at most 9 relations (D1 probe 2, host salts 1, D2/D3 probe 2,
  * judgment probe 2, docs and paragraphs survivor joins 1 each). Every
  * keep-first order is an explicit total order (priority, url) so the whole
  * crawl — fetch order, final seen set, kept docs — is invariant to
  * partition count and parallelism (CrawlSpec asserts it).
  */
object Crawler {

  val FrontierTable = "frontier"
  val SeenTable = "seen"
  val DocsTable = "docs"
  val JudgmentsTable = "judgments"
  val MergeRequestsTable = "merge_requests"
  val ParagraphsTable = "paragraphs"
  val FetchLogTable = "fetch_log"
  val MetricsTable = "metrics"

  private val JudgmentCols =
    "court STRING, query STRING, page INT, rank INT, case_number STRING, title STRING, " +
      "date STRING, document_href STRING, canonical_url STRING, url_hash BIGINT, priority BIGINT"

  /** Every crawl table's schema as [[Snapshots.readDeltas]] returns it
    * (`round` last), declared once and passed to every read: an inferred
    * read costs one Spark job. CrawlSpec pins each declaration to the
    * schema inferred from a real store's files. */
  val TableSchemas: Map[String, StructType] = Map(
    FrontierTable ->
      ("url STRING, canonical_url STRING, url_hash BIGINT, host STRING, court STRING, " +
        "query STRING, page INT, depth INT, priority BIGINT, status STRING, " +
        "retry_count INT, discovered_round INT"),
    SeenTable -> "url_hash BIGINT, canonical_url STRING",
    DocsTable ->
      ("doc_id STRING, spans ARRAY<STRUCT<kind: STRING, text: STRING, media_ref: STRING, " +
        "offset: INT>>, priority BIGINT, court STRING, sz BIGINT, prefix_hash BIGINT, " +
        "content_hash STRING, render_hash_plain STRING, render_hash_nodigits STRING, " +
        "render_hash_marked STRING"),
    JudgmentsTable -> JudgmentCols,
    MergeRequestsTable -> JudgmentCols,
    ParagraphsTable ->
      ("doc_id STRING, extractor STRING, page INT, paragraph_number INT, content STRING, " +
        "reference STRING"),
    FetchLogTable ->
      ("url STRING, canonical_url STRING, url_hash BIGINT, host STRING, court STRING, " +
        "query STRING, page INT, depth INT, priority BIGINT, retry_count INT, " +
        "discovered_round INT, salt INT, fetchSeq INT, status STRING, kind STRING, " +
        "bytes BIGINT, latency_micros BIGINT, partition_id INT, doc_id STRING, " +
        "doc_hashes STRUCT<sz: BIGINT, prefix_hash: BIGINT, content_hash: STRING, " +
        "render_hash_plain: STRING, render_hash_nodigits: STRING, " +
        "render_hash_marked: STRING>, payload BINARY"),
    MetricsTable ->
      ("partition_id INT, host STRING, fetched BIGINT, failed BIGINT, bytes BIGINT, " +
        "avg_latency_micros DOUBLE")
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl + ", round INT") }

  private def readDeltas(spark: SparkSession, workDir: String, table: String): Option[DataFrame] =
    Snapshots.readDeltas(spark, workDir, table, TableSchemas.get(table))

  private def readTable(spark: SparkSession, workDir: String, round: Int, table: String): DataFrame =
    Snapshots.readTable(spark, workDir, round, table, TableSchemas.get(table))

  def filterDir(workDir: String): String = s"$workDir/filters"

  /** fetch_log file and row-group bounds (their rationale sits at the
    * fetch_log write in [[runRound]]). */
  private val FetchLogRecordsPerFile = 5000L
  private val FetchLogBlockMb = 32L

  /** Seen table across all committed rounds (exact side of D1); None when no
    * round has committed a seen delta yet (virgin store). */
  def seenAllOpt(spark: SparkSession, workDir: String): Option[DataFrame] =
    readDeltas(spark, workDir, SeenTable)

  /** Seen table across all committed rounds (exact side of D1). */
  def seenAll(spark: SparkSession, workDir: String): DataFrame =
    seenAllOpt(spark, workDir)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("url_hash", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("canonical_url", org.apache.spark.sql.types.StringType)))))

  private def frontierCols(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    spark.emptyDataset[FrontierEntry].columns.toSeq
  }

  /** Run (or resume) the crawl until the frontier drains or maxRounds. */
  def run(
      spark: SparkSession,
      cfg: CrawlConfig,
      synthCfg: SynthConfig,
      workDir: String,
      maxRounds: Int = 64): Seq[RoundReport] = {
    import spark.implicits._

    tuneScanGranularity(spark)

    val startRound = Snapshots.latestRound(workDir).map(_ + 1).getOrElse(1)
    if (startRound > 1) {
      // resume: filters may be stale or ahead — rebuild from the exact table
      // (the table is the source of truth; reference analog preprocess.py:290-356)
      SeenSet.rebuildFilters(seenAll(spark, workDir), filterDir(workDir))
    }
    var frontier: Dataset[FrontierEntry] =
      Snapshots.readLatest(spark, workDir, FrontierTable, TableSchemas.get(FrontierTable))
        .map(_.as[FrontierEntry])
        .getOrElse {
          // seeds go through the same canonicalize/hash pass as discoveries
          Synth.seedEntries(synthCfg).toDS().toDF()
            .withColumn("canonical_url", Urls.canonicalize($"url"))
            .withColumn("url_hash", Urls.urlHash($"canonical_url"))
            .withColumn("host", Urls.host($"url"))
            .select(frontierCols(spark).map(col): _*)
            .as[FrontierEntry]
        }
    var frontierCount =
      Snapshots.latestRound(workDir)
        .map(r => Snapshots.footerCount(Snapshots.tablePath(workDir, r, FrontierTable)))
        .getOrElse(synthCfg.courts.toLong * synthCfg.queriesPerCourt)

    val reports = Seq.newBuilder[RoundReport]
    var round = startRound
    while (frontierCount > 0 && round < startRound + maxRounds) {
      val (report, next, nextCount) = runRound(spark, cfg, synthCfg, workDir, round, frontier)
      reports += report
      frontier = next
      frontierCount = nextCount
      round += 1
    }
    reports.result()
  }

  /** Scan granularity: wide nested rows make the default 128 MB bins far too
    * coarse — a handful of tasks would starve the executor threads (measured:
    * the paras/dedup stages ran with 10-23 tasks and capped scaling at ~0.4
    * efficiency from 8→32 cores). 16 MB bins keep every thread fed; same
    * tuning applies on a real cluster for span tables. Applied per round so
    * direct `runRound` callers (bench, tests) get it too. */
  private def tuneScanGranularity(spark: SparkSession): Unit = {
    // 8 MB bins balance two task-count failure modes on the payload-sized
    // fetch_log scans: bins much larger than (bytes / ~4×cores) quantize a
    // wave into ~1.x task rounds with a mostly-idle second round, while very
    // small bins multiply the fixed per-task tax — task launch, codegen
    // lookup, one Hadoop-conf deserialization per task (JFR round 4). The
    // narrow tail scans additionally coalesce to 4×parallelism, so their
    // task count no longer rides the bin size at all.
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", (512L * 1024).toString)
    // Crawl-state table codec (fetch_log, docs, paras, seen/metrics deltas).
    // snappy, MEASURED (round 4, interleaved A/B pairs): zstd-3 compresses
    // the vocab-modeled text ~19× smaller but ran 19-30% slower at local[32]
    // in three consecutive adjacent pairs (codec CPU + the collapse of
    // byte-sized split planning under high compression outweigh the saved
    // bus bytes); lz4_raw (~9× smaller than snappy) was statistically
    // indistinguishable across five 32-core and five 8-core alternations
    // (effect, if any, below the host's ±40% weather). Worth re-testing on
    // quieter hardware, where lz4's fewer durable bytes should pay on the
    // write-bandwidth-ceiling story.
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    // Hadoop vectored IO reads pages through a weak-ref'd buffer pool — under
    // crawl-wave GC pressure the weak refs die and every read re-allocates
    // (16.8 GB per wave, JFR round 4). Its range-coalescing win targets
    // object-store latency; on node-local storage (this engine's scratch
    // model — and the bench's tmpfs) it is pure extra copies.
    spark.sparkContext.hadoopConfiguration
      .set("parquet.hadoop.vectored.io.enabled", "false")
    // Payload-aware vectorized-reader shape: the default 4096-row batch
    // means a ~60 MB on-heap column vector PER TASK for the ~15 KB binary
    // payload column — reserveInternal alone was 90 GB (22%) of the mega
    // wave's allocation and the single largest GC feeder at local[32] (JFR,
    // round 4). 512-row batches cut the per-task vector 8×, and off-heap
    // vectors take the buffer out of the young gen entirely (young GC cost
    // scales with allocation rate — precisely the 32-thread scaling tax).
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "512")
    spark.conf.set("spark.sql.columnVector.offheap.enabled", "true")
  }

  /** One crawl round. Returns (report, next frontier, next frontier count). */
  def runRound(
      spark: SparkSession,
      cfg: CrawlConfig,
      synthCfg: SynthConfig,
      workDir: String,
      round: Int,
      frontier: Dataset[FrontierEntry]): (RoundReport, Dataset[FrontierEntry], Long) = {
    import spark.implicits._

    tuneScanGranularity(spark)

    // Stage attribution: name every job's call site (thread-local, so each
    // concurrent Future names its own jobs) — the 8-vs-32 scaling work needs
    // per-stage wall/cpu/gc attributed to pipeline steps, and the default
    // lambda call sites are indistinguishable.
    def named[T](name: String)(body: => T): T = {
      spark.sparkContext.setCallSite(s"graft:$name")
      try body finally spark.sparkContext.clearCallSite()
    }

    val seenOpt = seenAllOpt(spark, workDir)
    val fCols = frontierCols(spark)

    // Within-frontier keep-first per canonical URL (deferred entries can
    // coexist with re-discoveries of the same URL; two entries per URL would
    // double-fetch) is FUSED into the politeness shuffle — same canonical →
    // same (host, salt) bucket, so Politeness.scheduleFlagged dedups with a
    // within-partition sort instead of a dedicated full-frontier
    // window-exchange here (one exchange per round instead of two).
    val pending = frontier.toDF()

    // ---- D1: URL-seen dedup (one probe projection + exact join) ----
    // + C4 robots gate: denied URLs are flagged in the SAME projection
    // (north rule: robots enforced in the politeness layer). Rejects are NOT
    // counted in a separate job — they ride the scheduling shuffle as
    // pass-through rows and every per-round count comes from ONE aggregate
    // over sched (the old dedicated count job was fixed driver cost paid
    // identically at every parallelism).
    // Virgin store (no committed seen delta): nothing can be a dup — skip
    // the probe/join subplan entirely instead of running every row through
    // the "missing filter ⇒ maybe-seen" conservative path (which would send
    // the ENTIRE first-wave frontier through the exact-join chain).
    val flagged = (seenOpt match {
      case Some(seen) =>
        SeenSet.markDupes(pending, seen, filterDir(workDir),
          probeRepartition = cfg.probeRepartition, seenKeysUnique = true)
      case None => pending.withColumn("__dup", lit(false))
    })
      .withColumn("__robots_denied",
        graft.operators.Robots.denied($"url", $"host", cfg.robots))
      .withColumn("__drop",
        when($"__dup", lit("dup")).when($"__robots_denied", lit("robots")))
      .select((fCols.map(col) :+ $"__drop"): _*)
      .persist()
    // Fill the cache with one action before scheduling: the scheduling query
    // reads `flagged` twice (host counts and slotted rows), and two tasks
    // racing to fill the same cache block leave one idle until the other
    // finishes ("Block rdd_N_0 already exists").
    named("d1-probe")(flagged.count())

    // ---- politeness scheduling + fetch ----
    // Scheduling counters ride the scheduling mapPartitions as accumulators
    // and become valid when the fetch-log write materializes the persisted
    // sched frame — the old dedicated groupBy-count job over sched was 2-3 s
    // of fixed wall per round, paid identically at every parallelism.
    val schedCtr = graft.operators.SchedCounters.create(spark)
    val sched = Politeness.scheduleFlagged(flagged, cfg, Some(schedCtr)).persist()

    // ---- fetch → durable events table (fetch_log) ----
    // The raw fetch output carries the doc spans — a WIDE frame. It is
    // written to parquet once and re-read with column pruning by every
    // consumer; persist() here would columnar-encode the spans into the
    // in-memory cache, whose builder serializes on storage-memory locks at
    // high thread counts (measured: 3× anti-scaling at local[32]).
    // hash-at-fetch: the D2/D3 identity columns are computed HERE, in the
    // fetch stage's output projection, while the payload bytes are in hand —
    // a native codegen expression, zero extra reads. The round-3 plan instead
    // re-scanned the committed fetch_log payload column for a dedicated hash
    // pass (79-148 cpu-s per wave; the single largest non-fetch cost in the
    // 8-vs-32 stage attribution). Downstream, the dedup chain reads only the
    // scalar doc_hashes leaves — nested schema pruning keeps the payload
    // column out of that scan entirely.
    val eventsRaw = Politeness.fetchAll(sched, synthCfg, cfg.minIntervalMicros)
      .withColumn("partition_id", spark_partition_id())
      .select(
        $"entry.url".as("url"), $"entry.canonical_url".as("canonical_url"),
        $"entry.url_hash".as("url_hash"), $"entry.host".as("host"),
        $"entry.court".as("court"), $"entry.query".as("query"),
        $"entry.page".as("page"), $"entry.depth".as("depth"),
        $"entry.priority".as("priority"), $"entry.retry_count".as("retry_count"),
        $"entry.discovered_round".as("discovered_round"),
        $"salt", $"fetchSeq", $"status", $"kind", $"bytes",
        $"latencyMicros".as("latency_micros"), $"partition_id",
        $"doc_id",
        graft.functions.WireFunctions.docHashesStruct($"payload").as("doc_hashes"),
        $"payload")
    // NO paras-at-fetch (round 5, reversing the round-4 choice on a round-5
    // measurement): the fetched paragraph content was 40% of fetch_log's
    // durable bytes (48.8 of 123 MB in the column-chunk breakdown) and rode
    // the FETCH stage — the binding stage of the 8→32 scaling pair (eff
    // 0.45) on the binding resource (durable-write bandwidth, ceiling
    // 0.34-0.44). The fold now runs at the paragraphs write over dedup
    // SURVIVORS only, via the same byte-direct kernel on a payload re-scan
    // coalesced to tailTasks — the tail stages scale at eff ~0.71, and the
    // round-4 objection to the re-scan (~700 task launches) predates the
    // coalesce(tailTasks) discipline. Net: the same fold work moved from
    // the worst-scaling stage to a better one, and ~40% of the fetch wave's
    // durable bytes gone.
    // bounded files ⇒ downstream scans parallelize evenly even though the
    // fetch partitioning is politeness-skewed (dominant court hosts)
    val fetchLogCount = named("fetch+log-write")(Snapshots.writeTable(workDir, round, FetchLogTable, eventsRaw,
      // 5000 rows ≈ 25 MB files: still split into ~3 scan tasks each by the
      // 8 MB bins (skew control intact), but 5× fewer files than the old
      // 1000-row bound — measured 8% faster at local[32] AND 20% at local[8]
      // (per-file task-launch/footer/commit overhead steals worker cpu) with
      // ~40 GB less allocation per wave
      maxRecordsPerFile = FetchLogRecordsPerFile,
      // no compression option: the log rides the session default (snappy;
      // tuneScanGranularity has the round-4 zstd/lz4 A/B verdict). An
      // uncompressed log was tried and MEASURED 2.5-3× slower at 32 threads
      // with unchanged 8-thread wall — the log rides the node-local scratch
      // (tmpfs in the bench), so every saved on-disk byte is saved MEMORY
      // traffic, and the 32-wide side of the scaling pair is exactly the
      // bandwidth-saturated one.
      // no min/max statistics for the opaque payload blob: nobody range-
      // predicates on payload bytes, and parquet's stats tracking copies
      // every new extreme of a ~26 KB binary (Binary.copy inside
      // updateStats profiled at 4 GB/wave) into footers nobody reads
      extraOptions = Map(
        "parquet.column.statistics.enabled#payload" -> "false",
        // 32 MB row groups (default 128 MB): every concurrent write task
        // holds one open row group's pages LIVE on heap, and uncompressed
        // payload pages doubled that footprint — at 32 writers the default
        // block size promoted ~4 GB of page buffers per wave into the old
        // gen and triggered multi-second Full GCs (gc log, round 4). The
        // 16 MB scan bins split these files at row-group grain regardless.
        "parquet.block.size" -> (FetchLogBlockMb * 1024 * 1024).toString)))
    // valid now: the write above materialized the sched cache
    val scheduledCount = schedCtr.scheduled
    val deferredCount = schedCtr.deferred
    val dupUrlCount = schedCtr.dup
    val robotsDeniedCount = schedCtr.robots

    // zero-deferral short-circuit (same rationale as retriesFor: the count
    // is already known from the scheduling accumulators — an unthrottled
    // wave must not pay a full re-scan of the sched cache for zero rows)
    val deferred =
      if (deferredCount == 0L) spark.emptyDataset[FrontierEntry]
      else sched
        .filter(s => !s.scheduled && s.entry.status == "deferred")
        .map(_.entry.copy(status = "pending"))

    val events = readTable(spark, workDir, round, FetchLogTable)

    // ONE narrow, coalesced, cached image of the event log. The fetch_log's
    // files are payload-sized, so its 8 MB scan bins put ~14 task-splits per
    // worker thread — right for the two payload consumers (docs/paras), but
    // the FIVE scalar consumers (event aggregate, seen delta, retry leg,
    // dedup-hash chain, metrics rollup) each re-paid ~450 task launches +
    // one Hadoop-conf deserialization per task (~2000 control-flow gzip
    // EOFExceptions each — 7 GB of exception allocation per wave, JFR round
    // 4) to read ~150 B/row of scalars. They now share one coalesced cache:
    // one narrow scan, parallelism-sized jobs, and the seen/metrics deltas
    // write O(cores) files per round instead of O(payload splits) — which is
    // also what keeps the history-table file counts flat for the growth
    // story. The cache is ~200 B/row (payload pruned at the scan), so it is
    // always memory-resident; spans/payload bytes never enter it.
    val eventsNarrow = events.select(
        events.columns.filter(_ != "payload").map(col): _*)
      .coalesce(math.max(1, spark.sparkContext.defaultParallelism))
      .persist()

    // one fused aggregate for every event-level metric, submitted
    // CONCURRENTLY (the result feeds only the report — Awaited at the end,
    // off the critical path). NB: `kind === "pdf"` not a payload probe — the
    // scalar column keeps the binary payload out of this scan entirely
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val evAggF = Future(named("ev-agg")(eventsNarrow.agg(
      count(when($"status" === "ok", 1)).as("ok"),
      count(when($"status" === "ok" && $"kind" === "pdf", 1)).as("docs_raw")).collect()(0)))

    val okEvents = events.filter($"status" === "ok")
    val okNarrow = eventsNarrow.filter($"status" === "ok")

    // retries: transient failures re-enqueued up to maxRetries (C3).
    // Defined lazily as a FUNCTION of the known failure count: when the
    // round had zero failures (known from the fused event aggregate), the
    // retry leg of the next-frontier union collapses to an empty
    // LocalRelation instead of a full 600-file scan of the fetch_log — in
    // the all-ok mega wave that scan was 617 no-op task launches riding the
    // frontier write's critical path.
    def retriesFor(failCount: Long): Dataset[FrontierEntry] =
      if (failCount == 0L) spark.emptyDataset[FrontierEntry]
      else eventsNarrow.filter($"status" =!= "ok")
        .select(fCols.map(col): _*)
        .as[FrontierEntry]
        .filter(_.retry_count + 1 < cfg.maxRetries)
        .map(e => e.copy(retry_count = e.retry_count + 1, status = "pending"))

    // newly seen URLs: everything successfully fetched this round. No
    // distinct: the keep-first fused into the politeness shuffle guarantees
    // at most one fetch per canonical URL per round (retries/deferred go to
    // the NEXT round), so the old .distinct() was a pure exchange+aggregate
    // over the full wave (CrawlSpec pins seen-set equality vs the oracle).
    val seenDelta = okNarrow
      .select($"url_hash", $"canonical_url")

    // ---- discoveries → next frontier + judgment metadata ----
    // kind filter first: pdf payloads hold the span bytes and have no
    // discoveries — the filter keeps them out of this scan entirely.
    // When the round fetched ONLY pdfs (okCount == docsRawCount, known from
    // the already-submitted event aggregate), the discovery source is an
    // empty LocalRelation: the dozen downstream judgment-routing stages
    // (windows, probe joins, unions) collapse to no-task plans instead of
    // running a full empty-input job pipeline — a pure fixed-cost cut in
    // pdf-heavy rounds.
    val evAgg = Await.result(evAggF, Duration.Inf)
    val (okCount, docsRawCount) = (evAgg.getLong(0), evAgg.getLong(1))
    val failCount = fetchLogCount - okCount
    val pdfOnly = okCount == docsRawCount

    // ---- docs-hash chain, launched CONCURRENTLY with the judgment routing
    // below (independent given the committed fetch log). The identity
    // columns were computed AT FETCH (doc_hashes struct, see eventsRaw): this
    // scan touches only the scalar leaves — nested schema pruning keeps the
    // payload column unread, so the dedup windows run on a ~150 B/row frame
    // with no payload decompress at all. A docless pdf event (failed/partial
    // fetch shape) carries a null doc_hashes and is filtered out here instead
    // of crashing the typed encoder (ADVICE r3). ----
    val docsHistory = readDeltas(spark, workDir, DocsTable)
    val arrival = Seq($"priority", $"doc_id")
    val narrowHashed = okNarrow
      .filter($"kind" === "pdf" && $"doc_hashes".isNotNull)
      .select($"doc_id", $"priority", $"court",
        $"doc_hashes.sz".as("sz"),
        $"doc_hashes.prefix_hash".as("prefix_hash"),
        $"doc_hashes.content_hash".as("content_hash"),
        $"doc_hashes.render_hash_plain".as("render_hash_plain"),
        $"doc_hashes.render_hash_nodigits".as("render_hash_nodigits"),
        $"doc_hashes.render_hash_marked".as("render_hash_marked"))
    // D2 then D3 as ONE cascade: one history probe flags every row for the
    // content key and all three rendering keys (Dedup.keepFirstProbed).
    // Persisted: the survivor frame is consumed twice (docs-table write AND
    // the paragraph pass) — without the persist the second consumer would
    // re-run the whole window chain and history probe. ~150 B/row,
    // politeness-bounded: always cache-resident.
    val keptNarrow = Dedup.dedupCascade(narrowHashed,
      Dedup.ContentKey +: Segregate.RenderingNames.map(Dedup.renderingKey),
      docsHistory, arrival).persist()
    val keptMaterializedF = Future(named("dedup-chain")(keptNarrow.count()))
    val discovered: Dataset[RawDiscovery] =
      if (pdfOnly) spark.emptyDataset[RawDiscovery]
      else okEvents
        .filter($"kind" =!= "pdf")
        .select($"priority".as("parent_priority"), $"court".as("parent_court"),
          $"query".as("parent_query"), $"page".as("parent_page"), $"payload")
        .as[(Long, String, String, Int, Array[Byte])]
        .flatMap { case (pprio, pcourt, pquery, ppage, payload) =>
          graft.sources.Wire.decodeDiscovered(payload)
            .map(d => RawDiscovery(pprio, pcourt, pquery, ppage, d.url, d.court, d.query,
              d.page, d.depth, d.priority, d.caseNumber, d.title, d.date, d.rank))
        }

    val discoveredDF = discovered.toDF()
      .withColumn("priority",
        when($"priority" === -1L,
          // inherit the parent's total order, bump the depth byte (Synth doc)
          $"parent_priority".bitwiseAND(lit(~0xFFL)) + $"depth")
          .otherwise($"priority"))
      .withColumn("court", coalesce($"court", $"parent_court"))
      .withColumn("query", coalesce($"query", $"parent_query"))
      .withColumn("page", when($"page" === -1, $"parent_page").otherwise($"page"))
      .withColumn("canonical_url", Urls.canonicalize($"url"))
      .withColumn("url_hash", Urls.urlHash($"canonical_url"))
      .withColumn("host", Urls.host($"url"))
      .persist()
    // Fill the cache with one action before its first readers: the judgment
    // routing and the next-frontier write read it from concurrent jobs, and
    // two tasks racing to fill the same cache block leave one idle until the
    // other finishes ("Block rdd_N_0 already exists"). Not in pdf-only
    // rounds, where the frame is an empty LocalRelation.
    if (!pdfOnly) named("discoveries")(discoveredDF.count())

    // judgment rows (listing discoveries carry case metadata)
    val judgRaw = discoveredDF.filter($"case_number".isNotNull)
      .select($"court", $"query", $"page", $"rank", $"case_number", $"title", $"date",
        $"url".as("document_href"), $"canonical_url", $"url_hash", $"priority")

    // D1-case routing (search_and_scrape.py:52-94), once per round into one
    // persisted frame that both judgment tables are written from. Not
    // persisted in pdf-only rounds, where it is empty by construction: a
    // cache would hide that from the optimizer and cost a job to fill.
    val routedPlan = routeJudgments(judgRaw, readDeltas(spark, workDir, JudgmentsTable))
    val routed = if (pdfOnly) routedPlan else routedPlan.persist()
    val judgKept = routed.filter($"route" === "kept").drop("route")
    val mergeRequests = routed.filter($"route" === "merge").drop("route")
    // NOTE: no per-round literal columns — the snapshot layout's round=
    // partition dir carries the round, keeping plans identical across rounds
    // (codegen cache hits instead of a janino recompile per round).
    // pdf-only rounds (okCount == docsRawCount, known from the fused event
    // aggregate): the judgments/merge frames are empty BY CONSTRUCTION —
    // skip their write jobs entirely instead of submitting a job to write a
    // zero-row directory (readDeltas tolerates missing round dirs, so
    // readers are unaffected; a clean-window mega wave paid ~1-2 s of
    // fixed job latency here at every parallelism).
    // write early, re-read (see eventsRaw note) — judgments feed the frontier
    val judgCount =
      if (pdfOnly) 0L
      else named("judgments-write")(Snapshots.writeTable(workDir, round, JudgmentsTable, judgKept))
    // pdf-only rounds: judgKept is already an empty LocalRelation — reuse it
    // instead of re-reading a zero-row table (scan-plan latency)
    val judgmentsDelta =
      if (pdfOnly) judgKept
      else readTable(spark, workDir, round, JudgmentsTable)

    // next-frontier candidates: kept judgments' hrefs + non-judgment
    // discoveries (next listing pages, resolved pdf urls)
    val fromJudg = judgmentsDelta
      .select($"document_href".as("url"), $"canonical_url", $"url_hash", $"court",
        $"query", $"page", $"priority")
      .withColumn("host", Urls.host($"url"))
      .withColumn("depth", lit(1))
    val fromOther = discoveredDF.filter($"case_number".isNull)
      .select($"url", $"canonical_url", $"url_hash", $"court", $"query", $"page",
        $"priority", $"host", $"depth")
    val newEntries = fromJudg.unionByName(fromOther)
      // L2 depth budget: discoveries past maxDepth never enter the frontier
      .filter($"depth" <= cfg.maxDepth)
      .withColumn("status", lit("pending"))
      .withColumn("retry_count", lit(0))
      .withColumn("discovered_round", lit(round))
      .select(fCols.map(col): _*)

    // within-round frontier dedup: keep-first per canonical URL (total order)
    val wFront = Window.partitionBy($"canonical_url").orderBy($"priority", $"url")
    val nextNew = newEntries.withColumn("__rn", row_number().over(wFront))
      .filter($"__rn" === 1).drop("__rn").as[FrontierEntry]

    val nextFrontier = deferred.unionByName(retriesFor(failCount)).unionByName(nextNew)

    // ---- docs: D2 + D3 + segregation ----
    // Wide-row discipline: the span payload never enters a shuffle and is
    // only decoded twice — once STREAMED through the hash kernel
    // (Wire.docHashesStreaming over the payload bytes, at fetch), and once
    // for dedup SURVIVORS at the docs-table write. The D2/D3 keep-first windows
    // and the history probe run on the NARROW hash frame (~150 B/row), and
    // the surviving doc_ids are broadcast back onto the payload rows
    // (docs-per-round is politeness-bounded, so the survivor set is always
    // broadcastable). Shuffling spans through the four dedup exchanges
    // instead measured 3× slower at local[32] and would be catastrophic at
    // cluster scale.
    // The survivor materialization was launched as a concurrent job before
    // the judgments chain — by the time the routing windows finish, the
    // hash scan is done or nearly so.
    Await.result(keptMaterializedF, Duration.Inf)
    // survivors' spans decode ZERO-COPY (UTF8String slices of the payload
    // array, straight to Catalyst rows — WireSpansExpr): the round-3 UDF
    // decoded Seq[Span] objects for the struct encoder to re-encode, and that
    // object churn was 45 s of GC in this stage alone at local[32]
    // Task-count discipline for the two tail scans: the fetch_log's 16 MB
    // bins are sized for the payload column, so a scan of it spawns
    // O(payload_bytes / 16 MB) tasks (~1,200 per mega wave) even when the
    // read is narrow — and each task pays launch + codegen-lookup + Hadoop
    // conf overhead. Coalesce (no shuffle: adjacent bins merge into one
    // task) to ~4 waves per thread; on a cluster defaultParallelism scales
    // with executors, so the grain stays right at any width.
    // ×2 (not ×4), MEASURED r5 at local[32] over interleaved pairs: the two
    // payload-consuming tail stages run concurrently, so ×2 already puts
    // ~4 write tasks per worker thread in flight while HALVING the number of
    // concurrent open parquet writers (page/slab buffers were the tail's
    // top allocation site) — tail wall 12.7/8.5 → 7.3/6.4 s at 32 cores,
    // a wash at 8 (the width where buffers never contended).
    val tailTasks = math.max(1, spark.sparkContext.defaultParallelism * 2)
    val docsKept = okEvents.filter($"kind" === "pdf")
      .select($"doc_id", $"payload")
      .coalesce(tailTasks)
      .join(broadcast(keptNarrow), Seq("doc_id"))
      .withColumn("spans", graft.functions.WireFunctions.wireSpans($"payload"))
      .select((Seq($"doc_id", $"spans") ++
        keptNarrow.columns.filter(_ != "doc_id").map(col).toSeq): _*)
    val docsWriteF = Future(named("docs-write")(Snapshots.writeTable(workDir, round, DocsTable, docsKept)))

    // Paragraphs: W1 fold + P7/P8 filter over the SURVIVORS' payload bytes
    // (one byte-direct codegen expression, WireParagraphsExpr — null for
    // docless payloads, and explode drops null arrays). The broadcast
    // survivor join prunes the scan to kept docs before the fold, so
    // dup-doomed docs never pay it; runs concurrently with the docs write
    // (independent jobs over the same committed log).
    val parasF = Future { named("paras-write") {
      val paras = okEvents.filter($"kind" === "pdf" && $"payload".isNotNull)
        .select($"doc_id", $"payload")
        .coalesce(tailTasks)
        .join(broadcast(keptNarrow.select($"doc_id")), Seq("doc_id"))
        .select($"doc_id",
          explode(graft.functions.WireFunctions.wireParagraphs($"payload")).as("p"))
        .select($"doc_id", lit("plain").as("extractor"), $"p.page".as("page"),
          $"p.paragraph_number".as("paragraph_number"), $"p.content".as("content"),
          $"p.reference".as("reference"))
      Snapshots.writeTable(workDir, round, ParagraphsTable, paras)
    } }

    // ---- remaining tables + atomic manifest commit ----
    // The four remaining tables are independent of each other — submit their
    // write jobs CONCURRENTLY (Spark schedules concurrent jobs fine; tasks
    // interleave across the pool). Sequential submission serialized ~5 s of
    // small-job latency per round at every parallelism level — pure fixed
    // cost that the scaling ratio pays for twice.
    // per-partition, per-host fetch metrics (north rule: per-partition
    // lineage + metrics; A5 download-size stats — bytes + latency per host).
    // Typed through RoundMetrics so the metrics table's schema is pinned.
    val metrics = eventsNarrow.groupBy($"partition_id", $"host")
      .agg(
        count(when($"status" === "ok", 1)).as("fetched"),
        count(when($"status" =!= "ok", 1)).as("failed"),
        coalesce(sum($"bytes"), lit(0L)).as("bytes"),
        coalesce(avg($"latency_micros"), lit(0.0)).as("avg_latency_micros"))
      .as[RoundMetrics].toDF()
    val writes = Map(
      FrontierTable -> Future(named("frontier-write")(Snapshots.writeTable(workDir, round, FrontierTable, nextFrontier.toDF()))),
      SeenTable -> Future(named("seen-write")(Snapshots.writeTable(workDir, round, SeenTable, seenDelta))),
      MergeRequestsTable ->
        (if (pdfOnly) Future.successful(0L)
         else Future(named("merge-write")(Snapshots.writeTable(workDir, round, MergeRequestsTable, mergeRequests)))),
      MetricsTable -> Future(named("metrics-write")(Snapshots.writeTable(workDir, round, MetricsTable, metrics))),
      ParagraphsTable -> parasF)
    val counts = writes.map { case (t, f) => t -> Await.result(f, Duration.Inf) } ++ Map(
      DocsTable -> Await.result(docsWriteF, Duration.Inf),
      JudgmentsTable -> judgCount,
      FetchLogTable -> fetchLogCount)
    val docsCount = counts(DocsTable)
    Snapshots.commitManifest(workDir, round, counts,
      lineage = Map(
        "report" ->
          s"""{"scheduled": $scheduledCount, "ok": $okCount, "failed": $failCount, "dup_url": $dupUrlCount, "robots_denied": $robotsDeniedCount, "deferred": $deferredCount}"""))

    val report = RoundReport(
      round = round,
      scheduled = scheduledCount,
      fetched_ok = okCount,
      fetch_failed = failCount,
      dup_url = dupUrlCount,
      robots_denied = robotsDeniedCount,
      deferred = deferredCount,
      new_docs = docsCount,
      dup_docs = docsRawCount - docsCount,
      new_judgments = judgCount,
      merge_requests = counts(MergeRequestsTable),
      new_paragraphs = counts(ParagraphsTable))

    // bloom + cuckoo filters track the just-committed seen delta; the two
    // updates touch disjoint files and read the same tiny delta — run them
    // concurrently (two more fixed jobs off the critical path)
    if (counts(SeenTable) > 0) {
      val committedSeenDelta = readTable(spark, workDir, round, SeenTable)
      val fCuckoo = Future(named("cuckoo-update")(SeenSet.addToFilters(committedSeenDelta, filterDir(workDir))))
      val fBloom = Future(named("bloom-update")(SeenSet.addToBloom(committedSeenDelta, filterDir(workDir))))
      Await.result(fCuckoo, Duration.Inf)
      Await.result(fBloom, Duration.Inf)
    }

    // periodic history compaction (Iceberg rewrite_data_files analog): fold
    // the accumulated seen/docs/judgments/merge deltas into one base so the
    // per-round history scans stay O(tail) at round >> compactEvery. The
    // four tables are independent — compact concurrently.
    if (cfg.compactEvery > 0 && round % cfg.compactEvery == 0) {
      Seq(SeenTable, DocsTable, JudgmentsTable, MergeRequestsTable)
        .map(t => Future(named(s"compact-$t")(
          Snapshots.compact(spark, workDir, t, round, TableSchemas.get(t)))))
        .foreach(Await.result(_, Duration.Inf))
    }

    val committedFrontier = readTable(spark, workDir, round, FrontierTable).as[FrontierEntry]

    flagged.unpersist(); sched.unpersist(); discoveredDF.unpersist(); keptNarrow.unpersist()
    eventsNarrow.unpersist(); routed.unpersist()
    SeenSet.releaseProbeFilters()
    (report, committedFrontier, counts(FrontierTable))
  }

  /** D1 case/URL routing of one round's judgment rows
    * (`search_and_scrape.py:52-94`), against the batch and the judgments
    * `history`:
    *  - a case number seen earlier in the batch (keep-first by priority,
    *    URL) or in history → dropped;
    *  - a novel case whose canonical URL an earlier novel case of the batch
    *    took (keep-first by priority, case number) or history holds →
    *    `route` "merge" (a merge request onto the kept judgment of that URL);
    *  - otherwise → `route` "kept".
    * One probe flags each row for both keys against history
    * ([[Dedup.keepFirstProbed]] on the case window): the history is read
    * map-side, one column per branch, never shuffled or aggregated. Returns
    * `judgRaw`'s columns plus `route`. */
  private[graft] def routeJudgments(judgRaw: DataFrame, history: Option[DataFrame]): DataFrame = {
    val caseKey = Dedup.HistoryKey("case", Seq("case_number"))
    val urlKey = Dedup.HistoryKey("url", Seq("canonical_url"))
    val caseOrder = Seq(col("priority"), col("canonical_url"))
    val caseNovel = history match {
      case Some(h) =>
        Dedup.keepFirstProbed(judgRaw, Seq("case_number"), caseOrder, Seq(caseKey, urlKey), h)
          .filter(!Dedup.inHistory(caseKey))
      case None => Dedup.keepFirst(judgRaw, Seq(col("case_number")), caseOrder)
    }
    val urlInHistory = if (history.isDefined) Dedup.inHistory(urlKey) else lit(false)
    val wUrl = Window.partitionBy(col("canonical_url")).orderBy(col("priority"), col("case_number"))
    Dedup.dropHits(caseNovel.withColumn("route",
      when(row_number().over(wUrl) > 1 || urlInHistory, lit("merge")).otherwise(lit("kept"))))
  }

  /** A1-A3 merge postprocess via [[graft.operators.Merge.mergeEntries]]
    * (`/root/reference/src/pipeline/postprocess.py:28-99`): merge requests
    * cluster onto the kept judgment by canonical URL; the shared metadata
    * keys (case_number/title/date) widen scalar → ordered list — kept
    * judgment's value first, then requests in arrival order — while the
    * payload pointer (`document_href`, the reference's excluded
    * `document_path`) stays scalar on the kept row. */
  def mergedJudgments(spark: SparkSession, workDir: String): DataFrame = {
    // a store whose every round was pdf-only has no judgments table
    val judgments = readDeltas(spark, workDir, JudgmentsTable).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        TableSchemas(JudgmentsTable)))
    val merges = readDeltas(spark, workDir, MergeRequestsTable)
      .getOrElse(judgments.limit(0))
    graft.operators.Merge.mergeEntries(
      judgments.select("canonical_url", "case_number", "title", "date", "document_href"),
      merges.select("canonical_url", "case_number", "title", "date", "round", "priority"),
      key = "canonical_url",
      valueCols = Seq("case_number", "title", "date"),
      arrival = Seq("round", "priority"))
  }
}
