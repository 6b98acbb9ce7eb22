package graft.model

/** Core data model for the graft crawl/curation engine.
  *
  * The shapes mirror the reference's record types (see SURVEY.md §1):
  *  - [[Span]] / [[Doc]]: the interleaved text+media element stream the reference
  *    consumes from Adobe's PDF-extract JSON (`src/segregators/adobe_json.py:26-61`,
  *    `src/extractors/adobe.py:65-93`), pinned to the input-hint schema
  *    `(doc_id string, spans array<struct<kind,text,media_ref,offset>>)`.
  *  - [[FrontierEntry]]: per-URL crawl state, synthesized from the reference's
  *    `search_params` loop state (`src/pipeline/search_and_scrape.py:165,246-253`)
  *    and per-URL download state (`src/retrievers/base.py:34-46`).
  *  - [[Paragraph]]: the segregated paragraph unit
  *    (`src/segregators/adobe_json.py:48-54`).
  */
final case class Span(
    kind: String,      // 'text' | 'heading' | 'table' | 'image'
    text: String,      // null for kind='image'
    media_ref: String, // null except kind='image'
    offset: Int        // reading-order index, 0-based, dense
)

final case class Doc(doc_id: String, spans: Seq[Span])

/** One frontier row. `priority` sorts ascending (lower = sooner), matching the
  * reference's strict court→query→page→row order (`search_and_scrape.py:145-159`).
  */
final case class FrontierEntry(
    url: String,
    canonical_url: String,
    url_hash: Long,
    host: String,
    court: String,
    query: String,
    page: Int,
    depth: Int,
    priority: Long,
    status: String, // pending | fetched | failed | deferred
    retry_count: Int,
    discovered_round: Int
)

/** A party to a case — the nested struct of the SC by-date listing
  * (`src/retrievers/supreme_court.py:128-142`). */
final case class Party(name: String, advocate: String)

/** The Supreme-Court by-date judgment row (S3): nested petitioner/respondent
  * structs + bench ARRAY — the reference shape that forces nested types into
  * the data model (`src/retrievers/supreme_court.py:128-142`). */
final case class ScJudgment(
    diary_number: String,
    case_number: String,
    by: String,
    bench: Seq[String],
    petitioner: Party,
    respondent: Party,
    document_href: String)

/** Judgment metadata row parsed from a listing page
  * (`src/retrievers/delhi_high_court.py:55-60`). */
final case class Judgment(
    court: String,
    query: String,
    page: Int,
    rank: Int, // row order within the page
    case_number: String,
    title: String,
    date: String,
    document_href: String
)

final case class Paragraph(
    doc_id: String,
    extractor: String,
    page: Int,
    paragraph_number: Int,
    content: String,
    reference: String // starter numeral, spaces removed, e.g. "1.2."; null if none
)

/** One robots.txt disallow rule: URLs on `host` whose path starts with
  * `path_prefix` must not be fetched (north rule: robots gates enforced in
  * the politeness layer). Deterministic table — the sandbox stand-in for a
  * fetched+parsed robots.txt per host. */
final case class RobotsRule(host: String, path_prefix: String)

/** Per-round, per-partition crawl metrics (north rule: per-partition lineage +
  * metrics; analog of the reference's phase counters,
  * `search_and_scrape.py:210-214,238-241`, and its download-size logging —
  * A5, `src/retrievers/utils.py` byte counts). Written as the `metrics`
  * delta table every round. */
final case class RoundMetrics(
    partition_id: Int,
    host: String,
    fetched: Long,
    failed: Long,
    bytes: Long,
    avg_latency_micros: Double
)

/** Crawl configuration. `budgetPerHost` is the per-round politeness budget per
  * host (analog of the reference's 25 req/min Adobe limit,
  * `AdobePDFExtractAPI.md:37`). */
final case class CrawlConfig(
    maxDepth: Int = 3,
    budgetPerHost: Int = 64,
    maxRetries: Int = 3,     // `src/extractors/adobe.py:111-138`
    numPartitions: Int = 32,
    saltMax: Int = 8,        // max salt buckets for a dominant host
    /** parallelism split: a host is salted into enough buckets that no bucket
      * exceeds this many pending rows, even when `budgetPerHost` is large —
      * otherwise an unthrottled crawl wave of one dominant host runs on a
      * single task regardless of cluster size (measured: 4 busy tasks at
      * local[32], scaling efficiency 0.40). Deterministic from host counts,
      * so crawl order stays parallelism-invariant. */
    maxBucketRows: Int = 4096,
    /** pre-shuffle the D1 probe by cuckoo bucket: true on a real cluster
      * (each executor then loads only its slice of the filter shards), false
      * in local mode, where every task shares the one JVM's filter cache and
      * the shuffle costs more than it saves. Either way each shard loads at
      * most once per executor JVM per round. See SeenSet.markDupes. */
    probeRepartition: Boolean = false,
    /** robots.txt disallow rules consulted before scheduling (C4). */
    robots: Seq[RobotsRule] = Nil,
    /** fold the history delta tables (seen/docs/judgments/merge_requests)
      * into one compacted base every this many rounds
      * ([[graft.sources.Snapshots.compact]]) so per-round history scans stay
      * O(tail) in file listing / footer reads / plan size instead of
      * O(rounds). 0 disables. */
    compactEvery: Int = 8,
    /** per-host minimum spacing between consecutive fetches, enforced in the
      * fetch loop's latency model (C4 wall-clock rate: a single-round wave
      * cannot exceed 1e6/minIntervalMicros req/s/host — the literal analog of
      * the reference's 25 req/min API budget, `AdobePDFExtractAPI.md:37`).
      * 0 disables (crawl order is unaffected either way — spacing only
      * stretches the modeled latency). */
    minIntervalMicros: Long = 0L
)
