package graft

import java.nio.file.Files

import graft.operators.{Dedup, Segregate}
import graft.plans.Crawler
import graft.sources.Snapshots

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-probe history kernels ([[Dedup.dedupCascade]] and its wrappers,
  * `Crawler.routeJudgments`) against the step-by-step [[HistoryOracle]], on
  * batches that hit history on several keys, tie within the batch, and
  * carry null keys, over a history that is one compacted segment plus a
  * delta tail. */
class HistoryProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val arrival = Seq(col("priority"), col("doc_id"))

  /** `rounds` written as deltas of `table`, the first two compacted into a
    * segment, read back as base ∪ tail. */
  private def compactedHistory(table: String, rounds: Seq[DataFrame]): DataFrame = {
    val dir = Files.createTempDirectory(s"graft-history-$table").toString
    rounds.zipWithIndex.foreach { case (df, i) =>
      SnapshotsSpec.commit(dir, i + 1, Map(table -> df), Map.empty)
    }
    Snapshots.compact(spark, dir, table, 2)
    assert(Snapshots.currentSegments(dir, table).size === 1)
    Snapshots.readDeltas(spark, dir, table).get
  }

  // (doc_id, priority, sz, prefix_hash, content_hash, plain, nodigits, marked)
  private type D = (String, Long, Long, Long, String, String, String, String)
  private def docs(rows: D*): DataFrame =
    rows.toDF("doc_id", "priority", "sz", "prefix_hash", "content_hash",
      "render_hash_plain", "render_hash_nodigits", "render_hash_marked")
      .withColumn("court", lit("c"))

  private lazy val docsHistory = compactedHistory("docs", Seq(
    docs(("H/1", 1L, 10L, 1L, "c-hist", "p-h1", "n-h1", "m-h1")),
    docs(("H/2", 2L, 20L, 2L, "c-h2", "p-hist", "n-h2", "m-h2")),
    docs(("H/3", 3L, 30L, 3L, "c-h3", "p-h3", "n-hist", "m-hist"))))

  private lazy val batch = docs(
    ("B/a", 10L, 10L, 1L, "c-hist", "p-a", "n-a", "m-a"),     // content in history
    ("B/b", 11L, 11L, 5L, "c-b", "p-hist", "n-b", "m-b"),     // plain in history…
    ("B/c", 12L, 11L, 5L, "c-b", "p-c", "n-c", "m-c"),        // …content tie with b
    ("B/d", 13L, 13L, 6L, "c-d", "p-d", "n-hist", "m-d"),     // nodigits in history
    ("B/e", 14L, 14L, 7L, "c-e", "p-e", "n-e", "m-hist"),     // marked in history
    ("B/f", 15L, 15L, 8L, "c-f", "p-fg", "n-f", "m-f"),       // plain tie with g
    ("B/g", 15L, 16L, 9L, "c-g", "p-fg", "n-g", "m-g"),       // same priority: doc_id orders
    ("B/h", 17L, 10L, 1L, "c-hist", "p-h", "n-hist", "m-hist"), // hits on three keys
    ("B/i", 18L, 18L, 10L, "c-i", null, "n-i", "m-i"),        // null plain key…
    ("B/j", 19L, 19L, 11L, "c-j", null, "n-j", "m-j"),        // …tied with i's null
    ("B/k", 20L, 20L, 12L, "c-k", "p-k", "n-k", "m-k"),       // unique everywhere
    ("B/l", 21L, 21L, 13L, null, "p-l", "n-l", "m-l"))        // null content key

  private def ids(df: DataFrame): Set[String] = df.select("doc_id").as[String].collect().toSet

  test("D2/D3: one-probe cascade and its wrappers equal the step-by-step oracle") {
    val oracle = HistoryOracle.renderingDedup(
      HistoryOracle.contentDedup(batch, Some(docsHistory), arrival),
      Segregate.RenderingNames, Some(docsHistory), arrival)
    val cascade = Dedup.dedupCascade(batch,
      Dedup.ContentKey +: Segregate.RenderingNames.map(Dedup.renderingKey),
      Some(docsHistory), arrival)
    val wrappers = Dedup.renderingDedup(
      Dedup.contentDedup(batch, Some(docsHistory), arrival),
      Segregate.RenderingNames, Some(docsHistory), arrival)
    assert(ids(oracle) === Set("B/f", "B/i", "B/k", "B/l"))
    assert(ids(cascade) === ids(oracle))
    assert(ids(wrappers) === ids(oracle))
    assert(cascade.columns.toSeq === batch.columns.toSeq)
    // each wrapper alone
    assert(ids(Dedup.contentDedup(batch, Some(docsHistory), arrival)) ===
      ids(HistoryOracle.contentDedup(batch, Some(docsHistory), arrival)))
    assert(ids(Dedup.renderingDedup(batch, Segregate.RenderingNames, Some(docsHistory), arrival)) ===
      ids(HistoryOracle.renderingDedup(batch, Segregate.RenderingNames, Some(docsHistory), arrival)))
  }

  test("D2/D3 without history: the wrappers' plans are the oracle's") {
    val same = Seq(
      Dedup.contentDedup(batch, None, arrival) ->
        HistoryOracle.contentDedup(batch, None, arrival),
      Dedup.renderingDedup(batch, Segregate.RenderingNames, None, arrival) ->
        HistoryOracle.renderingDedup(batch, Segregate.RenderingNames, None, arrival))
    same.foreach { case (got, want) =>
      assert(got.queryExecution.optimizedPlan.sameResult(want.queryExecution.optimizedPlan),
        s"${got.queryExecution.optimizedPlan}\nvs\n${want.queryExecution.optimizedPlan}")
    }
  }

  test("renderingDedup on a frame without its render_hash columns names them") {
    // a frame carrying only spans has no docs identity: recomputing another
    // one could never match the docs history, so it is an error
    val cfg = graft.sources.SynthConfig()
    val spansOnly = (0L until 5L).map(i => (s"S/$i", i, SynthOracle.spansOf(cfg, i)))
      .toDF("doc_id", "priority", "spans")
      .withColumn("render_hash_plain", lit("p"))
    val e = intercept[IllegalArgumentException](
      Dedup.renderingDedup(spansOnly, Segregate.RenderingNames, None, arrival))
    assert(e.getMessage.contains("render_hash_nodigits"), e.getMessage)
    assert(e.getMessage.contains("render_hash_marked"), e.getMessage)
    assert(!e.getMessage.contains("render_hash_plain"), e.getMessage)
  }

  // (case_number, canonical_url, priority)
  private def judgments(rows: (String, String, Long)*): DataFrame =
    rows.toDF("case_number", "canonical_url", "priority")
      .select(lit("c").as("court"), lit("q").as("query"), lit(1).as("page"), lit(0).as("rank"),
        $"case_number", lit("t").as("title"), lit("d").as("date"),
        $"canonical_url".as("document_href"), $"canonical_url",
        xxhash64($"canonical_url").as("url_hash"), $"priority")

  test("judgment routing: one probe per round equals the step-by-step oracle") {
    val history = compactedHistory("judgments", Seq(
      judgments(("C1", "u/1", 1L)), judgments(("C2", "u/2", 2L)), judgments(("C3", "u/3", 3L))))
    val raw = judgments(
      ("C1", "u/new1", 10L),  // case in history → dropped
      ("C4", "u/4", 11L),     // kept…
      ("C4", "u/4b", 12L),    // …same case later → dropped
      ("C5", "u/2", 13L),     // URL in history → merge
      ("C6", "u/6", 14L),     // kept…
      ("C7", "u/6", 15L),     // …URL taken by an earlier novel case → merge
      ("C8", "u/3", 16L),     // URL in history and…
      ("C9", "u/3", 17L),     // …tied in the batch → both merge
      ("C3", "u/3", 18L),     // case and URL in history → dropped
      ("C10", null, 19L),     // null URL: never in history → kept
      ("C11", "u/11", 20L))   // kept
    def rows(df: DataFrame) =
      df.select("case_number", "canonical_url").as[(String, String)].collect().toSet
    Seq(Some(history), None).foreach { h =>
      val routed = Crawler.routeJudgments(raw, h)
      val (kept, merges) = HistoryOracle.routeJudgments(raw, h)
      assert(rows(routed.filter($"route" === "kept")) === rows(kept))
      assert(rows(routed.filter($"route" === "merge")) === rows(merges))
      assert(routed.count() === kept.count() + merges.count())
      assert(routed.drop("route").columns.toSeq === raw.columns.toSeq)
    }
    assert(rows(Crawler.routeJudgments(raw, Some(history)).filter($"route" === "merge")) ===
      Set(("C5", "u/2"), ("C7", "u/6"), ("C8", "u/3"), ("C9", "u/3")))
  }
}
