package perfbench

import graft.functions.{Urls, WireFunctions}
import graft.model.{CrawlConfig, FrontierEntry}
import graft.operators.{Dedup, Politeness, Robots, SchedCounters, SeenSet, Segregate}
import graft.plans.Crawler
import graft.sources.{Snapshots, SynthConfig}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The traced layer replay: each public layer function of one crawl round,
  * called one by one inside its own span, on the committed state a real
  * round would see. Every result is forced with a noop sink (and cached when
  * the next layer consumes it). Writes, the commit, compaction and the
  * filter update go to a copy of the store, so the workload's store is left
  * exactly as it was. */
object Replay {

  val WrittenTables = Seq(Crawler.FetchLogTable, Crawler.DocsTable, Crawler.ParagraphsTable,
    Crawler.SeenTable)

  /** Replay round `round` of the crawl in `store` over `frontier`. */
  def round(spark: SparkSession, tr: Tracer, cfg: CrawlConfig, sc: SynthConfig,
      store: String, round: Int, frontier: Dataset[FrontierEntry], scratch: String): Unit = {
    import spark.implicits._
    val out = Common.freshDir(scratch, "replay")
    Common.copyTree(store, out)
    val fd = Crawler.filterDir(store)
    val pending = Common.materialize(frontier.toDF())

    tr.span("urls") {
      Common.force(pending.select(Urls.canonicalize($"url").as("c"), Urls.host($"url").as("h"))
        .select($"c", Urls.urlHash($"c"), $"h"))
    }

    // ---- SeenSet: D1 probe (only once a seen delta exists) + robots gate ----
    val seenOpt = Crawler.seenAllOpt(spark, store)
    val flagged = tr.span("seenset") {
      val marked = seenOpt match {
        case Some(seen) => tr.span("seenset.probe") {
          Common.materialize(SeenSet.markDupes(pending, seen, fd,
            probeRepartition = cfg.probeRepartition, seenKeysUnique = true))
        }
        case None => pending.withColumn("__dup", lit(false))
      }
      Common.materialize(marked
        .withColumn("__robots_denied", Robots.denied($"url", $"host", cfg.robots))
        .withColumn("__drop", when($"__dup", lit("dup")).when($"__robots_denied", lit("robots")))
        .select((Inputs.FrontierCols.map(col) :+ $"__drop"): _*))
    }
    // bloom positives over the probed keys, from the stored shards
    val hashes = pending.select($"url_hash").as[Long].collect()
    val blooms = (0 until SeenSet.DefaultBuckets).map(b => SeenSet.loadBloom(fd, b))
    val pos = hashes.count { h =>
      blooms((((h % SeenSet.DefaultBuckets) + SeenSet.DefaultBuckets) % SeenSet.DefaultBuckets).toInt)
        .exists(_.mightContainLong(h))
    }
    val dups = flagged.filter($"__drop" === "dup").count()
    tr.put("seenset", "bloom_pos_share", if (hashes.isEmpty) 0.0 else pos.toDouble / hashes.length)
    tr.put("seenset", "dup_per_pos", if (pos == 0) 0.0 else dups.toDouble / pos)

    // ---- Politeness ----
    val ctr = SchedCounters.create(spark)
    val sched = tr.span("politeness") {
      Common.materialize(Politeness.scheduleFlagged(flagged, cfg, Some(ctr)).toDF())
    }.as[graft.operators.Sched]
    val maxBucket = sched.filter($"scheduled").groupBy($"entry.host", $"salt").count()
      .agg(coalesce(max($"count"), lit(0L))).head().getLong(0)
    tr.put("politeness", "deferred_rows", ctr.deferred.toDouble)
    tr.put("politeness", "max_bucket_rows", maxBucket.toDouble)

    // ---- Fetch (+ the doc-hash kernel the crawler runs in the same stage) ----
    val events = tr.span("fetch") {
      Common.materialize(Politeness.fetchAll(sched, sc, cfg.minIntervalMicros)
        .withColumn("doc_hashes", WireFunctions.docHashesStruct($"payload")))
    }
    val fagg = events.agg(count(lit(1)), count(when($"status" =!= "ok", 1)),
      coalesce(sum(length($"payload")), lit(0L))).head()
    tr.put("fetch", "failed_share", if (fagg.getLong(0) == 0) 0.0 else fagg.getLong(1).toDouble / fagg.getLong(0))
    tr.put("fetch", "payload_mb", fagg.getLong(2) / 1e6)

    def write(name: String, df: DataFrame, opts: Map[String, String] = Map.empty, recs: Long = 0L): Long =
      tr.span(s"snapshots.write.$name") {
        Snapshots.writeTable(out, round, name, df, maxRecordsPerFile = recs, extraOptions = opts)
      }
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    counts(Crawler.FetchLogTable) = write(Crawler.FetchLogTable, events.select(
      $"entry.url".as("url"), $"entry.canonical_url".as("canonical_url"),
      $"entry.url_hash".as("url_hash"), $"entry.host".as("host"), $"entry.court".as("court"),
      $"entry.query".as("query"), $"entry.page".as("page"), $"entry.depth".as("depth"),
      $"entry.priority".as("priority"), $"entry.retry_count".as("retry_count"),
      $"entry.discovered_round".as("discovered_round"), $"salt", $"fetchSeq", $"status", $"kind",
      $"bytes", $"latencyMicros".as("latency_micros"), spark_partition_id().as("partition_id"),
      $"doc_id", $"doc_hashes", $"payload"),
      Map("parquet.column.statistics.enabled#payload" -> "false"), 5000L)
    val log = Snapshots.readTable(spark, out, round, Crawler.FetchLogTable)
    val okPdf = log.filter($"status" === "ok" && $"kind" === "pdf")

    // ---- Dedup: D2 content + D3 rendering chain against the docs history ----
    val history = Snapshots.readDeltas(spark, store, Crawler.DocsTable)
    val narrow = okPdf.filter($"doc_hashes".isNotNull).select($"doc_id", $"priority", $"court",
      $"doc_hashes.sz".as("sz"), $"doc_hashes.prefix_hash".as("prefix_hash"),
      $"doc_hashes.content_hash".as("content_hash"),
      $"doc_hashes.render_hash_plain".as("render_hash_plain"),
      $"doc_hashes.render_hash_nodigits".as("render_hash_nodigits"),
      $"doc_hashes.render_hash_marked".as("render_hash_marked"))
    val arrival = Seq($"priority", $"doc_id")
    val kept = tr.span("dedup") {
      Common.materialize(Dedup.renderingDedup(Dedup.contentDedup(narrow, history, arrival),
        Segregate.RenderingNames, history, arrival))
    }
    val (nIn, nKept) = (narrow.count(), kept.count())
    tr.put("dedup", "kept_share", if (nIn == 0) 0.0 else nKept.toDouble / nIn)
    tr.put("dedup", "history_rows", history.map(_.count().toDouble).getOrElse(0.0))

    // ---- Segregate: survivors' spans (docs) and paragraphs ----
    val docs = tr.span("segregate.spans") {
      Common.materialize(okPdf.select($"doc_id", $"payload").join(broadcast(kept), Seq("doc_id"))
        .withColumn("spans", WireFunctions.wireSpans($"payload"))
        .select((Seq($"doc_id", $"spans") ++ kept.columns.filter(_ != "doc_id").map(col).toSeq): _*))
    }
    val paras = tr.span("segregate.paragraphs") {
      Common.materialize(okPdf.filter($"payload".isNotNull).select($"doc_id", $"payload")
        .join(broadcast(kept.select($"doc_id")), Seq("doc_id"))
        .select($"doc_id", explode(WireFunctions.wireParagraphs($"payload")).as("p"))
        .select($"doc_id", lit("plain").as("extractor"), $"p.page".as("page"),
          $"p.paragraph_number".as("paragraph_number"), $"p.content".as("content"),
          $"p.reference".as("reference")))
    }
    val nParas = paras.count()
    tr.put("segregate.paragraphs", "paras_per_doc", if (nKept == 0) 0.0 else nParas.toDouble / nKept)

    // ---- Snapshots: the remaining writes, commit, history reads, compaction ----
    counts(Crawler.DocsTable) = write(Crawler.DocsTable, docs)
    counts(Crawler.ParagraphsTable) = write(Crawler.ParagraphsTable, paras)
    counts(Crawler.SeenTable) = write(Crawler.SeenTable,
      log.filter($"status" === "ok").select($"url_hash", $"canonical_url"))
    WrittenTables.foreach(t => tr.put(s"snapshots.write.$t", "mb",
      Common.treeBytes(Snapshots.tablePath(out, round, t)) / 1e6))
    tr.span("snapshots.commit")(Snapshots.commitManifest(out, round, counts.toMap, Map.empty))
    tr.span("snapshots.history") {
      Seq(Crawler.SeenTable, Crawler.DocsTable, Crawler.JudgmentsTable).foreach { t =>
        tr.put("snapshots.history", s"files.$t", Snapshots.scanFileCount(store, t).toDouble)
        Snapshots.readDeltas(spark, store, t).foreach(df => Common.force(df))
      }
    }
    // ---- SeenSet filter update with the new seen delta ----
    val delta = spark.read.parquet(Snapshots.tablePath(out, round, Crawler.SeenTable))
    tr.span("seenset.filter_update") {
      SeenSet.addToFilters(delta, Crawler.filterDir(out))
      SeenSet.addToBloom(delta, Crawler.filterDir(out))
    }

    // ---- Snapshots: fold the history this round folds ----
    if (cfg.compactEvery > 0 && round % cfg.compactEvery == 0) tr.span("snapshots.compact") {
      Seq(Crawler.SeenTable, Crawler.DocsTable, Crawler.JudgmentsTable, Crawler.MergeRequestsTable)
        .foreach(t => Snapshots.compact(spark, out, t, round))
    }

    Seq(pending, flagged, sched.toDF(), events, kept, docs, paras).foreach(_.unpersist())
    Common.deleteTree(out)
  }
}
