package graft

import graft.operators.Dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The step-by-step history dedup and judgment routing the crawler ran
  * before each history table got one probe per round: every step anti-joins
  * its keep-first survivors against its own history hit set, and the
  * routing de-duplicates whole history columns. Slower, but each step reads
  * as the reference states it — the oracle for [[Dedup.dedupCascade]] and
  * `Crawler.routeJudgments`. */
object HistoryOracle {

  /** Drop rows of `batch` whose `keys` appear in `history`: semi-join
    * history against the broadcast keys of `keySource` (a superset of
    * `batch`), then anti-join the batch against the broadcast hits. */
  private def antiHistory(
      batch: DataFrame, keySource: DataFrame, history: DataFrame, keys: Seq[String]): DataFrame = {
    val sourceKeys = keySource.select(keys.map(col): _*)
    val hits = history.select(keys.map(col): _*)
      .join(broadcast(sourceKeys), keys, "left_semi")
    batch.join(broadcast(hits), keys, "left_anti")
  }

  def contentDedup(
      docsWithHashes: DataFrame, history: Option[DataFrame], arrival: Seq[Column]): DataFrame = {
    val key = Seq(col("sz"), col("prefix_hash"), col("content_hash"))
    val w = Window.partitionBy(key: _*).orderBy(arrival: _*)
    val firsts = docsWithHashes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    history match {
      case Some(h) => antiHistory(firsts, docsWithHashes, h, Seq("sz", "prefix_hash", "content_hash"))
      case None    => firsts
    }
  }

  def renderingDedup(
      docs: DataFrame,
      renderings: Seq[String],
      history: Option[DataFrame],
      arrival: Seq[Column]): DataFrame = {
    renderings.foldLeft(docs) { (kept, r) =>
      val hc = Dedup.renderHashCol(r)
      val w = Window.partitionBy(col(hc)).orderBy(arrival: _*)
      val firsts = kept.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      history match {
        case Some(h) => antiHistory(firsts, docs, h, Seq(hc))
        case None    => firsts
      }
    }
  }

  /** (kept judgments, merge requests) of one round's judgment rows. */
  def routeJudgments(judgRaw: DataFrame, history: Option[DataFrame]): (DataFrame, DataFrame) = {
    val wCase = Window.partitionBy(col("case_number")).orderBy(col("priority"), col("canonical_url"))
    val caseFirst = judgRaw.withColumn("__rn", row_number().over(wCase))
      .filter(col("__rn") === 1).drop("__rn")
    val caseNovel = history match {
      case Some(h) =>
        caseFirst.join(h.select("case_number").distinct(), Seq("case_number"), "left_anti")
      case None => caseFirst
    }
    val wUrl = Window.partitionBy(col("canonical_url")).orderBy(col("priority"), col("case_number"))
    val urlRanked = caseNovel.withColumn("__rn", row_number().over(wUrl))
    val urlFirst = urlRanked.filter(col("__rn") === 1).drop("__rn")
    val urlDupBatch = urlRanked.filter(col("__rn") > 1).drop("__rn")
    val (kept, urlDupHist) = history match {
      case Some(h) =>
        val su = h.select("canonical_url").distinct()
        (urlFirst.join(su, Seq("canonical_url"), "left_anti"),
          urlFirst.join(su, Seq("canonical_url"), "left_semi"))
      case None => (urlFirst, urlFirst.limit(0))
    }
    (kept, urlDupBatch.unionByName(urlDupHist))
  }
}
