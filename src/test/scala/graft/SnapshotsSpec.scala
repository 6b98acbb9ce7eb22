package graft

import java.nio.file.{Files, Paths}

import graft.sources.Snapshots
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class SnapshotsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("commit → latestRound; uncommitted rounds are invisible") {
    val dir = Files.createTempDirectory("snap").toString
    assert(Snapshots.latestRound(dir) === None)
    SnapshotsSpec.commit(dir, 1, Map("t" -> Seq(1, 2, 3).toDF("x")), Map.empty)
    assert(Snapshots.latestRound(dir) === Some(1))
    // simulate a crash mid-round-2: table written, manifest missing
    Seq(4, 5).toDF("x").write.parquet(Snapshots.tablePath(dir, 2, "t"))
    assert(Snapshots.latestRound(dir) === Some(1), "uncommitted round must stay invisible")
    // readDeltas must also ignore the uncommitted delta
    assert(Snapshots.readDeltas(spark, dir, "t").get.count() === 3)
  }

  test("readDeltas unions committed deltas; readLatest picks newest full table") {
    val dir = Files.createTempDirectory("snap2").toString
    SnapshotsSpec.commit(dir, 1, Map("delta" -> Seq(1).toDF("x"), "full" -> Seq(10).toDF("y")), Map.empty)
    SnapshotsSpec.commit(dir, 2, Map("delta" -> Seq(2, 3).toDF("x"), "full" -> Seq(20, 30).toDF("y")), Map.empty)
    // readDeltas adds the `round` partition column — select the data column
    val deltas = Snapshots.readDeltas(spark, dir, "delta").get
    assert(deltas.columns.toSet === Set("x", "round"), "round column exposed by partition inference")
    assert(deltas.select("x").as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    assert(Snapshots.readLatest(spark, dir, "full").get.as[Int].collect().sorted.toSeq === Seq(20, 30))
  }

  test("compact tiers deltas into segments; readDeltas round-trips exactly") {
    val dir = Files.createTempDirectory("snap4").toString
    (1 to 6).foreach { r =>
      SnapshotsSpec.commit(dir, r, Map("delta" -> Seq(r * 10, r * 10 + 1).toDF("x")), Map.empty)
    }
    val before = Snapshots.readDeltas(spark, dir, "delta").get
      .select("x", "round").as[(Int, Int)].collect().sorted.toSeq

    // compact rounds 1..4 into a segment; 5..6 stay as tail deltas
    Snapshots.compact(spark, dir, "delta", 4)
    assert(Snapshots.compactedUpTo(dir, "delta") === 4)
    // folded delta dirs are GC'd; tail dirs remain
    assert(!Files.exists(Paths.get(Snapshots.tablePath(dir, 2, "delta"))), "folded delta GC'd")
    assert(Files.exists(Paths.get(Snapshots.tablePath(dir, 5, "delta"))), "tail delta kept")
    val afterOne = Snapshots.readDeltas(spark, dir, "delta").get
      .select("x", "round").as[(Int, Int)].collect().sorted.toSeq
    assert(afterOne === before, "segments+tail union must equal the pre-compaction union")

    // second compaction TIERS the tail into a second segment (no rewrite of
    // the first — O(tail), not O(history))
    Snapshots.compact(spark, dir, "delta", 6)
    assert(Snapshots.compactedUpTo(dir, "delta") === 6)
    assert(Snapshots.currentSegments(dir, "delta").map(s => (s._1, s._2)) === Seq((1, 4), (5, 6)))
    val afterTwo = Snapshots.readDeltas(spark, dir, "delta").get
      .select("x", "round").as[(Int, Int)].collect().sorted.toSeq
    assert(afterTwo === before)
    // files-per-scan collapses to the segments' own binpacked files
    assert(Snapshots.scanFileCount(dir, "delta") < 6L,
      s"expected few segment files, saw ${Snapshots.scanFileCount(dir, "delta")}")

    // later rounds append past the segments and stay visible
    SnapshotsSpec.commit(dir, 7, Map("delta" -> Seq(70).toDF("x")), Map.empty)
    val withTail = Snapshots.readDeltas(spark, dir, "delta").get
      .select("x", "round").as[(Int, Int)].collect().sorted.toSeq
    assert(withTail === (before :+ ((70, 7))).sorted)

    // no-op when nothing new is eligible
    Snapshots.compact(spark, dir, "delta", 6)
    assert(Snapshots.compactedUpTo(dir, "delta") === 6)
  }

  test("compact full-merges when MaxSegments is reached; data never changes") {
    val dir = Files.createTempDirectory("snap5").toString
    val rounds = Snapshots.MaxSegments + 1 // one compaction per round → overflow
    (1 to rounds).foreach { r =>
      SnapshotsSpec.commit(dir, r, Map("d" -> Seq(r).toDF("x")), Map.empty)
      Snapshots.compact(spark, dir, "d", r)
    }
    // the (MaxSegments+1)-th compaction collapsed everything into seg=1-N
    val segs = Snapshots.currentSegments(dir, "d")
    assert(segs.map(s => (s._1, s._2)) === Seq((1, rounds)),
      s"expected one merged segment, saw ${segs.map(s => (s._1, s._2))}")
    val all = Snapshots.readDeltas(spark, dir, "d").get
      .select("x", "round").as[(Int, Int)].collect().sorted.toSeq
    assert(all === (1 to rounds).map(r => (r, r)))
  }

  test("compact after a crash mid-compaction: reads unchanged, orphans GC'd") {
    val dir = Files.createTempDirectory("snap6").toString
    (1 to 6).foreach { r =>
      SnapshotsSpec.commit(dir, r, Map("d" -> Seq(r).toDF("x")), Map.empty)
    }
    Snapshots.compact(spark, dir, "d", 4)
    val before = Snapshots.readDeltas(spark, dir, "d").get
      .select("x", "round").as[(Int, Int)].collect().sorted.toSeq

    val base = Paths.get(dir, "tables", "d", "_base")
    // crash shape 1: a partially-written segment dir never flipped into
    // CURRENT (binpackWrite died) + a stale marker temp file
    Seq(999).toDF("x").write.parquet(base.resolve("seg=5-6").toString)
    Files.writeString(base.resolve("current12345.tmp"), "junk")
    // crash shape 2: a folded delta dir whose post-flip delete never ran
    Seq(888).toDF("x").write.parquet(Snapshots.tablePath(dir, 3, "d"))

    // readers never see any of it (CURRENT + round>upto rule)
    assert(Snapshots.readDeltas(spark, dir, "d").get
      .select("x", "round").as[(Int, Int)].collect().sorted.toSeq === before)

    // the next compaction GCs all three orphans, then folds the real tail
    Snapshots.compact(spark, dir, "d", 6)
    assert(!Files.exists(Paths.get(Snapshots.tablePath(dir, 3, "d"))), "stale delta GC'd")
    assert(!Files.exists(base.resolve("current12345.tmp")), "marker temp GC'd")
    assert(Snapshots.currentSegments(dir, "d").map(s => (s._1, s._2)) === Seq((1, 4), (5, 6)))
    assert(Snapshots.readDeltas(spark, dir, "d").get
      .select("x", "round").as[(Int, Int)].collect().sorted.toSeq === before,
      "post-GC union identical: the orphan rows (999/888) must never surface")
  }

  test("manifest records table counts and lineage fields as json") {
    val dir = Files.createTempDirectory("snap3").toString
    SnapshotsSpec.commit(dir, 7, Map("t" -> Seq(1, 2).toDF("x")),
      Map("report" -> """{"ok": 2}"""))
    val json = Files.readString(Snapshots.manifestPath(dir, 7))
    assert(json.contains(""""round": 7"""))
    assert(json.contains(""""t": 2"""))
    assert(json.contains(""""report": {"ok": 2}"""))
  }
}

object SnapshotsSpec {
  /** Write the round's tables, then commit them with one manifest — the
    * `Snapshots.writeTable` + `Snapshots.commitManifest` pair the crawl
    * runs. Table counts come from parquet footers. Returns the counts. */
  def commit(
      dir: String,
      round: Int,
      tables: Map[String, DataFrame],
      lineage: Map[String, String]): Map[String, Long] = {
    val counts = tables.map { case (name, df) =>
      name -> Snapshots.writeTable(dir, round, name, df)
    }
    Snapshots.commitManifest(dir, round, counts, lineage)
    counts
  }
}
