package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** Iceberg-style snapshot layout emulated on parquet + a manifest commit (no
  * Iceberg jar ships in this sandbox — SURVEY.md §4). Semantics kept so a real
  * Iceberg catalog could be swapped in:
  *
  *  - table data lives under `dir/tables/<table>/round=<n>/` — Hive-style
  *    partition dirs, so readers get the `round` column from partition
  *    inference and writers never embed a per-round literal in the plan
  *    (keeping plans bit-identical across rounds → codegen cache hits);
  *  - a round becomes visible only when `dir/manifests/round=<n>.json`
  *    exists — the manifest is written to a temp file and atomically renamed,
  *    so a crash mid-round leaves the previous snapshot intact (resume = max
  *    committed round; the reference's skip-existing/resume behavior,
  *    `/root/reference/src/pipeline/search_and_scrape.py:177-187`);
  *  - delta tables (seen/docs/judgments/…) append one partition per round and
  *    are read as the union of committed partitions — partition pruning over
  *    `round=` does the incremental-read work;
  *  - full tables (frontier) are rewritten each round and read from the
  *    latest committed round only;
  *  - row counts come from parquet footers (driver metadata IO, no jobs);
  *  - every read takes the table's declared schema when the caller has one
  *    (`round` included, as [[readDeltas]] returns it): parquet schema
  *    inference is a Spark job per read, even for one file.
  */
object Snapshots {

  def tablePath(dir: String, round: Int, table: String): String =
    s"$dir/tables/$table/round=$round"

  private def tableRoot(dir: String, table: String): String = s"$dir/tables/$table"

  def manifestPath(dir: String, round: Int): Path =
    Paths.get(dir, "manifests", s"round=$round.json")

  def committedRounds(dir: String): Seq[Int] = {
    val root = Paths.get(dir, "manifests")
    if (!Files.exists(root)) return Nil
    Files.list(root).iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("round=") && n.endsWith(".json"))
      .map(_.stripPrefix("round=").stripSuffix(".json").toInt)
      .toSeq.sorted
  }

  def latestRound(dir: String): Option[Int] = committedRounds(dir).lastOption

  /** Row count of a written parquet table partition from file footers —
    * driver-side metadata IO only, no Spark job. Footer reads run on the
    * common ForkJoin pool: a politeness-bounded wave writes several hundred
    * bounded files per table, and reading their footers serially put ~3-5 s
    * of driver latency on the critical path after every large write. */
  def footerCount(tableDir: String): Long = {
    val p = Paths.get(tableDir)
    if (!Files.exists(p)) return 0L
    val conf = new org.apache.hadoop.conf.Configuration()
    val s = Files.list(p)
    val files =
      try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toArray
      finally s.close()
    java.util.Arrays.stream(files).parallel().mapToLong { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum()
  }

  /** Write one table partition for the round (NOT yet visible — visibility
    * comes from [[commitManifest]]). Returns the footer row count. Writing
    * early and re-reading is the wide-row materialization strategy: parquet
    * write+column-pruned re-read beats `persist()` for span-carrying frames
    * (the in-memory columnar cache builder serializes on storage-memory
    * locks at high thread counts). */
  /** `maxRecordsPerFile > 0` splits each task's output into bounded files —
    * the skew control for wide tables whose upstream partitioning is
    * semantic (politeness buckets): downstream scans then parallelize by
    * file instead of inheriting one giant partition per dominant host. */
  def writeTable(dir: String, round: Int, name: String, df: DataFrame,
      maxRecordsPerFile: Long = 0L,
      extraOptions: Map[String, String] = Map.empty): Long = {
    val w = df.write.mode("overwrite")
      // crawl-state values (urls, hashes, payloads) are near-unique per
      // column chunk — parquet's dictionary attempt never pays off and its
      // fastutil hash build was ~3% of wave CPU plus one dictionary page of
      // allocation per chunk before every fallback (JFR, round 4)
      .option("parquet.enable.dictionary", "false")
      .options(extraOptions)
    val w1 = if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    w1.parquet(tablePath(dir, round, name))
    footerCount(tablePath(dir, round, name))
  }

  /** A reader that takes `schema` instead of inferring one. */
  private def reader(spark: SparkSession, schema: Option[StructType]): DataFrameReader =
    schema.fold(spark.read)(spark.read.schema(_))

  /** `schema` without the `round` column: the layout of one round's files. */
  private def roundFiles(schema: Option[StructType]): Option[StructType] =
    schema.map(s => StructType(s.fields.filter(_.name != "round")))

  /** Read back one (possibly not-yet-committed) table partition of a round. */
  def readTable(spark: SparkSession, dir: String, round: Int, name: String,
      schema: Option[StructType] = None): DataFrame =
    reader(spark, roundFiles(schema)).parquet(tablePath(dir, round, name))

  /** Commit a round whose tables were already written via [[writeTable]]:
    * atomic manifest rename makes them visible. */
  def commitManifest(
      dir: String,
      round: Int,
      counts: Map[String, Long],
      lineage: Map[String, String]): Unit = {
    val fields =
      Seq(s""""round": $round""",
        s""""tables": {${counts.map { case (n, c) => s""""$n": $c""" }.mkString(", ")}}""") ++
        lineage.map { case (k, v) => s""""$k": $v""" }
    val json = fields.mkString("{", ", ", "}")
    Files.createDirectories(manifestPath(dir, round).getParent)
    val tmp = Files.createTempFile(manifestPath(dir, round).getParent, "manifest", ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(dir, round), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Latest committed version of a full (rewritten-per-round) table. */
  def readLatest(spark: SparkSession, dir: String, table: String,
      schema: Option[StructType] = None): Option[DataFrame] =
    committedRounds(dir).reverse
      .find(r => Files.exists(Paths.get(tablePath(dir, r, table))))
      .map(r => readTable(spark, dir, r, table, schema))

  /** Union of all committed partitions of a delta table (empty → None). The
    * `round` column is recovered by partition inference via basePath. When a
    * compacted base exists ([[compact]]), the union is base + the delta tail
    * with `round > upto` — file listing, footer reads, and plan size stay
    * O(tail), not O(rounds). */
  def readDeltas(spark: SparkSession, dir: String, table: String,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val segs = currentSegments(dir, table)
    val upto = segs.lastOption.map(_._2).getOrElse(0)
    val paths = committedRounds(dir)
      .filter(_ > upto)
      .filter(r => Files.exists(Paths.get(tablePath(dir, r, table))))
      .map(r => tablePath(dir, r, table))
    val tail =
      if (paths.isEmpty) None
      else Some(reader(spark, schema).option("basePath", tableRoot(dir, table)).parquet(paths: _*))
    if (segs.isEmpty) tail
    else {
      // one multi-path read over all segments (same schema by construction)
      val base = reader(spark, schema).parquet(segs.map(_._3): _*)
      tail match {
        case Some(t) =>
          Some(base.unionByName(
            t.select(base.columns.map(org.apache.spark.sql.functions.col): _*)))
        case None => Some(base)
      }
    }
  }

  // ---------------------------------------------------------------------
  // Delta compaction — the Iceberg `rewrite_data_files` analog, TIERED
  // (LSM-style). Without it a delta table accumulates one directory per
  // committed round, and every history scan pays O(rounds)
  // listing/footer/plan cost (the round-3 growth bench's rising tail).
  // Each `compact` call folds the eligible delta tail into ONE new SEGMENT
  // (cost O(rounds since the last compaction), NOT O(history) — the
  // round-4 single-base design re-rewrote the whole accumulated history
  // every cycle, a linearly growing spike); when `MaxSegments` segments
  // pile up, one full merge collapses them (amortized O(history /
  // (K·MaxSegments)) per round — the standard LSM bound). Visibility flips
  // with an atomic CURRENT-marker rename, so a crash at any point leaves a
  // consistent store; replaced dirs are GC'd only after the flip.
  // ---------------------------------------------------------------------

  /** Segments per table before a full merge collapses them. */
  val MaxSegments = 8

  private def baseRoot(dir: String, table: String): Path =
    Paths.get(dir, "tables", table, "_base")
  private def baseMarker(dir: String, table: String): Path =
    baseRoot(dir, table).resolve("CURRENT")

  /** Committed segments, ascending: (fromRound, toRound, data path). */
  def currentSegments(dir: String, table: String): Seq[(Int, Int, String)] = {
    val m = baseMarker(dir, table)
    if (!Files.exists(m)) return Nil
    Files.readString(m).linesIterator.map(_.trim).filter(_.nonEmpty).flatMap { name =>
      val p = baseRoot(dir, table).resolve(name)
      name.stripPrefix("seg=").split("-") match {
        case Array(f, t) if Files.exists(p) => Some((f.toInt, t.toInt, p.toString))
        case _                              => None
      }
    }.toSeq.sortBy(_._1)
  }

  /** Highest round covered by a segment (0 when none). */
  def compactedUpTo(dir: String, table: String): Int =
    currentSegments(dir, table).lastOption.map(_._2).getOrElse(0)

  private def writeMarker(dir: String, table: String, segNames: Seq[String]): Unit = {
    Files.createDirectories(baseRoot(dir, table))
    val tmp = Files.createTempFile(baseRoot(dir, table), "current", ".tmp")
    Files.writeString(tmp, segNames.mkString("\n"))
    Files.move(tmp, baseMarker(dir, table), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def parquetBytes(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else {
      val s = Files.list(path)
      try s.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  /** Binpacked write of `df` (union of `inputPaths`' data) to `target` —
    * file count sized from input bytes (Iceberg target-file-size behavior);
    * without it the output inherits one file per input split and
    * files-per-scan never actually shrinks. */
  private def binpackWrite(df: DataFrame, inputPaths: Seq[String], target: Path): Unit = {
    val targetFileBytes = 128L * 1024 * 1024
    val inputBytes = inputPaths.map(parquetBytes).sum
    val nFiles = math.max(1L, (inputBytes + targetFileBytes - 1) / targetFileBytes).toInt
    df.coalesce(nFiles).write.mode("overwrite").parquet(target.toString)
  }

  /** Orphan GC (the Iceberg `remove_orphan_files` analog): a crash between
    * the CURRENT-marker flip and the post-flip deletes leaves folded delta
    * dirs / replaced segment dirs / marker temp files on disk. They are
    * invisible to readers (readDeltas trusts CURRENT + `round > upto`), so
    * correctness never depended on this — but without GC the leak is
    * permanent. Called at [[compact]] entry, where no concurrent writer can
    * race it (compaction is driven single-threaded per table by the crawl
    * loop). */
  private def gcOrphans(dir: String, table: String): Unit = {
    val segs = currentSegments(dir, table)
    val segUpto = segs.lastOption.map(_._2).getOrElse(0)
    // folded-but-undeleted delta rounds (≤ the segment high-water mark)
    committedRounds(dir)
      .filter(r => r <= segUpto && Files.exists(Paths.get(tablePath(dir, r, table))))
      .foreach(r => deleteRecursively(Paths.get(tablePath(dir, r, table))))
    // replaced segment dirs + stale marker temps under _base not in CURRENT
    val root = baseRoot(dir, table)
    if (Files.exists(root)) {
      val listed = segs.map(s => Paths.get(s._3).getFileName.toString).toSet
      val s = Files.list(root)
      val children =
        try s.iterator.asScala.toArray
        finally s.close()
      children.foreach { c =>
        val n = c.getFileName.toString
        val stale =
          (n.startsWith("seg=") && !listed.contains(n)) ||
            (n.startsWith("current") && n.endsWith(".tmp"))
        if (stale) deleteRecursively(c)
      }
    }
  }

  /** Fold committed deltas with `compactedUpTo < round <= upToRound` into a
    * new segment; collapse all segments into one when MaxSegments is
    * reached. The `round` column is preserved as a physical column
    * (partition inference recovers it for tail deltas; segments carry it
    * directly). No-op when there is nothing new to fold in. */
  def compact(spark: SparkSession, dir: String, table: String, upToRound: Int,
      schema: Option[StructType] = None): Unit = {
    gcOrphans(dir, table)
    val segs = currentSegments(dir, table)
    val segUpto = segs.lastOption.map(_._2).getOrElse(0)
    val deltaRounds = committedRounds(dir)
      .filter(r => r > segUpto && r <= upToRound)
      .filter(r => Files.exists(Paths.get(tablePath(dir, r, table))))
    if (deltaRounds.isEmpty) return
    val deltaPaths = deltaRounds.map(r => tablePath(dir, r, table))
    val deltas = reader(spark, schema).option("basePath", tableRoot(dir, table))
      .parquet(deltaPaths: _*)
    if (segs.size + 1 > MaxSegments) {
      // full merge: every segment + the delta tail → seg=1-upTo
      val segDfs = segs.map(s => reader(spark, schema).parquet(s._3))
      val cols = segDfs.head.columns.map(org.apache.spark.sql.functions.col)
      val merged = (segDfs :+ deltas.select(cols.toSeq: _*)).reduce(_ unionByName _)
      val name = s"seg=1-$upToRound"
      binpackWrite(merged, segs.map(_._3) ++ deltaPaths,
        baseRoot(dir, table).resolve(name))
      writeMarker(dir, table, Seq(name))
      segs.foreach(s => deleteRecursively(Paths.get(s._3)))
    } else {
      // tier: the delta tail alone → one new segment (O(tail) work)
      val name = s"seg=${segUpto + 1}-$upToRound"
      binpackWrite(deltas, deltaPaths, baseRoot(dir, table).resolve(name))
      writeMarker(dir, table, segs.map(s => s"seg=${s._1}-${s._2}") :+ name)
    }
    deltaRounds.foreach(r => deleteRecursively(Paths.get(tablePath(dir, r, table))))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  /** Number of parquet files a [[readDeltas]] scan of `table` would touch
    * (segments + tail) — the growth bench's flat-files-per-scan evidence. */
  def scanFileCount(dir: String, table: String): Long = {
    def filesIn(p: Path): Long =
      if (!Files.exists(p)) 0L
      else {
        val s = Files.list(p)
        try s.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
        finally s.close()
      }
    val segs = currentSegments(dir, table)
    val upto = segs.lastOption.map(_._2).getOrElse(0)
    val tail = committedRounds(dir).filter(_ > upto)
      .map(r => filesIn(Paths.get(tablePath(dir, r, table)))).sum
    segs.map(s => filesIn(Paths.get(s._3))).sum + tail
  }
}
