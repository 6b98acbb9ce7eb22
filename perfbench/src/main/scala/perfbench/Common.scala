package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session, timing and filesystem helpers shared by every workload. */
object Common {

  /** A local session of `width` task threads whose scratch (shuffle files,
    * warehouse) stays under `scratch`. Mirrors the crawl-session settings of
    * `graft.Bench` that are session configuration rather than library code. */
  def session(width: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$width]")
      .appName(s"perfbench-$width")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.io.file.buffer.size", (1024 * 1024).toString)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    trimHadoopConf(s)
    s
  }

  /** Keep only the Hadoop configuration entries local-filesystem parquet jobs
    * consult, as `graft.Bench` does for its sessions: every task ships the
    * whole configuration, gzip-serialized entry by entry, and the ~700
    * defaults dominate task set-up cost on small rounds. Absent keys fall
    * back to the same code defaults. */
  private def trimHadoopConf(s: SparkSession): Unit = {
    s.sessionState // initialise first: it may re-add default resources
    val hc = s.sparkContext.hadoopConfiguration
    val keep = Seq("io.file.buffer.size", "fs.defaultFS", "hadoop.tmp.dir",
      "fs.permissions.umask-mode", "hadoop.security.authentication")
      .flatMap(k => Option(hc.get(k)).map(k -> _))
    hc.clear()
    keep.foreach { case (k, v) => hc.set(k, v) }
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body`, returning its value and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, secsSince(t0))
  }

  def freshDir(root: String, prefix: String): String = {
    Files.createDirectories(Paths.get(root))
    Files.createTempDirectory(Paths.get(root), prefix).toString
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    if (!Files.exists(src)) return
    val s = Files.walk(src)
    try s.iterator.asScala.foreach { p =>
      val target = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    } finally s.close()
  }

  /** Bytes of all regular files under `dir` (0 when absent). */
  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
    finally s.close()
  }

  /** Evaluate every column of `df` into a sink that discards the rows. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Persist `df` and fill the cache with one full evaluation. */
  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist()
    force(p)
    p
  }

  /** Bytes allocated so far by all live JVM threads. */
  def allocatedBytes(): Long = {
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    tmx.getThreadAllocatedBytes(tmx.getAllThreadIds).filter(_ > 0).sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }
}

/** The heap a run keeps live: heap in use right after a forced full
  * collection, taken between units of work (outside their timing). Unlike the
  * resident set, it does not follow how far the collector lets the heap grow. */
object LiveHeap {
  private var peak = 0L
  private var secs = 0.0

  /** Collect, record the heap still in use, and return it in MB. A full
    * collection between units also leaves each unit the same empty heap. */
  def settle(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    secs += Common.secsSince(t0)
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
    used / 1e6
  }

  def peakMb: Double = peak / 1e6
  /** Time spent in forced collections so far. */
  def totalSecs: Double = secs
}

/** Minimal JSON rendering for the result and trace files (numbers, strings,
  * booleans, null, sequences and string-keyed maps). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** One measured unit of work: a crawl round, a merge, or a query execution.
  * `error` is null when the unit completed and passed its output checks. */
final case class UnitRec(kind: String, where: String, width: Int, secs: Double,
    items: Long, cold: Boolean = false, var error: String = null) {
  def toMap: Map[String, Any] = Map("kind" -> kind, "where" -> where, "width" -> width,
    "secs" -> secs, "items" -> items, "cold" -> cold, "error" -> error)
}

/** Everything a run hands back to the launcher: set-up time, measured units
  * with their check outcomes, and (traced runs) per-layer metrics. */
final class Result(val workload: String) {
  var setupSecs = 0.0
  var liveHeapMb = 0.0
  val units = mutable.ArrayBuffer.empty[UnitRec]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def add(u: UnitRec): UnitRec = { units += u; u }

  /** Mark `u` failed with `msg` unless it already failed. */
  def fail(u: UnitRec, msg: String): Unit = {
    System.err.println(s"[perfbench] CHECK FAILED $workload ${u.where}: $msg")
    if (u.error == null) u.error = msg
  }

  def check(u: UnitRec, ok: Boolean, msg: => String): Unit = if (!ok) fail(u, msg)

  def toJson: String = Json.render(Map(
    "workload" -> workload,
    "setup_s" -> setupSecs,
    "live_heap_mb" -> liveHeapMb,
    "units" -> units.map(_.toMap),
    "layer" -> layer))
}
