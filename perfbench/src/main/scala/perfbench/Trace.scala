package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task as the listener saw it (times in epoch ms). */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    cpuS: Double, gcS: Double)

/** Collects every finished task of the session. Attribution to spans is by
  * finish time, so jobs submitted from the engine's own futures are counted
  * in the span that was open while they ran. */
final class TaskListener extends SparkListener {
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime / 1e9, m.jvmGCTime / 1e3))
  }
}

/** A timed span: name, interval, parent and run id, plus its counters. */
final class SpanRec(val id: Int, val parent: Int, val name: String, val runId: String,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def secs: Double = (endNs - startNs) / 1e9
  /** The layer a span belongs to: its name up to the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Spans nest through a stack on the driver thread;
  * everything is written to one file by [[write]] when the run ends. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val listener = new TaskListener
  spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  private var finalized = false

  def span[T](name: String)(body: => T): T = {
    val s = new SpanRec(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, runId,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val a0 = Common.allocatedBytes()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.counters("alloc_mb") = (Common.allocatedBytes() - a0) / 1e6
      stack = stack.tail
    }
  }

  /** Attach a counter to the latest span called `name`. */
  def put(name: String, key: String, value: Double): Unit =
    spans.reverseIterator.find(_.name == name).foreach(_.counters(key) = value)

  def latest(name: String): Option[SpanRec] = spans.reverseIterator.find(_.name == name)

  /** Wait for queued listener events, then give every span the cpu, gc and
    * task totals of the tasks that finished inside it. */
  def finish(): Unit = if (!finalized) {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val all = tasksArray
    spans.foreach { s =>
      val in = all.filter(t => t.finishMs >= s.startMs && t.finishMs <= s.endMs)
      s.counters("cpu_s") = in.map(_.cpuS).sum
      s.counters("gc_s") = in.map(_.gcS).sum
      s.counters("tasks") = in.length.toDouble
      s.counters("self_s") = selfSecs(s)
    }
    finalized = true
  }

  def tasksArray: Array[TaskRec] = listener.tasks.toArray(new Array[TaskRec](0))

  /** Tasks of the last stage that finished inside span `s`. */
  def lastStageTasks(s: SpanRec): Seq[TaskRec] = {
    val in = tasksArray.filter(t => t.finishMs >= s.startMs && t.finishMs <= s.endMs)
    if (in.isEmpty) Nil else { val st = in.map(_.stageId).max; in.filter(_.stageId == st).toSeq }
  }

  /** Duration minus the part of the interval its child spans cover. */
  def selfSecs(s: SpanRec): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { covered += (curB - curA).max(0L); curA = a; curB = b }
      else curB = curB max b
    }
    covered += (curB - curA).max(0L)
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Per-layer totals: each counter summed over the outermost spans of the
    * layer (a span whose parent belongs to another layer). */
  def layerTotals(layer: String): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val tops = spans.filter(s => s.layer == layer &&
      byId.get(s.parent).forall(_.layer != layer))
    Seq("cpu_s", "gc_s", "tasks", "alloc_mb", "self_s").map { k =>
      k -> (if (k == "self_s") spans.filter(_.layer == layer).map(_.counters.getOrElse(k, 0.0)).sum
            else tops.map(_.counters.getOrElse(k, 0.0)).sum)
    }.toMap
  }

  /** One JSON object per span, then one summary object. */
  def write(path: String, summary: Map[String, Any]): Unit = {
    finish()
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      Json.render(mutable.LinkedHashMap[String, Any](
        "type" -> "span", "run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "dur_s" -> s.secs, "counters" -> s.counters))
    } :+ Json.render(Map("type" -> "summary", "run_id" -> runId) ++ summary)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
