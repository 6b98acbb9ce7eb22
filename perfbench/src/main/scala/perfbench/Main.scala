package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point (launched by `perfbench/run.py`, which sizes the
  * host, builds this package and turns the result file into metrics).
  *
  * {{{
  * Main --workload recrawl|curate --seed N --seconds S --trace 0|1
  *      --size full|traced|smoke --wide W --narrow N --budget B --scratch DIR
  *      --out FILE [--trace-file FILE] [--tables DIR]
  * }}}
  *
  * Untraced: one set-up at width W (session start, inputs, warm-up), then
  * units of work until the warm ones add up to S seconds and the workload's
  * minimum number of units has run. It stops early when a unit fails, or
  * when another unit as long as the longest so far would end more than B
  * seconds after the start. Traced: one session at width W runs the workload's
  * traced pass and writes the span file; then the narrow-width probe runs. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val wide = a("wide").toInt
    val scratch = a("scratch")
    Files.createDirectories(Paths.get(scratch))
    val wl = Workload(workload, a("seed").toLong, Sizes(a("size")), scratch, a.get("tables"))
    val res = new Result(workload)

    val t0 = System.nanoTime()
    val spark = Common.session(wide, scratch)
    wl.setup(spark, wide)
    res.setupSecs = Common.secsSince(t0)
    LiveHeap.settle()
    System.err.println(s"[perfbench] set-up ${res.setupSecs}s")

    if (a("trace") == "1") {
      val tr = new Tracer(spark, s"$workload-seed${a("seed")}")
      wl.traced(spark, wide, tr, res)
      tr.write(a("trace-file"), Map("workload" -> workload, "width" -> wide,
        "untraced_s" -> res.layer.getOrElse("trace.untraced_s", 0.0),
        "overhead_s" -> res.layer.getOrElse("trace.overhead_s", 0.0),
        "self_s" -> tr.spans.map(s => s.name -> s.counters.getOrElse("self_s", 0.0))
          .groupMapReduce(_._1)(_._2)(_ + _)))
      spark.stop()
      wl.narrowProbe(a("narrow").toInt, wide, res)
    } else {
      def warmSecs = res.units.filterNot(_.cold).map(_.secs).sum
      var calls = 0
      var longest = 0.0
      var more = true
      while (more) {
        val (_, secs) = Common.timed(wl.unit(spark, wide, res))
        calls += 1
        longest = math.max(longest, secs)
        more = (warmSecs < a("seconds").toDouble || calls < wl.minUnits) &&
          !res.units.exists(_.error != null) && Common.secsSince(t0) + longest <= a("budget").toDouble
      }
      spark.stop()
    }
    res.liveHeapMb = LiveHeap.peakMb
    System.err.println(s"[perfbench] forced collections took ${LiveHeap.totalSecs}s")
    Files.writeString(Paths.get(a("out")), res.toJson)
  }
}
