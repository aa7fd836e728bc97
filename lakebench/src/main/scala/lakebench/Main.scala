package lakebench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.core.SparkSessionFactory
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> [--trace-out <file>]
  * }}}
  *
  * A run prepares [[SetupReps]] times (session start, input generation,
  * registration), warms up once (every timed operation once), then runs the
  * closed loop for `seconds`, with the CPU probe at its start, middle and
  * end. `setup_s` is the median preparation plus the warm-up. With
  * `--trace 1` the loop's steps alternate untraced and traced
  * ([[tracedStep]]), and the run reports per-layer metrics from the traced
  * steps plus the traced-minus-untraced difference. The next-to-last line
  * of stdout is a `REPORT` object with every figure; the last line is the
  * result object. Exit code 1 means an operation or output check failed. */
object Main {

  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, traceOut: Option[File], scale: Scale = Scale.Full)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), m.get("trace-out").map(new File(_)))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    // the lake's HTTP server leaves non-daemon pool threads behind
    sys.exit(code)
  }

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], report: Seq[(String, Any)])

  def run(o: Opts): Int = {
    require(Workload.Names.contains(o.workload),
      s"unknown workload '${o.workload}' (one of ${Workload.Names.mkString(", ")})")
    val r = execute(o)
    println("REPORT " + Json.obj(r.report))
    println(Json.obj(Seq(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> Json.Raw(Json.obj(r.metrics.map { case (n, v, u) => n -> valued(v, u) })))))
    if (r.correct) 0 else 1
  }

  /** Whether step `i` (from 0) of a traced run is traced. The block
    * untraced, traced, traced, untraced repeats, so a linear drift along
    * the loop (the JIT still settling, caches filling, the host) weighs on
    * both sides alike. */
  def tracedStep(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  /** `{"value": v, "unit": u}`, the shape of every reported figure. */
  private def valued(v: Any, unit: String) = Json.Raw(Json.obj(Seq("value" -> v, "unit" -> unit)))

  def execute(o: Opts): Result = {
    Stats.probeMs() // JIT warm-up of the probe itself
    val probes = ArrayBuffer(Stats.probeMs())
    val tracer = new Tracer
    var spark: SparkSession = null
    var w: Workload = null
    try {
      val sessions = ArrayBuffer.empty[Double]
      val setups = (1 to SetupReps).map { i =>
        val t0 = System.nanoTime()
        if (w != null) w.close()
        if (spark != null) spark.stop()
        graft.core.Fs.rmTree(new File(o.work, s"setup-${i - 1}"))
        tracer.setRecording(o.trace)
        spark = tracer.span("core.session", i) { _ =>
          val s = SparkSessionFactory.local("lakebench")
          if (o.trace) tracer.attach(s)
          s.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
          s
        }
        tracer.setRecording(false)
        sessions += Workload.secondsSince(t0)
        w = Workload(o.workload, spark, o.seed, o.scale, tracer)
        w.prepare(new File(o.work, s"setup-$i"))
        Workload.secondsSince(t0)
      }
      val warm0 = System.nanoTime()
      w.warmUp()
      val warmUpS = Workload.secondsSince(warm0)

      // the timed loop; a traced run ends on a whole block of four steps,
      // so its two kinds of step balance
      val plain = new Samples
      val traced = new Samples
      val timer = new Timer(o.seconds, probes)
      var steps = 0
      while (timer.running || (o.trace && steps % 4 != 0)) {
        val on = o.trace && tracedStep(steps)
        tracer.setRecording(on)
        w.step(if (on) traced else plain)
        steps += 1
      }
      val loopSeconds = timer.elapsed
      probes += Stats.probeMs()
      val liveHeapMb = Stats.liveHeapMb()
      tracer.setRecording(false)
      w.check(plain)
      if (o.trace) {
        tracer.setRecording(true)
        w.traceCounters()
        tracer.setRecording(false)
      }

      val samples = if (o.trace) Seq(plain, traced) else Seq(plain)
      def p50(op: String, ss: Seq[Samples]) = Stats.median(ss.flatMap(_(op)))
      val attempted = samples.map(_.attempted).sum
      val failed = samples.map(_.failed).sum
      val e2e = Seq(
        ("setup_s", Stats.median(setups) + warmUpS, "s"),
        ("write_p50_ms", p50(w.writeOp, samples), "ms"),
        ("read_ms", w.readMs(samples), "ms"),
        ("live_heap_mb", liveHeapMb, "MB"))
      val overhead = Seq(
        ("trace.overhead_write_p50_ms",
          p50(w.writeOp, Seq(traced)) - p50(w.writeOp, Seq(plain)), "ms"),
        ("trace.overhead_read_ms", w.readMs(Seq(traced)) - w.readMs(Seq(plain)), "ms"))
      val metrics =
        if (!o.trace) e2e
        else {
          val layer = tracer.layerMetrics(spark)
          o.traceOut.foreach(tracer.write)
          Layers.PerLayer.map { m =>
            overhead.find(_._1 == m.name).getOrElse((m.name, layer.getOrElse(m.name, 0.0), m.unit))
          }
        }
      def tailOf(op: String) = Stats.tail(samples.flatMap(_(op))).map { case (p, v, n) =>
        Json.obj(Seq("op" -> op, "percentile" -> p, "value_ms" -> v, "samples" -> n))
      }.getOrElse(Json.obj(Seq("op" -> op, "percentile" -> None,
        "samples" -> samples.map(_(op).size).sum)))
      val drift = probes.max / probes.min
      val report = Seq(
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> o.trace, "scale" -> o.scale.name, "steps" -> steps,
        "cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
        "prepare_s_runs" -> setups, "session_s_runs" -> sessions.toSeq,
        "warm_up_s" -> warmUpS, "peak_rss_mb" -> Stats.peakRssMb(),
        "end_to_end" -> Json.Raw(Json.obj(
          (e2e.map { case (n, v, u) => n -> (v, u) } ++ w.report(samples, loopSeconds) ++
            Seq("failed_ratio" -> (failed.toDouble / math.max(1L, attempted), "failed/attempted")))
            .map { case (n, (v, u)) => n -> valued(v, u) })),
        "tails" -> Seq(w.writeOp, w.readOp).map(op => Json.Raw(tailOf(op))),
        "samples_ms" -> Json.Raw(Json.obj(Seq(w.writeOp, w.readOp).map(op =>
          op -> samples.flatMap(_(op)).map(v => math.round(v * 10) / 10.0)))),
        "attempted" -> attempted, "failed" -> failed,
        "checks" -> (if (failed == 0) "passed" else "FAILED"),
        "failures" -> samples.flatMap(_.failureMessages),
        "probe_ms" -> probes.toSeq, "probe_drift" -> drift,
        "contended" -> (drift > Stats.ContendedRatio)) ++
        (if (o.trace) Seq("trace_overhead" -> Json.Raw(Json.obj(overhead.map {
          case (n, v, u) => n -> valued(v, u) })))
        else Nil)
      Result(failed == 0, attempted, failed, metrics, report)
    } finally {
      if (w != null) w.close()
      if (spark != null) spark.stop()
    }
  }
}
