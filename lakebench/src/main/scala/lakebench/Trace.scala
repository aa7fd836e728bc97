package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.lakebench.SparkObserver

/** One span: a call from the benchmark into a layer of the program. Times
  * are epoch milliseconds (fractional), the clock Spark's listener events
  * use, so jobs and tasks can be placed inside spans. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    startMs: Double, endMs: Double, sql: Option[String]) {
  def wallMs: Double = endMs - startMs
}

/** Spans and counters of a traced run, held in memory and written once at
  * the end. While `recording` is false every call is a pass-through, so an
  * untraced step pays nothing but a flag test. */
final class Tracer {
  @volatile var recording = false
  private var observers = List.empty[SparkObserver]
  private var session: Option[SparkSession] = None
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentLinkedQueue[(Long, String, Double)]
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs

  /** Listens to a (new) session's jobs, tasks and SQL executions. */
  def attach(spark: SparkSession): Unit = {
    val o = SparkObserver.attach(spark)
    o.enabled = recording
    observers ::= o
    session = Some(spark)
  }

  /** Turns recording on or off. Turning it off first lets the listeners
    * receive every event already posted, so the last job of a traced step
    * is not lost. */
  def setRecording(on: Boolean): Unit = {
    if (recording && !on) session.foreach(s => observers.headOption.foreach(_.drain(s)))
    recording = on
    observers.foreach(_.enabled = on)
  }

  /** Runs `f` inside a span named `name`; `f` receives the span id (0 when
    * not recording) for [[count]]. */
  def span[T](name: String, op: Long = 0L, sql: Option[String] = None)(f: Long => T): T =
    if (!recording) f(0L)
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = nowMs
      try f(id)
      finally {
        spans.add(Span(id, parent, name, op, t0, nowMs, sql))
        stack.set(stack.get().tail)
      }
    }

  /** Attaches a counter to a span instance. */
  def count(spanId: Long, key: String, value: Double): Unit =
    if (recording && spanId != 0L) counters.add((spanId, key, value))

  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Writes every span and counter as JSON lines. */
  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spanList.foreach { s =>
        w.println(Json.obj(Seq("span" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      }
      counters.asScala.foreach { case (id, k, v) =>
        w.println(Json.obj(Seq("span" -> id, "counter" -> k, "value" -> v)))
      }
    } finally w.close()
  }

  /** Per span-name medians of every measure (see [[Layers]]), over the
    * spans recorded so far. */
  def layerMetrics(spark: SparkSession): Map[String, Double] = {
    observers.foreach(_.drain(spark))
    val all = spanList
    val measures = Tracer.measure(all, observers)
    val out = mutable.Map.empty[String, Double]
    all.groupBy(_.name).foreach { case (name, ss) =>
      val ms = ss.map(s => measures(s.id))
      Tracer.MeasureNames.zipWithIndex.foreach { case (m, i) =>
        out(s"$name.$m") = Stats.median(ms.map(_(i)))
      }
    }
    val byId = all.map(s => s.id -> s.name).toMap
    counters.asScala.toSeq.groupBy { case (id, k, _) => (byId.getOrElse(id, "?"), k) }
      .foreach { case ((name, k), vs) =>
        val xs = vs.map(_._3)
        out(s"$name.$k") = if (Layers.Summed(k)) xs.sum else Stats.median(xs)
      }
    out.toMap
  }
}

object Tracer {
  val MeasureNames: Seq[String] = Seq("wall_ms", "self_ms", "plan_ms", "jobs", "tasks",
    "driver_gap_ms", "cpu_ms", "task_wait_ms", "shuffle_bytes", "spill_bytes", "input_bytes")

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** The measures of every span, inclusive of its descendants. An SQL
    * execution belongs to the innermost span that contains it (preferring a
    * span whose SQL text matches, which separates concurrent requests); a
    * job to its execution's span, or else to the innermost span open when
    * it started; a task to its job. */
  def measure(spans: Seq[Span], observers: Seq[SparkObserver]): Map[Long, Array[Double]] = {
    val slack = 2.0 // listener times are whole milliseconds
    def innermost(cands: Seq[Span]): Option[Span] =
      if (cands.isEmpty) None else Some(cands.maxBy(s => (s.startMs, s.id)))
    val byId = spans.map(s => s.id -> s).toMap
    def ancestry(id: Long): List[Long] =
      Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
        .takeWhile(_.isDefined).map(_.get.id).toList

    val plan = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val jobs = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val jobIv = mutable.Map.empty[Long, List[(Double, Double)]].withDefaultValue(Nil)
    val tasks = mutable.Map.empty[Long, Array[Double]]
    def taskAcc(id: Long) = tasks.getOrElseUpdate(id, new Array[Double](6))

    observers.foreach { o =>
      val execSpan = o.execList.flatMap { e =>
        val cands = spans.filter(s => s.startMs - slack <= e.startMs && e.endMs <= s.endMs + slack)
        val p = o.planOf(e)
        val text = p.flatMap(_._2)
        val matching = cands.filter(s => s.sql.isDefined && s.sql == text)
        innermost(if (matching.nonEmpty) matching else cands).map { s =>
          ancestry(s.id).foreach(a => plan(a) += p.map(_._1).getOrElse(0.0))
          e.id -> s.id
        }
      }.toMap
      val jobSpan = o.jobList.flatMap { j =>
        val end = Option(o.jobEnds.get(j.id)).map(_.doubleValue).getOrElse(j.startMs.toDouble)
        j.execId.flatMap(execSpan.get)
          .orElse(innermost(spans.filter(s =>
            s.startMs - slack <= j.startMs && j.startMs <= s.endMs + slack)).map(_.id))
          .map { sid =>
            ancestry(sid).foreach { a =>
              jobs(a) += 1
              jobIv(a) = (j.startMs.toDouble, end) :: jobIv(a)
            }
            j.stageIds.map(_ -> sid)
          }.getOrElse(Nil)
      }.toMap
      o.taskList.foreach { t =>
        jobSpan.get(t.stageId).foreach { sid =>
          val submitted = Option(o.stageSubmitted.get(t.stageId))
            .map(_.longValue).getOrElse(t.launchMs)
          ancestry(sid).foreach { a =>
            val acc = taskAcc(a)
            acc(0) += 1
            acc(1) += t.cpuNs / 1e6
            acc(2) += math.max(0L, t.launchMs - submitted)
            acc(3) += t.shuffleBytes
            acc(4) += t.spillBytes
            acc(5) += t.inputBytes
          }
        }
      }
    }
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val t = tasks.getOrElse(s.id, new Array[Double](6))
      s.id -> Array(
        s.wallMs,
        s.wallMs - covered(kids, s.startMs, s.endMs),
        plan(s.id),
        jobs(s.id),
        t(0),
        s.wallMs - covered(jobIv(s.id), s.startMs, s.endMs),
        t(1), t(2), t(3), t(4), t(5))
    }.toMap
  }
}

/** Minimal JSON rendering for the benchmark's output lines. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(json) => json
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
