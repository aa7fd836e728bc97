package lakebench

import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import scala.collection.mutable.ArrayBuffer

/** Order statistics, row checksums and host probes shared by the workloads. */
object Stats {

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest of the usual percentiles that still has at least ten
    * samples above it (nearest rank), as (percentile, value, samples). */
  def tail(xs: Iterable[Double]): Option[(Int, Double, Int)] = {
    val s = xs.toIndexedSeq.sorted
    val n = s.size
    Seq(99, 95, 90, 75, 50).find { p =>
      val rank = math.ceil(p / 100.0 * n).toInt
      rank >= 1 && n - rank >= 10
    }.map { p => (p, s(math.ceil(p / 100.0 * n).toInt - 1), n) }
  }

  /** CRC32 of a row rendered as `cell|cell|…` (null cells as `~`). Summed
    * over rows it is an order-independent checksum; Spark computes the same
    * value with [[rowCrcColumn]]. */
  def rowCrc(cells: Seq[String]): Long = {
    val c = new CRC32
    c.update(cells.map(v => if (v == null) "~" else v).mkString("|")
      .getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  def rowCrcColumn(cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    crc32(concat_ws("|", cols.map(c =>
      coalesce(col(c).cast("string"), lit("~"))): _*).cast("binary"))
  }

  /** Heap in use right after a full collection, in MB: what the process
    * still holds, without the garbage that collection timing leaves. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  @volatile private var sink = 0L

  /** A fixed CPU-bound calibration loop; returns its wall time in ms. The
    * same loop on an idle host takes the same time, so a run whose probes
    * disagree by more than [[ContendedRatio]] shared its CPU. */
  def probeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    sink += acc
    (System.nanoTime() - t0) / 1e6
  }

  val ContendedRatio = 1.3
}

/** Thread-safe sample store for the timed loop. */
final class Samples {
  private val byOp = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var attemptedN = 0L
  private var failedN = 0L
  private val failures = ArrayBuffer.empty[String]

  def add(op: String, ms: Double): Unit = synchronized {
    byOp.getOrElseUpdate(op, ArrayBuffer.empty) += ms
  }
  def apply(op: String): Seq[Double] = synchronized(byOp.get(op).map(_.toList).getOrElse(Nil))

  /** Time one operation; an exception counts it failed and is not rethrown. */
  def timed[T](op: String)(f: => T): Option[T] = {
    attempt()
    val t0 = System.nanoTime()
    try {
      val r = f
      add(op, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case e: Exception => fail(s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  def attempt(): Unit = synchronized(attemptedN += 1)
  /** Records a failed operation or output check. */
  def fail(msg: String): Unit = synchronized {
    failedN += 1
    if (failures.size < 20) failures += msg.take(300)
  }
  /** An output check on an operation already counted as attempted. */
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  def failureMessages: Seq[String] = synchronized(failures.toList)
}
