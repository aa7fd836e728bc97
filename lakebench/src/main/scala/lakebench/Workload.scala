package lakebench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Input sizes. `Full` is what the benchmark measures; `Tiny` keeps the
  * benchmark's own tests fast. `cdcBatch` is the changes per Debezium batch:
  * 100 in full, the reference consumer's per-table flush buffer
  * (`kafka_to_bronze.py:38`, see DESIGN.md). */
final case class Scale(name: String, sakilaMult: Double, cdcBatch: Int)

object Scale {
  val Full = Scale("full", sakilaMult = 1.0, cdcBatch = 100)
  val Tiny = Scale("tiny", sakilaMult = 0.1, cdcBatch = 20)
}

/** The timed loop's clock. The first call past half time runs the CPU
  * probe into `probes` and leaves its duration out of the loop time. */
final class Timer(seconds: Double, probes: ArrayBuffer[Double]) {
  private val t0 = System.nanoTime()
  private var paused = 0L
  private var probed = false

  def elapsed: Double = (System.nanoTime() - t0 - paused) / 1e9

  /** True while the loop should start another iteration. */
  def running: Boolean = {
    if (!probed && elapsed >= seconds / 2) {
      val p0 = System.nanoTime()
      probes += Stats.probeMs()
      paused += System.nanoTime() - p0
      probed = true
    }
    elapsed < seconds
  }
}

/** One benchmark workload, built fresh for every set-up of a run. Each has
  * a write operation and a read operation: the median write is the run's
  * `write_p50_ms`, and [[readMs]] its `read_ms`. The run's closed loop
  * calls [[step]] until its timer stops. */
trait Workload {
  def writeOp: String
  def readOp: String

  /** The typical read latency of the samples; by default their median. */
  def readMs(samples: Seq[Samples]): Double = Stats.median(samples.flatMap(_(readOp)))

  /** Generates the inputs under `dir` and makes them ready to use. */
  def prepare(dir: File): Unit

  /** Runs the timed operations outside the timed loop until the JVM has
    * compiled their hot paths. */
  def warmUp(): Unit

  /** One iteration of the closed loop, recording into `samples`. */
  def step(samples: Samples): Unit

  /** Output checks after the loop; each failure is recorded in `samples`. */
  def check(samples: Samples): Unit

  /** Called once after the checks, with tracing still on, to attach
    * counters that need extra reads of the outputs. */
  def traceCounters(): Unit = ()

  /** Workload-specific end-to-end figures: name → (value, unit), given the
    * samples and the loop's total seconds. */
  def report(samples: Seq[Samples], loopSeconds: Double): Seq[(String, (Any, String))]

  def close(): Unit = ()
}

object Workload {
  val Names = Seq("medallion_refresh", "cdc_upsert")

  def apply(name: String, spark: SparkSession, seed: Long, scale: Scale,
      tracer: Tracer): Workload = name match {
    case "medallion_refresh" => new MedallionRefresh(spark, seed, scale, tracer)
    case "cdc_upsert" => new CdcUpsert(spark, seed, scale, tracer)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  /** Regular files under `dir` (recursively) with their sizes. */
  def files(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val base = dir.toPath
      val s = java.nio.file.Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
          .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }

  /** Data files a layer wrote: parquet/text parts, not markers or checksums. */
  def dataFiles(dir: File): Map[String, Long] =
    files(dir).filter { case (p, _) =>
      val n = new File(p).getName
      !n.startsWith(".") && !n.startsWith("_")
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
