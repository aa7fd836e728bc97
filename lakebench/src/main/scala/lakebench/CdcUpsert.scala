package lakebench

import java.io.File

import scala.collection.mutable

import graft.medallion.GraftTable
import graft.sakila.SakilaSchema
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Writes beside reads on the table format: Debezium batches upserted into
  * one [[GraftTable]], a head read after every commit, and at fixed steps a
  * time-travel read, a change-feed read and a small-file compaction. One
  * unit of work is one change row. */
final class CdcUpsert(spark: SparkSession, seed: Long, scale: Scale, tracer: Tracer)
    extends Workload {
  import CdcUpsert._

  def writeOp = "commit"
  def readOp = "read"

  private val cols = SakilaSchema.rental.fieldNames.toSeq
  private var table: GraftTable = _
  private var stream: Gen.CdcStream = _
  private val model = new Model(cols.size)
  private var steps = 0L

  private var rentals: Seq[Row] = Nil
  private var root: File = _
  private def inventory = math.max(4, math.round(4581 * scale.sakilaMult).toInt)
  private def customers = math.max(4, math.round(599 * scale.sakilaMult).toInt)

  def prepare(dir: File): Unit = {
    root = dir
    rentals = Gen.cleanRentals(Gen.sakila(seed, scale.sakilaMult))
    table = new GraftTable(new File(dir, "rental").getAbsolutePath)
    val v = seedTable(table, rentals)
    rentals.foreach(model.put)
    model.record(v)
    stream = new Gen.CdcStream(seed, rentals, inventory, customers)
  }

  /** The timed operations on a throw-away table of the same size, so the
    * measured one starts clean: [[WarmUpSteps]] upserts with head reads
    * (the JIT is still settling after the first few), then a time-travel
    * read, a change-feed read and a compaction. */
  def warmUp(): Unit = {
    val warm = new GraftTable(new File(root, "warmup").getAbsolutePath)
    val v0 = seedTable(warm, rentals)
    val warmStream = new Gen.CdcStream(seed + 1, rentals, inventory, customers)
    (1 to WarmUpSteps).foreach { _ =>
      warm.upsert(changes(warmStream.nextBatch(scale.cdcBatch)), "rental_id", "ts_ms")
      digest(warm.read(spark))
    }
    digest(warm.read(spark, v0))
    warm.compactSmall(spark, 1)
    digest(warm.readChangeFeed(spark, v0))
  }

  /** Seeds a table with rows and turns on its change feed; returns the head. */
  private def seedTable(t: GraftTable, rows: Seq[Row]): Long = {
    t.append(Workload.frame(spark, rows, SakilaSchema.rental))
    t.setProperty("cdf.enabled", "true")
  }

  private def changes(batch: Seq[Gen.Change]): DataFrame = {
    import spark.implicits._
    Sources.parseDebezium(spark.createDataset(batch.map(_.json)).toDF("value"), Gen.cdcRowSchema)
  }

  /** (rows, checksum) of a frame with the rental columns. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(Stats.rowCrcColumn(cols)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private var changesDone = 0L

  def step(samples: Samples): Unit = {
    steps += 1
    changesDone += cycle(samples, steps)
  }

  private val history = mutable.ArrayBuffer.empty[Long] // head after each step
  private val travelRng = new java.util.SplittableRandom(seed ^ 0x7ab1eL)

  /** One step; returns the change rows committed. */
  private def cycle(samples: Samples, op: Long): Int = {
    val batch = stream.nextBatch(scale.cdcBatch)
    val before = if (tracer.recording)
      Some((tracer.span("txlog.snapshot", op)(_ => table.snapshot()), Workload.files(dir)))
    else None
    var upsertSpan = 0L
    val committed = samples.timed("commit") {
      tracer.span("txlog.upsert", op) { id =>
        upsertSpan = id
        table.upsert(changes(batch), "rental_id", "ts_ms")
      }
    }
    committed.foreach { v =>
      batch.foreach(c => if (c.op == "d") model.remove(c.key) else model.put(c.row))
      model.record(v)
      before.foreach { case (snap, files) =>
        upsertCounters(upsertSpan, snap, files, v, batch.map(_.json.length.toLong).sum)
      }
      read(samples, "read", "txlog.read_head", op, v)
      if (op % TravelEvery == TravelPhase) {
        val earlier = history(travelRng.nextInt(history.size))
        read(samples, "travel", "txlog.read_version", op, earlier)
      }
      if (op % FeedEvery == FeedPhase && history.size >= FeedSpan)
        feed(samples, op, history(history.size - FeedSpan), v)
      history += v
      if (op % CompactEvery == CompactPhase) compact(samples, op)
    }
    if (committed.isDefined) batch.size else 0
  }

  private def dir = new File(table.tablePath)

  private def read(samples: Samples, what: String, span: String, op: Long, v: Long): Unit =
    samples.timed(what)(tracer.span(span, op)(_ => digest(table.read(spark, v)))).foreach { got =>
      val want = model.at(v)
      samples.check(got == want, s"$what at v$v: (rows, checksum) $got, model $want")
    }

  /** Change feed over (since, until]: inserts minus deletes must carry the
    * model from `since` to `until`. */
  private def feed(samples: Samples, op: Long, since: Long, until: Long): Unit =
    samples.timed("change_feed")(tracer.span("txlog.change_feed", op) { _ =>
      val f = table.readChangeFeed(spark, since, until)
      val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      val r = f.agg(coalesce(sum(sign), lit(0L)),
        coalesce(sum(sign * Stats.rowCrcColumn(cols)), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }).foreach { got =>
      val (a, b) = (model.at(since), model.at(until))
      val want = (b._1 - a._1, b._2 - a._2)
      samples.check(got == want, s"change feed ($since, $until]: net $got, model $want")
    }

  private def compact(samples: Samples, op: Long): Unit = {
    val before = if (tracer.recording) Some(table.snapshot()) else None
    var spanId = 0L
    samples.timed("compact")(tracer.span("txlog.compact", op) { id =>
      spanId = id
      table.compactSmall(spark, 1)
    }).foreach { case (_, _, v) =>
      model.record(v)
      before.foreach { snap =>
        val live = table.snapshot(v).files.map(_.path).toSet
        tracer.count(spanId, "bytes_rewritten",
          snap.files.filterNot(f => live(f.path)).map(_.bytes).sum.toDouble)
      }
    }
  }

  private def upsertCounters(id: Long, snap: graft.medallion.TxLog.Snapshot,
      filesBefore: Map[String, Long], v: Long, changeBytes: Long): Unit = {
    val after = table.snapshot(v)
    val (was, now) = (snap.files.map(_.path).toSet, after.files.map(_.path).toSet)
    val filesAfter = Workload.files(dir)
    val written = filesAfter.collect { case (p, n) if !filesBefore.contains(p) => n }.sum
    tracer.count(id, "files_added", (now -- was).size.toDouble)
    tracer.count(id, "files_removed", (was -- now).size.toDouble)
    tracer.count(id, "files_live", now.size.toDouble)
    tracer.count(id, "write_amp", written.toDouble / changeBytes)
    tracer.count(id, "ckpt_commits",
      if (filesAfter.keys.exists(p => p.contains("checkpoint") && !filesBefore.contains(p))) 1
      else 0)
  }

  def check(samples: Samples): Unit = {
    samples.attempt()
    val want = model.at(table.latestVersion())
    val got = digest(table.read(spark))
    samples.check(got == want, s"final head: (rows, checksum) $got, model $want")
  }

  def report(samples: Seq[Samples], loopSeconds: Double): Seq[(String, (Any, String))] = {
    def all(op: String) = samples.flatMap(_(op))
    val commits = all("commit")
    val live = table.snapshot().files.map(_.bytes).sum.toDouble
    Seq(
      "commit_p50_ms" -> (Stats.median(commits), "ms"),
      "commit_tail_ms" -> (Stats.tail(commits).map(_._2).getOrElse(Double.NaN), "ms"),
      "commit_tail_percentile" -> (Stats.tail(commits).map(_._1).getOrElse(Double.NaN),
        "percentile"),
      "changes_per_s" -> (changesDone / loopSeconds, "rows/s"),
      "travel_p50_ms" -> (Stats.median(all("travel")), "ms"),
      "change_feed_p50_ms" -> (Stats.median(all("change_feed")), "ms"),
      "compact_p50_ms" -> (Stats.median(all("compact")), "ms"),
      "space_amp" -> (Workload.files(dir).values.sum / live, "ratio"),
      "commits" -> (commits.size, "count"),
      "head_version" -> (table.latestVersion(), "version"))
  }
}

object CdcUpsert {
  val WarmUpSteps = 8
  // How often the operations beside the commits run: on step n (from 1)
  // when n % Every == Phase. The rates are assumptions: the reference has
  // no time travel, change feed or compaction to take a rate from (see
  // DESIGN.md). The phases put every time-travel read, and the first
  // change-feed read and compaction, on steps a traced run traces
  // (Main.tracedStep: steps 2, 3, 6, 7, 10, 11, ...), so a short traced run
  // sees every kind.
  /** A `read(spark, v)` at a uniformly drawn earlier version. */
  val TravelEvery = 4
  val TravelPhase = 3
  /** A `readChangeFeed` over the last [[FeedSpan]] steps' versions. */
  val FeedEvery = 5
  val FeedPhase = 1
  val FeedSpan = 3
  /** A `compactSmall(spark, 1)`. */
  val CompactEvery = 10
  val CompactPhase = 7

  /** The table as the batches say it should be: live rows by key, and the
    * (rows, checksum) of every committed version. */
  final class Model(width: Int) {
    private val rows = mutable.HashMap.empty[Int, Long]
    private var crcSum = 0L
    private val versions = mutable.TreeMap.empty[Long, (Long, Long)]

    def put(r: Row): Unit = {
      remove(r.getInt(0))
      val crc = Stats.rowCrc((0 until width).map(i => Option(r.get(i)).map(_.toString).orNull))
      rows(r.getInt(0)) = crc
      crcSum += crc
    }
    def remove(key: Int): Unit = rows.remove(key).foreach(c => crcSum -= c)
    def record(v: Long): Unit = versions(v) = (rows.size.toLong, crcSum)
    /** State at `v`: the newest recorded version at or below it. */
    def at(v: Long): (Long, Long) = versions.rangeTo(v).lastOption.map(_._2).getOrElse((0L, 0L))
  }
}
