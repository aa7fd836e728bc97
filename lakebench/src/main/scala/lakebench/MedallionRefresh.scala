package lakebench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.medallion.Medallion
import graft.sakila.{SakilaPipeline, SakilaSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's pipeline: seeded Sakila sources → bronze (CDC-envelope JSON)
  * → silver (cleaned parquet) → gold (four aggregates) → SQL serving over
  * silver and gold. Each iteration of the closed loop is one refresh (the
  * write operation) followed by a burst of HTTP requests (the read
  * operation) against what it wrote. */
final class MedallionRefresh(spark: SparkSession, seed: Long, scale: Scale, tracer: Tracer)
    extends Workload {
  import Gen.Clock

  def writeOp = "refresh"
  def readOp = Serving.ReadOp

  /** Each request class's median, weighted by its share of the mix. The
    * classes' latencies lie far apart, so the median of all requests falls
    * in the tail of one class and moves with a few samples; the weighted
    * class medians do not. */
  override def readMs(samples: Seq[Samples]): Double =
    Serving.Classes.map { c =>
      Stats.median(samples.flatMap(_(s"$readOp.$c"))) *
        Serving.Cycle.count(_ == c) / Serving.Cycle.size
    }.sum

  private val serving = new Serving(spark, seed,
    math.max(4, math.round(599 * scale.sakilaMult).toInt), tracer)
  private var burstSeconds = 0.0
  private var data: Gen.Sakila = _
  private var root: File = _
  private def layer(name: String) = new File(root, name).getAbsolutePath
  private val schemas = Map("customer" -> SakilaSchema.customer, "film" -> SakilaSchema.film,
    "payment" -> SakilaSchema.payment, "rental" -> SakilaSchema.rental)
  private val golds = Seq("customer_summary", "film_performance", "daily_revenue", "rental_trends")
  private var sourceRows = 0L
  private val layerSpans = ArrayBuffer.empty[(String, Long)]

  def prepare(dir: File): Unit = {
    root = dir
    data = Gen.sakila(seed, scale.sakilaMult)
    data.tables.foreach { case (t, rows) =>
      Workload.frame(spark, rows, schemas(t)).write.mode("overwrite")
        .parquet(s"${layer("source")}/$t")
    }
    sourceRows = data.tables.map(_._2.size.toLong).sum
    serving.start(graft.core.Lake(spark, layer("gold")))
  }

  /** Two refreshes (on a cold JVM the second still runs ~10 % slower than
    * steady state) and a round of requests. */
  def warmUp(): Unit = {
    (1 to 2).foreach { _ => refresh(0); publish() }
    serving.warmUp()
  }

  /** (Re-)registers the views the requests read, over the files the last
    * refresh wrote. */
  private def publish(): Unit = Serving.Views.foreach { case (l, t) =>
    spark.read.parquet(s"${layer(l)}/$t").createOrReplaceTempView(s"${l}_$t")
  }

  private def layerSpan(name: String, op: Long)(f: => Unit): Unit =
    tracer.span(name, op) { id => f; if (id != 0) layerSpans += name -> id }

  /** One refresh through the lake's public layer functions. */
  def refresh(op: Long): Unit = tracer.span("medallion.refresh", op) { _ =>
    layerSpan("medallion.bronze", op) {
      schemas.keys.foreach { t =>
        Medallion.writeBronzeTo(spark.read.parquet(s"${layer("source")}/$t"), t, Clock,
          layer("bronze"))
      }
    }
    layerSpan("medallion.silver", op) {
      schemas.foreach { case (t, schema) =>
        // the cleaners take the enveloped frame (they select data.*)
        val flat = Medallion.readBronze(spark, s"${layer("bronze")}/$t", schema)
        val enveloped = flat.select(struct(schema.fieldNames.map(col): _*).as("data"))
        val clean: (DataFrame, String) => DataFrame = t match {
          case "customer" => SakilaPipeline.cleanCustomer
          case "film" => SakilaPipeline.cleanFilm
          case "payment" => SakilaPipeline.cleanPayment
          case "rental" => SakilaPipeline.cleanRental
        }
        Medallion.writeSilverTo(clean(enveloped, Clock), t, layer("silver"))
      }
    }
    layerSpan("medallion.gold", op) {
      def silver(t: String) = spark.read.parquet(s"${layer("silver")}/$t")
      val (c, f, p, r) = (silver("customer"), silver("film"), silver("payment"), silver("rental"))
      Medallion.writeGoldTo(SakilaPipeline.customerSummary(c, p, r, Clock),
        "customer_summary", layer("gold"))
      Medallion.writeGoldTo(SakilaPipeline.filmPerformance(f, r, p, Clock),
        "film_performance", layer("gold"))
      Medallion.writeGoldTo(SakilaPipeline.dailyRevenue(p, Clock), "daily_revenue", layer("gold"))
      Medallion.writeGoldTo(SakilaPipeline.rentalTrends(r, Clock), "rental_trends", layer("gold"))
    }
  }

  private var op = 0L

  def step(samples: Samples): Unit = {
    op += 1
    samples.timed(writeOp)(refresh(op))
    publish()
    val t0 = System.nanoTime()
    serving.burst(samples)
    burstSeconds += Workload.secondsSince(t0)
  }

  private def rows(layerName: String, t: String): Long =
    spark.read.parquet(s"${layer(layerName)}/$t").count()

  def check(samples: Samples): Unit = {
    val e = data.expect
    Seq("customer" -> e.customers, "film" -> e.films, "payment" -> e.payments,
      "rental" -> e.rentals).foreach { case (t, want) =>
      samples.attempt()
      val got = rows("silver", t)
      samples.check(got == want, s"silver $t rows $got, expected $want distinct valid keys")
    }
    samples.attempt()
    val revenue = spark.read.parquet(s"${layer("gold")}/daily_revenue")
      .agg(sum("total_revenue")).head().getDouble(0)
    samples.check(math.abs(revenue * 100 - e.revenueCents) < 1.0,
      f"gold daily_revenue total $revenue%.2f, expected ${e.revenueCents / 100.0}%.2f")
    samples.attempt()
    val summary = spark.read.parquet(s"${layer("gold")}/customer_summary")
      .agg(count(lit(1)), countDistinct("customer_id")).head()
    samples.check(summary.getLong(0) == e.customers && summary.getLong(1) == e.customers,
      s"customer_summary has ${summary.getLong(0)} rows / ${summary.getLong(1)} customers, " +
        s"expected ${e.customers}")
    serving.check(samples)
  }

  override def traceCounters(): Unit = {
    // every refresh writes the same outputs, so the last one's sizes and
    // row counts stand for all of them (read here, outside every span)
    val silverRows = schemas.keys.toSeq.map(rows("silver", _)).sum.toDouble
    val goldRows = golds.map(rows("gold", _)).sum.toDouble
    def sized(l: String) = {
      val fs = Workload.dataFiles(new File(layer(l)))
      (fs.values.sum.toDouble, fs.size.toDouble)
    }
    val out = Map(
      "medallion.bronze" -> (sourceRows.toDouble, sourceRows.toDouble, sized("bronze")),
      "medallion.silver" -> (sourceRows.toDouble, silverRows, sized("silver")),
      "medallion.gold" -> (silverRows, goldRows, sized("gold")))
    layerSpans.foreach { case (name, id) =>
      val (in, rowsOut, (bytes, files)) = out(name)
      tracer.count(id, "rows_in", in)
      tracer.count(id, "rows_out", rowsOut)
      tracer.count(id, "bytes_out", bytes)
      tracer.count(id, "files_out", files)
      if (name == "medallion.silver") tracer.count(id, "keep_ratio", rowsOut / in)
    }
  }

  def report(samples: Seq[Samples], loopSeconds: Double): Seq[(String, (Any, String))] = {
    def all(op: String) = samples.flatMap(_(op))
    val reqs = all(readOp)
    Seq(
      "refresh_s" -> (Stats.median(all(writeOp)) / 1000.0, "s"),
      "refreshes" -> (all(writeOp).size, "count"),
      "source_rows" -> (sourceRows, "rows"),
      "serve_p50_ms" -> (Stats.median(reqs), "ms"),
      "serve_tail_ms" -> (Stats.tail(reqs).map(_._2).getOrElse(Double.NaN), "ms"),
      "serve_tail_percentile" -> (Stats.tail(reqs).map(_._1).getOrElse(Double.NaN), "percentile"),
      "serve_qps" -> (reqs.size / burstSeconds, "requests/s"),
      "requests" -> (reqs.size, "count"),
      "distinct_sql" -> (serving.distinctTexts, "count")) ++
      Serving.Classes.map(c => s"serve_${c}_p50_ms" -> (Stats.median(all(s"$readOp.$c")), "ms"))
  }

  override def close(): Unit = serving.close()
}
