package lakebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpServer
import graft.core.Lake
import graft.tools.HttpQueryServer
import org.apache.spark.sql.SparkSession

/** The serving stage: the lake's HTTP endpoint over the silver and gold
  * views, driven in bursts by a closed loop of two clients (each waits for
  * its answer before sending again). */
final class Serving(spark: SparkSession, seed: Long, customers: Int, tracer: Tracer) {
  import Serving._

  private var server: HttpServer = _
  private var uri: URI = _
  /** One seeded request stream per client, kept across bursts. */
  private val streams = (0 until Clients).map(i => new Requests(seed * 31 + i * 7919, customers))
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
  /** Every answer, by SQL text, for the output check. */
  private val answers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Answer]]

  /** Starts the endpoint on an ephemeral loopback port. The lake handle
    * only backs the `/tables` and `/describe` routes; `/sql` reads the
    * session's views. */
  def start(lake: Lake): Unit = {
    server = HttpQueryServer.start(spark, lake, 0)
    uri = URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/sql?limit=$Limit")
  }

  private def client() = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def send(c: HttpClient, sql: String): (Double, JsonNode) = {
    val t0 = System.nanoTime()
    val res = c.send(HttpRequest.newBuilder(uri)
      .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())
    val ms = (System.nanoTime() - t0) / 1e6
    if (res.statusCode() != 200)
      throw new IllegalStateException(s"HTTP ${res.statusCode()}: ${res.body().take(200)}")
    (ms, mapper.readTree(res.body()))
  }

  /** Every class four times, from a stream the timed loop never uses. */
  def warmUp(): Unit = {
    val c = client()
    val gen = new Requests(seed ^ 0x3a11L, customers)
    (1 to 4).foreach(_ => Classes.foreach(cls => send(c, gen.fresh(cls))))
  }

  /** One burst: each client sends one [[Cycle]] of requests back to back.
    * Returns the requests answered. */
  def burst(samples: Samples): Int = {
    val done = new java.util.concurrent.atomic.AtomicInteger
    val threads = (0 until Clients).map { i =>
      val t = new Thread(() => {
        val c = client()
        val gen = streams(i)
        Cycle.indices.foreach { op =>
          val (cls, sql) = gen.next()
          samples.timed(ReadOp) {
            tracer.span(s"http.$cls", op.toLong, Some(sql)) { id =>
              val (ms, body) = send(c, sql)
              samples.add(s"$ReadOp.$cls", ms)
              tracer.count(id, "overhead_ms", ms - body.get("seconds").asDouble() * 1000)
              val a = Answer(body.get("row_count").asLong(), body.get("truncated").asBoolean(),
                checksum(body.get("rows").elements().asScala.map(
                  _.elements().asScala.map(cell).toSeq)))
              answers.synchronized(answers.getOrElseUpdate(sql, mutable.ArrayBuffer.empty) += a)
            }
          }.foreach(_ => done.incrementAndGet())
        }
      }, s"lakebench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    done.get()
  }

  /** Each distinct SQL text, run directly through `spark.sql`, must give
    * every served answer's row count and checksum, untruncated. */
  def check(samples: Samples): Unit = {
    val texts = answers.synchronized(answers.toSeq)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(Clients, Runtime.getRuntime.availableProcessors))
    try {
      texts.map { case (sql, got) =>
        pool.submit(() => {
          val rows = spark.sql(sql).collect()
          val want = Answer(rows.length.toLong, truncated = false,
            checksum(rows.iterator.map(r => (0 until r.length).map(i =>
              if (r.isNullAt(i)) null else canonical(r.get(i))))))
          (sql, got, want)
        })
      }.foreach { f =>
        val (sql, got, want) = f.get()
        got.foreach(a => samples.check(a == want,
          s"served $a, direct $want for: ${sql.take(120)}"))
      }
    } finally pool.shutdown()
  }

  def distinctTexts: Int = answers.synchronized(answers.size)

  def close(): Unit = if (server != null) server.stop(0)
}

object Serving {
  val ReadOp = "request"
  val Clients = 2
  val Limit = 100
  val Classes = Seq("point", "range", "join", "topk")
  /** The class mix of one burst per client, after the reference CLI's five
    * canned sample queries (`query_datalake.py:148-229`): two selective
    * selects (bronze, silver) → `point`, a gold tier aggregation → `range`,
    * a cross-layer reconciliation over two tables → `join`, a top-10 by
    * revenue → `topk`. So point 40 %, the others 20 % each. */
  val Cycle: Seq[String] = Seq("point", "point", "range", "join", "topk")
  /** Share of requests that repeat an earlier SQL text of the same client.
    * An assumption, not taken from the reference: see DESIGN.md. */
  val RepeatShare = 0.2
  /** The views the requests read, by layer directory and table. */
  val Views: Seq[(String, String)] =
    Seq("customer", "film", "payment", "rental").map("silver" -> _) ++
      Seq("customer_summary", "film_performance").map("gold" -> _)

  final case class Answer(rows: Long, truncated: Boolean, checksum: Long)

  def checksum(rows: Iterator[Seq[String]]): Long = rows.map(Stats.rowCrc).sum

  /** One JSON cell as text; numbers in a canonical decimal form. */
  def cell(n: JsonNode): String =
    if (n.isNull) null
    else if (n.isNumber) canonical(n.decimalValue())
    else n.asText()

  /** A Spark value as text, numbers in the same form as [[cell]]. */
  def canonical(v: Any): String = v match {
    case d: java.math.BigDecimal =>
      val s = d.stripTrailingZeros()
      (if (s.scale < 0) s.setScale(0) else s).toPlainString
    case d: Double => canonical(new java.math.BigDecimal(d.toString))
    case f: Float => canonical(new java.math.BigDecimal(f.toString))
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case other => String.valueOf(other)
  }

  /** A client's seeded request stream over the four classes, within the
    * generator's key and date ranges ([[Gen.sakila]]). */
  final class Requests(seed: Long, customers: Int) {
    private val r = new SplittableRandom(seed)
    private val seen = mutable.ArrayBuffer.empty[(String, String)]

    private def window(days: Int): (String, String) = {
      val d0 = java.time.LocalDate.of(2005, 5, 24).plusDays(r.nextInt(91 - days))
      (d0.toString, d0.plusDays(days).toString)
    }

    def fresh(cls: String): String = cls match {
      case "point" =>
        "SELECT customer_id, email, total_payments, total_spent, total_rentals, " +
          "customer_value_tier FROM gold_customer_summary " +
          s"WHERE customer_id = ${1 + r.nextInt(customers)}"
      case "range" =>
        val (a, b) = window(7)
        "SELECT to_date(payment_date) AS day, count(*) AS payments, " +
          "sum(CAST(amount AS DECIMAL(12,2))) AS revenue FROM silver_payment " +
          s"WHERE payment_date >= TIMESTAMP '$a' AND payment_date < TIMESTAMP '$b' " +
          "GROUP BY to_date(payment_date) ORDER BY day"
      case "join" =>
        val (a, b) = window(14)
        "SELECT c.store_id, count(*) AS payments, " +
          "sum(CAST(p.amount AS DECIMAL(12,2))) AS revenue FROM silver_payment p " +
          "JOIN silver_rental r ON p.rental_id = r.rental_id " +
          "JOIN silver_customer c ON r.customer_id = c.customer_id " +
          s"WHERE r.rental_date >= TIMESTAMP '$a' AND r.rental_date < TIMESTAMP '$b' " +
          "GROUP BY c.store_id ORDER BY c.store_id"
      case "topk" =>
        "SELECT film_id, title, total_rentals, total_revenue FROM gold_film_performance " +
          s"WHERE rental_duration = ${3 + r.nextInt(5)} " +
          s"ORDER BY total_revenue DESC, film_id LIMIT ${5 + r.nextInt(16)}"
    }

    /** [[Cycle]] in a seeded order per burst. A fixed mix keeps the median
      * latency from moving with the luck of the draw. */
    private val pending = mutable.Queue.empty[String]

    /** Next (class, SQL). A share of requests repeats an earlier text of
      * the same class exactly. */
    def next(): (String, String) = {
      if (pending.isEmpty) {
        val order = Cycle.toArray
        for (i <- order.indices.reverse) {
          val j = r.nextInt(i + 1)
          val t = order(i); order(i) = order(j); order(j) = t
        }
        pending ++= order
      }
      val cls = pending.dequeue()
      val earlier = seen.filter(_._1 == cls)
      if (earlier.nonEmpty && r.nextDouble() < RepeatShare) earlier(r.nextInt(earlier.size))
      else {
        val q = (cls, fresh(cls))
        seen += q
        q
      }
    }
  }
}
