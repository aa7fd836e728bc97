package lakebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {

  private def sakilaBytes(seed: Long): Array[Byte] =
    Gen.sakila(seed, Scale.Tiny.sakilaMult).tables
      .map { case (t, rows) => t + "\n" + rows.map(_.mkString("|")).mkString("\n") }
      .mkString("\n").getBytes(StandardCharsets.UTF_8)

  private def cdcBytes(seed: Long): Array[Byte] = {
    val s = Gen.sakila(seed, Scale.Tiny.sakilaMult)
    val stream = new Gen.CdcStream(seed, Gen.cleanRentals(s), 100, 60)
    (1 to 5).flatMap(_ => stream.nextBatch(Scale.Tiny.cdcBatch)).map(_.json)
      .mkString("\n").getBytes(StandardCharsets.UTF_8)
  }

  private def requestBytes(seed: Long): Array[Byte] = {
    val r = new Serving.Requests(seed, 60)
    (1 to 50).map(_ => r.next()._2).mkString("\n").getBytes(StandardCharsets.UTF_8)
  }

  test("the same seed gives byte-identical inputs; another seed differs") {
    for (gen <- Seq(sakilaBytes _, cdcBytes _, requestBytes _)) {
      assert(java.util.Arrays.equals(gen(7), gen(7)))
      assert(!java.util.Arrays.equals(gen(7), gen(8)))
    }
  }

  test("seeded dirt exercises every cleaning rule") {
    val s = Gen.sakila(3, Scale.Full.sakilaMult)
    def dupKeys(rows: Seq[org.apache.spark.sql.Row]) =
      rows.filterNot(_.isNullAt(0)).groupBy(_.getInt(0)).exists(_._2.size > 1)
    for ((t, rows) <- s.tables) {
      assert(rows.exists(_.isNullAt(0)), s"$t has no null key")
      assert(dupKeys(rows), s"$t has no duplicate key")
    }
    assert(s.customer.exists(r => !r.isNullAt(0) && r.isNullAt(4)), "no null email")
    assert(s.payment.exists(r => Option(r.getString(4)).exists(_.startsWith("-"))),
      "no negative amount")
    assert(s.payment.exists(r => !r.isNullAt(0) && r.isNullAt(4)), "no null amount")
    assert(s.rental.exists(r => !r.isNullAt(1) && r.isNullAt(4)), "no open rental")
  }

  private val NamePattern = "[A-Za-z0-9_.-]+".r

  test("every metric name is well formed and BENCHMARK.json lists exactly them") {
    val names = (Layers.EndToEnd ++ Layers.PerLayer).map(_.name)
    names.foreach(n => assert(NamePattern.matches(n) && n.length <= 64, n))
    assert(names.distinct.size == names.size)
    assert(Layers.PerLayer.size <= 128)
    val json = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("../BENCHMARK.json")))
    def listed(key: String) = json.get(key).elements().asScala.toSeq
      .map(m => Layers.Metric(m.get("name").asText(), m.get("unit").asText(),
        m.get("better").asText()))
    assert(listed("end_to_end") == Layers.EndToEnd)
    assert(listed("per_layer") == Layers.PerLayer)
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Workload.Names)
  }

  private def tinyRun(workload: String, trace: Boolean, seconds: Double = 3): Main.Result = {
    val work = new File(s"target/test-work/$workload-$trace")
    graft.core.Fs.rmTree(work)
    Main.execute(Main.Opts(workload, seed = 11, seconds = seconds, trace = trace, work = work,
      traceOut = None, scale = Scale.Tiny))
  }

  test("a traced run alternates untraced and traced steps evenly") {
    val on = (0 until 400).map(Main.tracedStep)
    assert(on.count(identity) == 200)
    assert(!on.head && on(1), "the first two steps are one of each kind")
    // the first half of the steps is traced exactly as often as the second
    assert(on.take(200).count(identity) == on.drop(200).count(identity))
  }

  for (w <- Workload.Names) test(s"a tiny $w run passes its output checks") {
    val r = tinyRun(w, trace = false)
    assert(r.correct, r.report)
    assert(r.failed == 0 && r.attempted > 0)
    assert(r.metrics.map(_._1) == Layers.EndToEnd.map(_.name))
    r.metrics.foreach { case (n, v, _) => assert(v > 0 && !v.isNaN, n) }
    val report = Json.obj(r.report)
    r.report.map(_._1).foreach(n => assert(NamePattern.matches(n), n))
    assert(report.contains("\"checks\":\"passed\""))
  }

  test("a traced tiny run reports every per-layer metric it touches") {
    val r = tinyRun("cdc_upsert", trace = true, seconds = 8)
    assert(r.correct, r.report)
    assert(r.metrics.map(_._1) == Layers.PerLayer.map(_.name))
    val m = r.metrics.map(x => x._1 -> x._2).toMap
    Seq("core.session.wall_ms", "txlog.upsert.wall_ms", "txlog.upsert.jobs",
      "txlog.read_head.wall_ms", "txlog.snapshot.wall_ms", "txlog.upsert.files_live",
      "txlog.read_version.wall_ms", "txlog.change_feed.wall_ms", "txlog.compact.wall_ms")
      .foreach(n => assert(m(n) > 0, n))
    Seq("trace.overhead_write_p50_ms", "trace.overhead_read_ms")
      .foreach(n => assert(!m(n).isNaN, n))
    // nothing of the pipeline's layers runs in this workload
    assert(m("medallion.silver.wall_ms") == 0 && m("http.point.wall_ms") == 0)
  }
}
