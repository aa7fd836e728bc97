package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Dev tool: run named queries and attribute wall time to Spark jobs vs
  * driver-side gaps. For each query prints every job's duration, call
  * site, and the idle gap before it — the fixed-overhead profile that
  * per-stage metrics can't show (guide §1: measure first; §7.3: when
  * nothing is running, the driver is doing something single-threaded).
  *
  * Usage: runMain graft.tools.JobProfiler [sfDir] q133_cdc_replication ...
  */
object JobProfiler {
  private final case class JobRec(
      id: Int, desc: String, submitted: Long, var finished: Long = -1L)

  def main(args: Array[String]): Unit = {
    val (dir, names) =
      if (args.nonEmpty && args.head.startsWith("/")) (args.head, args.tail)
      else ("/root/testdata/sf0.1", args)
    val spark = graft.core.SparkSessionFactory.local("graft-jobprofiler")
    spark.sparkContext.setLogLevel("ERROR")
    // same session warm-up as Bench so the first profiled query is not
    // charged the codegen/parquet cold start
    spark.range(1000000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v").count()
    try spark.read.parquet(s"$dir/region.parquet").count()
    catch { case _: Throwable => () }

    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        val p = Option(j.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val site = prop("spark.job.description")
          .orElse(prop("callSite.short")).getOrElse("?")
        val tasks = j.stageInfos.map(_.numTasks).sum
        jobs += JobRec(j.jobId, s"stages=${j.stageInfos.size} tasks=$tasks $site",
          System.nanoTime())
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == j.jobId).foreach(_.finished = System.nanoTime())
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      jobs.synchronized(jobs.clear())
      val parses0 = graft.medallion.TxLog.liveCommitParses.get()
      val hits0 = graft.medallion.TxLog.liveCommitCacheHits.get()
      val t0 = System.nanoTime()
      graft.core.CacheScope.scoped {
        SparkEntryRef.run(spark, dir, name)
      }
      Thread.sleep(300) // let the listener bus drain job-end events
      val wall = (System.nanoTime() - t0) / 1e9
      val snap = jobs.synchronized(jobs.toVector).sortBy(_.submitted)
      println(s"\n================ $name  wall=${f"$wall%.2f"}s  jobs=${snap.size} ================")
      var prevEnd = t0
      var jobSum = 0.0
      var gapSum = 0.0
      snap.foreach { j =>
        val end = if (j.finished > 0) j.finished else j.submitted
        val dur = (end - j.submitted) / 1e9
        val gap = math.max(0.0, (j.submitted - prevEnd) / 1e9)
        jobSum += dur; gapSum += gap
        if (dur >= 0.03 || gap >= 0.03)
          println(f"  job ${j.id}%4d  gap=$gap%6.3f  dur=$dur%6.3f  ${j.desc.take(90)}")
        prevEnd = math.max(prevEnd, end)
      }
      val tailGap = math.max(0.0, (System.nanoTime() - prevEnd) / 1e9)
      println(f"  SUM jobs=$jobSum%.2f  gaps(driver)=${gapSum + tailGap}%.2f  (wall $wall%.2f)")
      // live-commit parse-cache evidence: hits = driver JSON parses the
      // pre-cache code performed in the same run (each call either
      // parses or hits — no flag needed to reconstruct the before)
      val parses = graft.medallion.TxLog.liveCommitParses.get() - parses0
      val hits = graft.medallion.TxLog.liveCommitCacheHits.get() - hits0
      println(s"  commit-doc parses=$parses  cache-hits(avoided parses)=$hits")
    }
    spark.stop()
  }
}

/** Indirection so the profiler can also time a query's collect the same
  * way Bench does (count on the final frame). */
private object SparkEntryRef {
  def run(spark: org.apache.spark.sql.SparkSession, dir: String, name: String): Unit = {
    val fn = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    fn(spark, dir).count()
    ()
  }
}
