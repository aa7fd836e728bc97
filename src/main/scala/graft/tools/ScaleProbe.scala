package graft.tools

import java.nio.file.{Files, Paths}

import graft.medallion.{GraftTable, TxLog}
import org.apache.spark.sql.types._

/** Metadata-plane scale probe: build a SYNTHETIC commit log with n adds
  * (no data files — this measures the driver/metadata path alone) and
  * time the operations that bound a 100 TB table's planning:
  *
  *   1. checkpoint WRITE (streamed JSON, line-at-a-time),
  *   2. driver-side snapshot RESOLUTION (parse + live-set replay) —
  *      SKIPPED above 2·10⁶ adds, where full driver materialization is
  *      the documented anti-path (the distributed prune below is the
  *      production route at that scale),
  *   3. DISTRIBUTED planning prune (executors parse, survivors-only
  *      collect).
  *
  * Prints one JSON line. Run:
  * {{{
  * sbt "runMain graft.tools.ScaleProbe 1000000"
  * }}}
  * DistributedPruneSpec pins the same machinery at 2·10⁵ adds on every
  * test run; this main is the manual top-end
  * measurement. The add stream is a lazy view — 10⁷ adds never
  * materialize on the probe's own heap either.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType)))
    val dir = new java.io.File(
      s"target/tmp/scaleprobe_${java.util.UUID.randomUUID().toString.take(8)}")
    val logDir = Paths.get(dir.getAbsolutePath, "_graft_log")
    Files.createDirectories(logDir)

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // 1. streamed checkpoint write of n adds (disjoint id ranges);
    // a VIEW, so the add stream renders lazily on every traversal
    def adds = (0 until n).view.map { i =>
      TxLog.AddFile(
        path = f"part-synth-$i%08d.parquet", rows = 100L, bytes = 4096L,
        stats = Map(
          "id" -> TxLog.ColStats("num",
            (i * 100L).toString, (i * 100L + 99L).toString, Some(0L)),
          "x" -> TxLog.ColStats("num", "0.0", "1.0", Some(0L))))
    }
    val cpPath = logDir.resolve(f"${1L}%020d.checkpoint.json")
    val (_, writeS) = timed {
      TxLog.putIfAbsentLines(
        TxLog.renderCommitLines("checkpoint", 1L, Some(schema.json), adds, Nil),
        cpPath)
    }
    val cpBytes = Files.size(cpPath)

    val t = new GraftTable(dir.getAbsolutePath)
    // 2. cold driver resolution (parse + replay), then the cached path —
    // only where full driver materialization is even the right tool
    val driverViable = n <= 2000000
    val (resolveS, cachedS) =
      if (!driverViable) (-1.0, -1.0)
      else {
        val (snap, r) = timed(t.snapshot())
        require(snap.files.size == n, s"resolved ${snap.files.size} of $n")
        val (_, c) = timed(t.snapshot())
        (r, c)
      }

    // 3. distributed prune: a 100-file range out of n
    val spark = graft.core.SparkSessionFactory.local("graft-scaleprobe",
      defaultCpus = Runtime.getRuntime.availableProcessors.min(32))
    spark.sparkContext.setLogLevel("ERROR")
    val constraints = Seq[(String, Option[Any], Option[Any])](
      ("id", Some(n.toLong * 50L), Some(n.toLong * 50L + 9999L)))
    val (pruned, distS) = timed(t.prunedSnapshotDistributed(spark, 1L, 1L, constraints))
    val drvS =
      if (!driverViable) -1.0
      else {
        val (prunedDrv, s) = timed(t.prunedSnapshot(constraints, -1L))
        require(pruned.files.map(_.path).toSet == prunedDrv.files.map(_.path).toSet,
          "distributed and driver prunes must agree")
        s
      }
    require(pruned.files.size == 100,
      s"expected the 100-file survivor range, got ${pruned.files.size}")

    println(
      f"""{"adds":$n,"checkpoint_bytes":$cpBytes,""" +
        f""""write_s":$writeS%.2f,""" +
        f""""resolve_cold_s":$resolveS%.2f,"resolve_cached_s":$cachedS%.2f,""" +
        f""""survivors":${pruned.files.size},"prune_distributed_s":$distS%.2f,""" +
        f""""prune_driver_s":$drvS%.2f}""")
    graft.core.Fs.rmTree(dir)
    spark.stop()
  }
}
