package graft

import graft.medallion.GraftTable
import org.apache.spark.sql.functions._
import scala.util.Random

/** Differential fuzz for the positional scan plane (generated
  * row-index column, SelectedColumnVector remap, byte-range splits,
  * pushed filters): every read path of a table — the programmatic
  * `t.read`, the `format("graft-table")` scan, a stats-pruned
  * `readRange` and, in every fourth trial, an `AvailableNow` stream of
  * a clone and a scan through the row (non-vectorized) readers — must
  * return exactly the generator's MODEL of it: the
  * generated rows minus every row any of the trial's deletes matched,
  * across randomized file counts, delete patterns, filters, and split
  * sizes. The model shares no code with the scan. Seeded: failures
  * replay exactly. */
class DvColumnarFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def dsv2(t: GraftTable) =
    spark.read.format("graft-table").option("path", t.tablePath).load()
      .drop("_commit_version")

  test("20 randomized trials: all read paths == the model under deletes/filters") {
    val rnd = new Random(0xD5C01L)
    for (trial <- 0 until 20) {
      val root = new java.io.File(
        s"target/tmp/dvfuzz_${trial}_${java.util.UUID.randomUUID().toString.take(6)}")
      val t = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
      val nFiles = 1 + rnd.nextInt(3)
      val rowsPerFile = 2000 + rnd.nextInt(9000)
      var base = 0L
      val generated = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      (0 until nFiles).foreach { f =>
        val rows = (0 until rowsPerFile).map { i =>
          val id = base + i
          (id, (id * 37) % 1000, s"p$id")
        }
        generated ++= rows
        t.append(rows.toDF("id", "k", "payload").orderBy("id").coalesce(1))
        base += rowsPerFile
      }
      // 1-3 random MOR deletes (modulus patterns and ranges; may DV
      // several files, may match nothing), each with its model twin
      val nDeletes = 1 + rnd.nextInt(3)
      val deletes: Seq[((Long, Long)) => Boolean] = (0 until nDeletes).map { _ =>
        val (pred, matches) = rnd.nextInt(3) match {
          case 0 =>
            val m = 7 + rnd.nextInt(13)
            val r = rnd.nextInt(5)
            (s"id % $m = $r", (ik: (Long, Long)) => ik._1 % m == r)
          case 1 =>
            val lo = rnd.nextLong().abs % base
            val hi = lo + rnd.nextInt(800)
            (s"id >= $lo AND id < $hi",
              (ik: (Long, Long)) => ik._1 >= lo && ik._1 < hi)
          case _ =>
            val k = rnd.nextInt(1000)
            (s"k = $k", (ik: (Long, Long)) => ik._2 == k)
        }
        t.deleteRows(spark, pred)
        matches
      }
      // random filter (sometimes none), random split size
      val (filter, admits) = rnd.nextInt(3) match {
        case 0 => (None, (_: (Long, Long)) => true)
        case 1 =>
          val lo = rnd.nextLong().abs % base
          val hi = lo + 1 + rnd.nextInt(6000)
          (Some(col("id") >= lo && col("id") < hi),
            (ik: (Long, Long)) => ik._1 >= lo && ik._1 < hi)
        case _ =>
          val k = rnd.nextInt(1000)
          (Some(col("k") < k), (ik: (Long, Long)) => ik._2 < k)
      }
      val split = (8 + rnd.nextInt(120)) * 1024
      val live = generated.filterNot(r => deletes.exists(_((r._1, r._2))))
        .filter(r => admits((r._1, r._2)))
      def model(keep: Long => Boolean): Array[String] =
        live.filter(r => keep(r._1)).map { case (i, k, p) => s"$i|$k|$p" }
          .toArray.sorted
      val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
        def rows(df: org.apache.spark.sql.DataFrame): Array[String] = {
          val q = filter.fold(df)(df.filter)
          q.select("id", "k", "payload").collect()
            .map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}")
            .sorted
        }
        def check(what: String, got: Array[String], want: Array[String]): Unit = {
          assert(got.length === want.length,
            s"trial $trial (files=$nFiles rows=$rowsPerFile split=$split) $what: " +
              s"row counts diverge ${got.length} vs model ${want.length}")
          assert(java.util.Arrays.equals(
              got.asInstanceOf[Array[AnyRef]], want.asInstanceOf[Array[AnyRef]]),
            s"trial $trial $what: row content diverges from the model")
        }
        val all = model(_ => true)
        check("format(graft-table)", rows(dsv2(t)), all)
        check("t.read", rows(t.read(spark)), all)
        val (lo, hi) = (base / 4, 3 * base / 4)
        check(s"readRange [$lo, $hi]",
          rows(t.readRange(spark, "id", Some(lo), Some(hi))),
          model(i => i >= lo && i <= hi))
        if (trial % 4 == 0) {
          // the stream source: a clone's v1 re-adds every file with its DV
          val clone = t.cloneTo(new java.io.File(root, "clone").getAbsolutePath)
          val name = s"dvfuzz_stream_$trial"
          val src = spark.readStream.format("graft-table")
            .option("path", clone.tablePath).load()
          filter.fold(src)(src.filter).select("id", "k", "payload")
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation",
              new java.io.File(root, "ckpt").getAbsolutePath)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start().awaitTermination()
          check("AvailableNow stream of a clone", rows(spark.table(name)), all)
          spark.catalog.dropTempView(name)
          // the row readers: every partition of the scan reads rows
          val vec = "spark.sql.parquet.enableVectorizedReader"
          val prevVec = spark.conf.get(vec)
          try {
            spark.conf.set(vec, "false")
            check("row readers", rows(dsv2(t)), all)
          } finally spark.conf.set(vec, prevVec)
        }
      } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      graft.core.Fs.rmTree(root)
    }
  }
}
