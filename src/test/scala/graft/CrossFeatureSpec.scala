package graft

import graft.medallion.{GraftTable, PartitionSpec, TxLog}
import org.apache.spark.sql.functions._

/** Pairwise interactions between the round-8 table-format features and
  * the established ones — each feature is proven alone in its own
  * suite; these are the seams. */
class CrossFeatureSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): GraftTable = {
    val dir = new java.io.File(
      s"target/tmp/cross_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    new GraftTable(dir.getAbsolutePath)
  }

  test("deletion vectors on a partitioned table: pruning stays exact, purge launders") {
    val t = freshTable("dv_part")
    t.append(Seq((0L, tsOf(19700L, 0L))).toDF("id", "ts"))
    t.setProperty(PartitionSpec.Prop, "days(ts)")
    val rows = for (d <- 0L until 5L; i <- 0L until 200L)
      yield (d * 200L + i, tsOf(19700L + d, i))
    t.append(rows.toDF("id", "ts"))
    // scattered merge-on-read delete touching every day
    val (dvd, rewritten, _, _) = t.deleteRows(spark, "id % 10 = 3")
    assert(dvd + rewritten > 0)
    // day pruning still answers exactly under DVs
    val lo = tsOf(19702L, 0L); val hi = tsOf(19702L, 86400000L - 1L)
    assert(t.readRange(spark, "ts", Some(lo), Some(hi)).count() === 180L)
    assert(t.read(spark).count() === 1L + 1000L - 100L)
    // purge materializes; staging recomputes the partition stats, so
    // the day probe still prunes to a strict subset afterwards
    t.purgeDeletes(spark)
    assert(t.readRange(spark, "ts", Some(lo), Some(hi)).count() === 180L)
    val n = t.filesForRange("ts", Some(lo), Some(hi))
    assert(n < t.snapshot().files.size,
      s"post-purge day probe must still prune: $n of ${t.snapshot().files.size}")
  }

  test("identity high-water mark rides clone; fork allocates independently") {
    val t = freshTable("ident_clone")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.setProperty("identity.id", "10")
    t.append(Seq("b", "c").toDF("v"))
    val next = t.properties("identity.id").toLong
    val fork = t.cloneTo(t.tablePath + "_fork")
    assert(fork.properties("identity.id").toLong === next,
      "the clone starts from the source's high-water mark")
    fork.append(Seq("d").toDF("v"))
    t.append(Seq("e").toDF("v"))
    // both sides allocate above the shared mark without coordination —
    // they are independent tables from the fork on
    val tIds = t.read(spark).select("id").collect().map(_.getLong(0)).toSet
    val fIds = fork.read(spark).select("id").collect().map(_.getLong(0)).toSet
    assert(tIds.size === 4 && fIds.size === 4)
    assert((tIds ++ fIds).forall(_ >= 1L))
  }

  test("generated column values flow into the change data feed") {
    val t = freshTable("gen_cdf")
    t.append(Seq((1L, 5L, 10L)).toDF("id", "v", "v2"))
    t.setProperty("generated.v2", "v * 2")
    t.setProperty(TxLog.CdfEnabledProp, "true")
    val v0 = t.latestVersion()
    t.append(Seq((2L, 7L)).toDF("id", "v")) // omits v2 -> computed
    val feed = t.readChangeFeed(spark, v0).collect()
    assert(feed.length === 1)
    val r = feed.head
    assert(r.getAs[String]("_change_type") === "insert")
    assert(r.getAs[Long]("v2") === 14L,
      "the feed serves the COMPUTED generated value")
  }

  test("partitioned table under column mapping: generated day + rename + prune") {
    val t = freshTable("gen_part_map")
    t.append(Seq((0L, tsOf(19700L, 0L), 19700L)).toDF("id", "ts", "day"))
    t.setProperty("generated.day",
      "CAST(floor(unix_millis(ts) / 86400000.0) AS BIGINT)")
    t.setProperty(PartitionSpec.Prop, "id(day)")
    val rows = for (d <- 0L until 6L; i <- 0L until 100L)
      yield (d * 100L + i, tsOf(19700L + d, i))
    t.append(rows.toDF("id", "ts"))
    // rename a NON-source column; the generated fill and the partition
    // stats keep working (mapping turns on for all surviving fields)
    t.renameColumn("id", "event_id")
    t.append(Seq((9999L, tsOf(19705L, 1000L))).toDF("event_id", "ts"))
    assert(t.readRange(spark, "day", Some(19705L), Some(19705L)).count() === 101L)
    assert(t.filesForRange("day", Some(19705L), Some(19705L)) <
      t.snapshot().files.size)
  }

  test("merge-on-read UPDATE on a partitioned table: pruning exact, post-images re-prune") {
    val wh = new java.io.File(
      s"target/tmp/cross_morpart_${java.util.UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath
    spark.conf.set("spark.sql.catalog.xmor",
      classOf[graft.streaming.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.xmor.warehouse", wh)
    try {
      val t = new GraftTable(s"$wh/db/ev")
      t.append(Seq((0L, tsOf(19700L, 0L), 0.0)).toDF("id", "ts", "x"))
      t.setProperty(PartitionSpec.Prop, "days(ts)")
      t.setProperty(TxLog.UpdateModeProp, TxLog.DeleteModeMor)
      val rows = for (d <- 0L until 5L; i <- 0L until 100L)
        yield (d * 100L + i, tsOf(19700L + d, i), 1.0)
      t.append(rows.toDF("id", "ts", "x"))
      val before = t.snapshot()
      // a sparse update inside day 19702 — DV on its file, post-image
      // appended; the TOUCHED file stays live (zero rewrites)
      spark.sql("UPDATE xmor.db.ev SET x = 9.0 WHERE id = 250")
      val after = t.snapshot()
      assert(before.files.forall(a => after.files.exists(_.path == a.path)))
      assert(after.files.exists(_.dv.isDefined))
      // day pruning answers exactly THROUGH the DV + the new file (the
      // post-image carries its own days(ts) stats from its writer)
      val lo = tsOf(19702L, 0L); val hi = tsOf(19702L, 86400000L - 1L)
      val day2 = t.readRange(spark, "ts", Some(lo), Some(hi))
      assert(day2.count() === 100L)
      assert(day2.filter(col("x") === 9.0).count() === 1L,
        "the updated row's post-image must surface inside its day window")
      val scanned = t.filesForRange("ts", Some(lo), Some(hi))
      assert(scanned < after.files.size,
        s"day probe must still prune under the MOR update: $scanned of ${after.files.size}")
      assert(t.read(spark).count() === 501L)
    } finally {
      spark.conf.unset("spark.sql.catalog.xmor")
      spark.conf.unset("spark.sql.catalog.xmor.warehouse")
    }
  }

  private def tsOf(day: Long, offsetMs: Long): java.sql.Timestamp =
    new java.sql.Timestamp(day * 86400000L + offsetMs)
}
