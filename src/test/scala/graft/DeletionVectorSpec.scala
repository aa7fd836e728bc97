package graft

import graft.medallion.{GraftTable, TxLog}
import graft.streaming.GraftCatalog
import org.apache.spark.sql.functions._

/** Deletion vectors (merge-on-read DELETE): a sparse delete commits as
  * per-file row-index bitmaps instead of rewriting every touched file.
  * Soundness bars: a DV'd row NEVER comes back on ANY read path
  * (snapshot read, DSv2 SQL, rewrites, tails), rows a DV did not mark
  * are NEVER lost, and the copy-on-write fallback triggers exactly at
  * the documented thresholds. */
class DeletionVectorSpec extends SparkSpec {

  private def freshTable(tag: String): GraftTable = {
    val dir = new java.io.File(
      s"target/tmp/dv_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    new GraftTable(dir.getAbsolutePath)
  }

  /** 4 files × 100 rows, ids 0..399 round-robin across files so any
    * id-based delete is scattered over every file. */
  private def seeded(tag: String): GraftTable = {
    import spark.implicits._
    val t = freshTable(tag)
    (0 until 4).foreach { f =>
      t.append((0L until 400L).filter(_ % 4 == f)
        .map(i => (i, s"row-$i", i % 10)).toDF("id", "name", "bucket")
        .coalesce(1))
    }
    t
  }

  test("sparse delete vectorizes every file, zero rewrites, exact rows") {
    val t = seeded("sparse")
    val before = t.snapshot().files.map(_.path).toSet
    val (dvFiles, rewrites, rows, v) = t.deleteRows(spark, "id % 25 = 0")
    assert(dvFiles === 4) // 16 deleted ids scatter across all 4 files
    assert(rewrites === 0)
    assert(rows === 16)
    val snap = t.snapshot()
    // merge-on-read: the file SET is unchanged — only bitmaps landed
    assert(snap.files.map(_.path).toSet === before)
    assert(snap.files.forall(_.dv.isDefined))
    assert(snap.files.map(_.dvRows).sum === 16L)
    val got = t.read(spark).select("id").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(got === (0L until 400L).filterNot(_ % 25 == 0).toSet)
    // time travel to the pre-delete version still sees every row
    assert(t.read(spark, v - 1).count() === 400L)
  }

  test("successive deletes OR into the bitmap; re-deletes never double-count") {
    val t = seeded("merge")
    val (_, _, n1, _) = t.deleteRows(spark, "id < 20")
    assert(n1 === 20L)
    // overlapping predicate: the 10 already-deleted rows cannot re-match
    val (_, _, n2, _) = t.deleteRows(spark, "id < 30 AND id >= 10")
    assert(n2 === 10L)
    val snap = t.snapshot()
    assert(snap.files.map(_.dvRows).sum === 30L)
    assert(t.read(spark).count() === 370L)
    // no-match delete: no commit at all
    val head = t.latestVersion()
    val (a, b, n3, v3) = t.deleteRows(spark, "id < 0")
    assert((a, b, n3, v3) === ((0, 0, 0L, head)))
  }

  test("over-fraction files take the copy-on-write path in the same commit") {
    import spark.implicits._
    val t = freshTable("fraction")
    // file A: ids 0..99, file B: ids 100..199
    t.append((0L until 100L).map(i => (i, i % 7)).toDF("id", "m").coalesce(1))
    t.append((100L until 200L).map(i => (i, i % 7)).toDF("id", "m").coalesce(1))
    // deletes 80% of file A (over dv.maxFraction=0.5) and 2% of file B
    val (dvFiles, rewrites, rows, _) =
      t.deleteRows(spark, "id < 80 OR id IN (150, 151)")
    assert(dvFiles === 1 && rewrites === 1 && rows === 82L)
    val snap = t.snapshot()
    // the rewritten file carries NO dv; the vectorized one does
    assert(snap.files.count(_.dv.isDefined) === 1)
    assert(t.read(spark).select("id").as[Long].collect().toSet ===
      ((80L until 150L) ++ (152L until 200L)).toSet)
  }

  test("a delete that empties a file drops it from the snapshot, even at dv.maxFraction = 1.0") {
    import spark.implicits._
    val t = freshTable("emptied")
    // file A: ids 0..9, file B: ids 10..19
    t.append((0L until 10L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1))
    t.append((10L until 20L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1))
    t.setProperty(TxLog.DvMaxFractionProp, "1.0")
    t.setProperty(TxLog.CdfEnabledProp, "true")
    val head = t.latestVersion()
    val (dvFiles, rewrites, rows, v) = t.deleteRows(spark, "id < 10")
    assert((dvFiles, rewrites, rows) === ((0, 1, 10L)),
      "a fully-deleted file takes the rewrite leg, never a full DV")
    val snap = t.snapshot()
    // the emptied file leaves the snapshot: no live file whose every
    // row is deleted, so no later scan plans it
    assert(snap.files.size === 1)
    assert(snap.files.forall(a => a.dv.isEmpty && a.rows === 10L))
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq ===
      (10L until 20L))
    val feed = t.readChangeFeed(spark, head, v)
    assert(feed.filter($"_change_type" === "delete").select("id").as[Long]
      .collect().sorted.toSeq === (0L until 10L))
    assert(feed.count() === 10L)
  }

  test("dv.maxBytes property forces the rewrite path") {
    import spark.implicits._
    val t = freshTable("maxbytes")
    t.append((0L until 1000L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    t.setProperty(TxLog.DvMaxBytesProp, "8")
    // 300 scattered rows — bitmap cannot serialize under 8 bytes
    val (dvFiles, rewrites, rows, _) = t.deleteRows(spark, "id % 3 = 0")
    assert(dvFiles === 0 && rewrites === 1 && rows === 334L)
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    assert(t.read(spark).count() === 666L)
  }

  test("phase-2 build is executor-side: driver gets one bitmap row per file, never indexes") {
    import spark.implicits._
    // the exact aggregate deleteRows phase 2 collects: per-file bitmap
    // BYTES (binary), not a collect_list of row indexes — so the
    // driver-side volume is files × maxBytes regardless of match count
    val pairs = (0L until 10000L).map(i => (s"f${i % 4}", i / 4))
      .toDF("__file", "__idx")
    val agg = TxLog.dvAggregate(pairs, TxLog.DvMaxBytes)
    assert(agg.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("__file", "string"), ("dv", "binary")),
      "driver must receive serialized bitmaps, not index arrays")
    val rows = agg.collect()
    assert(rows.length === 4) // file-count-sized, not match-count-sized
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]](1)
      assert(bytes != null && bytes.length <= TxLog.DvMaxBytes)
      val bm = new org.roaringbitmap.RoaringBitmap()
      bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
      assert(bm.getLongCardinality === 2500L)
    }
    // the over-maxBytes check runs IN-AGGREGATE: an oversized file
    // finishes as null — its bytes never ship to the driver at all
    val wide = (0L until 3000L).map(i => ("big", i * 7 % 100000))
      .toDF("__file", "__idx")
    val overRow = TxLog.dvAggregate(wide, 8).collect()
    assert(overRow.length === 1 && overRow.head.isNullAt(1))
  }

  test("purge materializes DVs; compact and zorder apply them; upsert cannot resurrect") {
    import spark.implicits._
    val t = seeded("purge")
    t.deleteRows(spark, "id % 10 = 3")
    assert(t.read(spark).count() === 360L)
    val (purged, after, _) = t.purgeDeletes(spark)
    assert(purged === 2 && after >= 1) // id%10==3 lands only in files 1 and 3
    val snap = t.snapshot()
    assert(snap.files.forall(_.dv.isEmpty))
    assert(snap.files.map(_.rows).sum === 360L) // physical rows now match
    assert(t.read(spark).count() === 360L)
    // purge with nothing to do: no commit
    val head = t.latestVersion()
    assert(t.purgeDeletes(spark) === ((0, 0, head)))

    // compact applies DVs the same way
    val t2 = seeded("compact")
    t2.deleteRows(spark, "id >= 380")
    t2.compact(spark)
    assert(t2.snapshot().files.forall(_.dv.isEmpty))
    assert(t2.read(spark).count() === 380L)

    // a copy-on-write upsert of a DV'd file keeps its deletions applied
    val t3 = seeded("upsert")
    t3.deleteRows(spark, "id = 8") // file 0 (8 % 4 == 0)
    t3.upsert(
      Seq((4L, "updated", 99L, 1L)).toDF("id", "name", "bucket", "seq")
        .withColumn("_deleted", lit(false)),
      "id", "seq")
    val rows3 = t3.read(spark).select("id").as[Long].collect().toSet
    assert(!rows3.contains(8L))
    assert(rows3.contains(4L) && rows3.size === 399)
  }

  test("range delete() on a DV'd file keeps prior deletions applied") {
    val t = seeded("cow")
    t.deleteRows(spark, "id = 12")
    // straddles file contents → rewrite path of the range delete
    t.delete(spark, "id", Some(0L), Some(7L))
    val got = t.read(spark).select("id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(!got.contains(12L) && !got.exists(_ <= 7L))
    assert(got.size === 391)
  }

  test("DSv2 scans, limits and metadata aggregates respect DVs") {
    import spark.implicits._
    val t = seeded("dsv2")
    t.deleteRows(spark, "id % 4 = 1 AND id < 200") // all of one file's first half
    val df = spark.read.format("graft-table").load(t.tablePath)
    assert(df.count() === 350L)
    // pushed filter + DV composition: the residual filter still owns rows
    assert(df.filter($"id" < 100L).count() === 75L)
    // provenance: surviving rows keep their ORIGINAL commit version
    val versions = df.select("_commit_version").distinct()
      .as[Long].collect().toSet
    assert(versions === Set(1L, 2L, 3L, 4L))
    // LIMIT pushdown must budget with effective (post-DV) row counts
    assert(df.limit(360).count() === 350L)
    // metadata-only COUNT(*) stays exact (effectiveRows), and the plan
    // must still be the zero-scan LocalScan
    val cnt = df.groupBy().count()
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("metadata-only"),
      s"COUNT(*) should resolve from the log, got:\n$plan")
    assert(cnt.as[Long].head() === 350L)
    // MIN/MAX must NOT answer from stats while DVs exist (a deleted row
    // may have held the extreme) — falls back to a real scan, right answer
    val mm = df.groupBy().agg(min("id"), max("id")).head()
    assert(mm.getLong(0) === 0L && mm.getLong(1) === 399L)
    val t2 = seeded("dsv2min")
    t2.deleteRows(spark, "id = 0 OR id = 399")
    val mm2 = spark.read.format("graft-table").load(t2.tablePath)
      .groupBy().agg(min("id"), max("id")).head()
    assert(mm2.getLong(0) === 1L && mm2.getLong(1) === 398L)
  }

  test("SQL DELETE routes merge-on-read under delete.mode, stays exact") {
    import spark.implicits._
    val name = s"dvsql_${java.util.UUID.randomUUID().toString.take(8)}"
    val wh = new java.io.File(s"target/tmp/dvcat_$name").getAbsolutePath
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    try {
      spark.sql(s"CREATE TABLE $name.db.t (id BIGINT, grp STRING) USING graft")
      (0 until 3).foreach { f =>
        (0L until 300L).filter(_ % 3 == f).map(i => (i, s"g${i % 5}"))
          .toDF("id", "grp").coalesce(1)
          .writeTo(s"$name.db.t").append()
      }
      spark.sql(s"ALTER TABLE $name.db.t SET TBLPROPERTIES " +
        s"('${TxLog.DeleteModeProp}' = '${TxLog.DeleteModeMor}')")
      val t = new GraftTable(s"$wh/db/t")
      val filesBefore = t.snapshot().files.map(_.path).toSet
      val headBefore = t.latestVersion()
      // arbitrary predicate (strict inequality + IN): NOT a metadata
      // range — merge-on-read turns it into one DV commit
      spark.sql(s"DELETE FROM $name.db.t WHERE id > 290 OR grp IN ('g1')")
      val snap = t.snapshot()
      assert(t.latestVersion() === headBefore + 1)
      assert(snap.files.map(_.path).toSet === filesBefore,
        "merge-on-read DELETE must not stage or rewrite any data file")
      assert(snap.files.exists(_.dv.isDefined))
      val left = spark.sql(s"SELECT id FROM $name.db.t").as[Long].collect().toSet
      val expect = (0L until 300L)
        .filterNot(i => i > 290 || i % 5 == 1).toSet
      assert(left === expect)
      // COUNT(*) through SQL stays metadata-exact
      assert(spark.sql(s"SELECT COUNT(*) FROM $name.db.t").as[Long].head() ===
        expect.size.toLong)
      // purge through the SQL procedure; result identical, DVs gone
      spark.sql(s"CALL $name.system.optimize(table => 'db.t', purge_deletes => true)")
      assert(t.snapshot().files.forall(_.dv.isEmpty))
      assert(spark.sql(s"SELECT id FROM $name.db.t").as[Long].collect().toSet === expect)
      // without the property, the same DELETE shape must still work but
      // via rewrite (no DVs appear)
      spark.sql(s"ALTER TABLE $name.db.t UNSET TBLPROPERTIES ('${TxLog.DeleteModeProp}')")
      spark.sql(s"DELETE FROM $name.db.t WHERE id > 280")
      assert(t.snapshot().files.forall(_.dv.isEmpty))
      assert(spark.sql(s"SELECT COUNT(*) FROM $name.db.t").as[Long].head() ===
        expect.count(_ <= 280).toLong)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  test("DV lifecycle: checkpoint, clone, restore, vacuum, tails") {
    import spark.implicits._
    val t = seeded("life")
    val preDelete = t.latestVersion()
    t.deleteRows(spark, "id % 40 = 2")
    // checkpoint carries the bitmaps; a fresh handle resolving FROM the
    // checkpoint still applies them
    t.checkpoint()
    val fresh = new GraftTable(t.tablePath)
    assert(fresh.read(spark).count() === 390L)
    assert(fresh.snapshot().files.exists(_.dv.isDefined))
    // clone carries DVs; the fork keeps deletions applied
    val fork = freshTable("fork")
    t.cloneTo(fork.tablePath)
    assert(fork.read(spark).count() === 390L)
    // a clone's v1 is append-classified: tailing it from 0 must apply
    // the DVs too (both the DataFrame tail and the DSv2 stream path
    // share appendFilesSince)
    assert(fork.appendsSince(spark, 0L).count() === 390L)
    // restore to the pre-delete version resurrects the rows BY DESIGN
    t.restore(preDelete)
    assert(t.read(spark).count() === 400L)
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    // appendsSince refuses to cross a DV delete (rows vanished)
    val t2 = seeded("tail")
    val mark = t2.latestVersion()
    t2.deleteRows(spark, "id = 1")
    val ex = intercept[IllegalStateException](t2.appendsSince(spark, mark).count())
    assert(ex.getMessage.contains("delete"))
    assert(t2.appendsSince(spark, mark, skipRewrites = true).count() === 0L)
  }

  test("pre-DV readers fail loudly on DV commits (format gating)") {
    val t = seeded("gate")
    t.deleteRows(spark, "id = 5")
    val v = t.latestVersion()
    val logFile = java.nio.file.Paths.get(
      t.tablePath, "_graft_log", f"$v%020d.json")
    val content = new String(java.nio.file.Files.readAllBytes(logFile), "UTF-8")
    assert(content.contains("\"add-dv\""),
      "a DV-carrying add must use its own action tag so pre-DV readers " +
        "reject the commit instead of resurrecting deleted rows")
    // commits that carry no DV stay on the old action tag (format bump
    // confined to tables/commits actually using the feature)
    val clean = seeded("gate2")
    val v1 = java.nio.file.Paths.get(
      clean.tablePath, "_graft_log", f"${1L}%020d.json")
    assert(!new String(java.nio.file.Files.readAllBytes(v1), "UTF-8")
      .contains("add-dv"))
  }
}
