package graft

import graft.medallion.{GraftTable, TxLog}
import org.apache.spark.sql.functions._

/** The Delta-style conflict matrix for maintenance: row-preserving
  * rewrites (compact/zorder/purge) REBASE over concurrent blind
  * appends instead of aborting — at scale, compaction that loses every
  * race to a busy ingest never completes — while anything that removed
  * files or changed constraints mid-race still aborts loudly.
  * `compactSnapshot` is the deterministic race seam: the read snapshot
  * is pinned, the interleaved commit happens, then the rewrite
  * commits. */
class MaintenanceRaceSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): GraftTable = {
    val dir = new java.io.File(
      s"target/tmp/race_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    new GraftTable(dir.getAbsolutePath)
  }

  test("compact rebases over interleaved appends; their rows survive") {
    val t = freshTable("rebase")
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val snap = t.snapshot()
    // two blind appends land AFTER the compaction's read snapshot
    t.append(Seq((100L, "late1")).toDF("id", "v"))
    t.append(Seq((101L, "late2")).toDF("id", "v"))
    val (in, out, v) = t.compactSnapshot(spark, snap)
    assert(in === 4 && out >= 1)
    assert(v === t.latestVersion())
    assert(t.history().head._2 === "compact")
    // nothing lost: the 4 compacted rows AND both interleaved appends
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 4L, 100L, 101L))
    // the interleaved appends' files are untouched (still live)
    val live = t.snapshot().files.map(_.path).toSet
    assert(snap.files.map(_.path).forall(p => !live.contains(p)),
      "every compacted source file is retired")
    assert(live.size === out + 2, "the two appended files survive as-is")
  }

  test("a mid-race remove (delete) still aborts the rewrite, temporaries cleaned") {
    val t = freshTable("abort_delete")
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val snap = t.snapshot()
    t.delete(spark, "id", Some(2L), Some(2L)) // commits a remove
    def dataFiles: Set[String] = {
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(t.tablePath))
      try it.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_")).toSet
      finally it.close()
    }
    val before = dataFiles // live files + the delete's retired (un-vacuumed) file
    intercept[TxLog.ConcurrentWriteException] {
      t.compactSnapshot(spark, snap) }
    // no rows lost, and the aborted rewrite deleted its own staged
    // temporaries — the on-disk file set is exactly as before
    assert(t.read(spark).count() === 3L)
    assert(dataFiles === before,
      "the aborted rewrite must leave no data-file orphans")
  }

  test("a mid-race constraint add still aborts (rows were not re-validated)") {
    val t = freshTable("abort_constraint")
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val snap = t.snapshot()
    t.addConstraint(spark, "pos", "id > 0")
    intercept[TxLog.ConcurrentWriteException] {
      t.compactSnapshot(spark, snap) }
    assert(t.read(spark).count() === 3L)
  }

  /** Every file the head snapshot commits exists, and the head read
    * returns exactly `ids`. */
  private def assertIntact(t: GraftTable, ids: Set[Long]): Unit = {
    t.snapshot().files.foreach(a => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(t.tablePath, a.path)),
      s"committed file ${a.path} was vacuumed"))
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSet === ids)
  }

  /** Run a zero-retention vacuum once, between `t`'s next write and its
    * publish — where a concurrent maintenance job lands one. */
  private def vacuumBeforePublish(t: GraftTable): Unit =
    t.beforePublishHook = () => { t.beforePublishHook = () => (); t.vacuum(0) }

  test("vacuum racing a publish keeps the in-flight writer's files (append, compact, upsert)") {
    val t = freshTable("vacuum_race")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    vacuumBeforePublish(t)
    t.append(Seq((2L, "b")).toDF("id", "v"))
    assertIntact(t, Set(1L, 2L))

    vacuumBeforePublish(t)
    val (in, _, _) = t.compactSnapshot(spark, t.snapshot())
    assert(in === 2)
    assertIntact(t, Set(1L, 2L))

    vacuumBeforePublish(t)
    t.upsert(Seq((2L, "b2", 1L, false), (3L, "c", 1L, false))
      .toDF("id", "v", "_seq", "_deleted"), "id", "_seq")
    assertIntact(t, Set(1L, 2L, 3L))
    assert(t.read(spark).filter(col("id") === 2L).head().getString(1) === "b2")
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}
