package graft

import java.nio.file.{Files, Paths}

import graft.medallion.{GraftTable, TxLog}
import org.apache.spark.sql.functions._

/** The log-structured table format: commit atomicity (put-if-absent),
  * snapshot isolation (readers never list data files), time travel,
  * optimistic concurrency, stats-based data skipping, file-granular
  * copy-on-write upsert, checkpoint resolution, vacuum.
  */
class TxLogSpec extends SparkSpec {

  private def freshTable(tag: String): GraftTable = {
    val dir = new java.io.File(s"target/tmp/txlog_$tag")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(dir)
    new GraftTable(dir.getAbsolutePath)
  }

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "name")
  }

  private def dataFiles(t: GraftTable): Set[String] = {
    val root = new java.io.File(t.tablePath)
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet
  }

  test("create/truncate: empty-table contract and tailing classification") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val t = freshTable("create")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    assert(t.create(schema) === 1L)
    // schema resolves, zero rows, both read paths
    assert(t.read(spark).count() === 0L)
    assert(t.read(spark).schema.fieldNames.toSeq === Seq("id", "name"))
    // double-create fails loudly (put-if-absent: one creator wins)
    intercept[TxLog.ConcurrentWriteException](t.create(schema))

    t.append(df(Seq(1L -> "a", 2L -> "b")))                       // v2
    // a create commit is row-neutral: tailing from 0 sees only appends
    assert(t.appendsSince(spark, 0L).count() === 2L)

    assert(t.truncate() === 3L)
    assert(t.read(spark).count() === 0L)
    assert(t.history().head._2 === "delete")
    // truncating an already-empty table is a no-op, not a commit
    assert(t.truncate() === 3L)
    // rows disappeared: tailing across the truncate must refuse
    intercept[IllegalStateException](t.appendsSince(spark, 0L))
    // ...and time travel still reads the pre-truncate data
    assert(t.read(spark, version = 2L).count() === 2L)
  }

  test("compactRange merges only small in-range files; a tailing consumer crosses it") {
    val t = freshTable("compactrange")
    // 3 small files in the low range, 2 in the high range
    t.append(df(Seq(1L -> "a")).repartition(1))                 // v1
    t.append(df(Seq(2L -> "b")).repartition(1))                 // v2
    t.append(df(Seq(3L -> "c")).repartition(1))                 // v3
    t.append(df(Seq(100L -> "x")).repartition(1))               // v4
    t.append(df(Seq(101L -> "y")).repartition(1))               // v5
    val highBefore = t.snapshot(-1).files
      .filter(_.stats("id").overlaps(Some("100"), None)).map(_.path).toSet

    val (compacted, after, v) = t.compactRange(spark, "id", Some(1L), Some(10L))
    assert(compacted === 3 && after === 1 && v === 6L,
      "exactly the three low-range files merge into one")
    // out-of-range files carried over byte-identical (same paths)
    assert(highBefore.subsetOf(t.snapshot(-1).files.map(_.path).toSet))
    // row-neutral: full content unchanged
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L, 100L, 101L))
    // a tailing consumer reads THROUGH the compact commit untroubled
    assert(t.appendsSince(spark, 3L).select("id").collect()
      .map(_.getLong(0)).toSet === Set(100L, 101L))
    // nothing else worth merging in that range now: no-op, no commit
    assert(t.compactRange(spark, "id", Some(1L), Some(10L)) === ((0, 0, 6L)))
  }

  test("replaceFiles is serializable: a head that moved since the scan fails loudly") {
    import spark.implicits._
    val t = freshTable("replace")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1))   // v1
    val readVersion = t.latestVersion()
    assert(t.read(spark).count() === 2L) // the scan a row-level write would run
    // write a replacement into the table root like the DSv2 write would
    val replacement = Seq((1L, "A"), (2L, "B")).toDF("id", "v").repartition(1)
    val staged = org.apache.spark.sql.graft.ParquetWrites.write(replacement,
      graft.medallion.TxLog.writerFactory(spark, Some(t.snapshot(readVersion)),
        replacement.schema, t.tablePath))
    // a concurrent append moves the head between scan and commit
    t.append(Seq((3L, "c")).toDF("id", "v"))                             // v2
    intercept[graft.medallion.TxLog.ConcurrentWriteException](
      t.replaceFiles(spark, readVersion, Seq("whatever.parquet"), staged))
    // the concurrent writer's row survives; nothing was torn, and the
    // replacement that did not commit is gone
    assert(t.read(spark).count() === 3L)
    assert(staged.forall(f => !Files.exists(Paths.get(f.path))))
  }

  test("addColumns refuses duplicate and case-colliding names before committing anything") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField}
    val t = freshTable("addcols")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val before = t.latestVersion()
    // a batch repeating a name (even by case) would commit a schema no
    // reader can resolve — refused with the table untouched
    intercept[IllegalArgumentException](t.addColumns(Seq(
      StructField("c", IntegerType, nullable = true),
      StructField("C", StringType, nullable = true))))
    // a name the table already has, case-insensitively (Spark resolves
    // case-insensitively by default)
    intercept[IllegalArgumentException](t.addColumns(Seq(
      StructField("ID", StringType, nullable = true))))
    // non-nullable: no backfill value exists
    intercept[IllegalArgumentException](t.addColumns(Seq(
      StructField("req", IntegerType, nullable = false))))
    assert(t.latestVersion() === before, "failed alters commit nothing")
    // the valid widen still lands and old rows null-backfill
    t.addColumns(Seq(StructField("w", IntegerType, nullable = true)))
    assert(t.read(spark).columns.toSeq === Seq("id", "v", "w"))
    assert(t.read(spark).select("w").head().isNullAt(0))
  }

  test("timestamp delete never metadata-drops: floored stats must not over-delete sub-ms rows") {
    import spark.implicits._
    val t = freshTable("tsdelete")
    def ts(micros: Int): java.sql.Timestamp = {
      val x = new java.sql.Timestamp(1700000000000L) // some exact millisecond
      x.setNanos(micros * 1000); x
    }
    // both rows share the same floored-millis stats value
    t.append(Seq((1L, ts(100)), (2L, ts(900))).toDF("id", "ts").repartition(1))
    val (dropped, rewritten, _) = t.delete(spark, "ts", None, Some(ts(500)))
    assert(dropped === 0, "timestamp stats are millis-floored: subset proof is unsound")
    assert(rewritten === 1)
    // the sub-millisecond survivor is intact, the matching row is gone
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("range delete: covered files drop by metadata, boundary files rewrite, null keys survive") {
    import spark.implicits._
    val t = freshTable("delete")
    // one file per commit, disjoint id ranges + one all-null-key file
    t.append(df((1L to 10L).map(i => i -> "lo")).repartition(1))        // v1
    t.append(df((11L to 20L).map(i => i -> "mid")).repartition(1))      // v2
    t.append(df((21L to 30L).map(i => i -> "hi")).repartition(1))       // v3
    t.append(Seq((None: Option[Long], "nul"), (None, "nul2"))
      .toDF("id", "name").repartition(1))                               // v4
    val before = t.snapshot(-1)
    val v1File = before.files.find(a =>
      before.addedIn(a.path) == 1L).get.path

    // DELETE WHERE 11 <= id <= 25
    val (droppedN, rewrittenN, v) = t.delete(spark, "id", Some(11L), Some(25L))
    // v2 is wholly covered (metadata drop); v3 straddles 25 (rewrite);
    // v4 has no id stats ⇒ provably all-null ⇒ untouched (null keys
    // never match a comparison); v1 is untouched by its stats
    assert((droppedN, rewrittenN, v) === ((1, 1, 5L)))
    val after = t.snapshot(-1)
    assert(after.files.map(_.path).contains(v1File),
      "the untouched file must carry over byte-identical (same path)")
    val got = t.read(spark).select("id", "name").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1)))
    assert(got.filter(_._1 >= 0).map(_._1).sorted.toSeq
      === ((1L to 10L) ++ (26L to 30L)))
    assert(got.count(_._1 == -1L) === 2, "null keys survive every range delete")
    assert(t.history().head._2 === "delete")

    // non-overlapping delete: pure no-op, no commit
    assert(t.delete(spark, "id", Some(1000L), None) === ((0, 0, v)))

    // full-range delete (both bounds open) keeps ONLY the null keys and
    // drops zero-null files by metadata alone
    val (d2, r2, v2) = t.delete(spark, "id", None, None)
    assert(d2 >= 1, "zero-null survivors must drop by metadata")
    val rest = t.read(spark).select("id").collect()
    assert(rest.length === 2 && rest.forall(_.isNullAt(0)))
    assert(v2 === v + 1)

    // a tailing consumer must refuse to cross the delete commits
    val ex = intercept[IllegalStateException](t.appendsSince(spark, 3L))
    assert(ex.getMessage.contains("delete"))
  }

  test("append/read round-trip; two appends both visible; versions advance") {
    val t = freshTable("roundtrip")
    val v1 = t.append(df(Seq(1L -> "a", 2L -> "b")))
    val v2 = t.append(df(Seq(3L -> "c")))
    assert(v1 === 1L && v2 === 2L)
    val got = t.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.latestVersion() === 2L)
  }

  /** A fully-formed parquet file in `t`'s root that no commit
    * references — what a crashed writer leaves — last modified
    * `ageMs` ago. */
  private def orphan(t: GraftTable, name: String, ageMs: Long): Unit = {
    val src = s"${t.tablePath}_${name}_src"
    df(Seq(99L -> "ghost")).coalesce(1).write.mode("overwrite").parquet(src)
    val ghost = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = Paths.get(t.tablePath, name)
    Files.move(ghost.toPath, dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    ()
  }

  test("uncommitted data files are invisible to readers (no directory listing)") {
    val t = freshTable("orphan")
    t.append(df(Seq(1L -> "a")))
    // a crashed writer's file, older than vacuum's age guard
    orphan(t, "part-crashed-0.parquet", TxLog.VacuumCdcMinAge + 60000L)
    assert(t.read(spark).count() === 1L)
    // vacuum removes the orphan, read unchanged
    val deleted = t.vacuum()
    assert(deleted.contains("part-crashed-0.parquet"))
    assert(t.read(spark).count() === 1L)
  }

  test("vacuum keeps a young orphan and deletes one older than the age guard") {
    val t = freshTable("orphan_age")
    t.append(df(Seq(1L -> "a")))
    t.append(df(Seq(2L -> "b")))
    t.compact(spark) // retires both appended files
    orphan(t, "part-young.parquet", 0L)
    orphan(t, "part-old.parquet", TxLog.VacuumCdcMinAge + 60000L)
    val deleted = t.vacuum(0).toSet
    // files a commit removed go at once; a never-committed file only
    // once it is older than the guard (it may belong to a writer that
    // has yet to publish)
    assert(deleted.contains("part-old.parquet"))
    assert(!deleted.contains("part-young.parquet"))
    assert(deleted.size === 3, s"the two retired files and the old orphan: $deleted")
    assert(dataFiles(t) === t.snapshot().files.map(_.path).toSet + "part-young.parquet")
    // the guard is the one table property for data and change files
    t.setProperty(TxLog.VacuumCdcMinAgeProp, "0")
    assert(t.vacuum(0) === Seq("part-young.parquet"))
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("a read fails loudly, naming the file, when a committed file is missing") {
    val t = freshTable("missing")
    t.append(df(Seq(1L -> "a")))
    t.append(df(Seq(2L -> "b")))
    val gone = t.snapshot().files.head.path
    Files.delete(Paths.get(t.tablePath, gone))
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString("\n")
    val viaTable = intercept[Exception](t.read(spark).collect())
    assert(messages(viaTable).contains(gone), messages(viaTable))
    val viaFormat = intercept[Exception](
      spark.read.format("graft-table").load(t.tablePath).collect())
    assert(messages(viaFormat).contains(gone), messages(viaFormat))
  }

  test("commit is put-if-absent: losing writer of the same version retries (append) or aborts (rewrite)") {
    val t = freshTable("race")
    t.append(df(Seq(1L -> "a")))
    // occupy version 2, as a concurrent writer would
    val occupied = TxLog.renderCommit("append", 1L, None, Nil, Nil)
    assert(TxLog.putIfAbsent(occupied, Paths.get(t.tablePath, TxLog.LogDir,
      "%020d".format(2L) + ".json")))
    // blind append loses the race at v2 and lands at v3
    val v = t.append(df(Seq(2L -> "b")))
    assert(v === 3L)
    assert(t.read(spark).count() === 2L)
    // a rewrite derived from v3 must ABORT when the head has moved on:
    // CAS-style expectedVersion is the caller-visible form of the check
    val derivedFrom = t.latestVersion()
    assert(TxLog.putIfAbsent(TxLog.renderCommit("append", derivedFrom, None, Nil, Nil),
      Paths.get(t.tablePath, TxLog.LogDir, "%020d".format(derivedFrom + 1) + ".json")))
    intercept[TxLog.ConcurrentWriteException] {
      t.overwrite(df(Seq(9L -> "z")), expectedVersion = derivedFrom)
    }
    // the loser staged nothing and committed nothing
    assert(t.read(spark).count() === 2L)
    assert(t.latestVersion() === derivedFrom + 1)
  }

  test("time travel: every version stays readable; history records ops") {
    val t = freshTable("timetravel")
    t.append(df(Seq(1L -> "a")))
    t.append(df(Seq(2L -> "b")))
    t.overwrite(df(Seq(7L -> "seven")))
    assert(t.read(spark, version = 1L).collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(t.read(spark, version = 2L).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L))
    assert(t.read(spark).collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(t.history().map(h => (h._1, h._2)) === Seq((3L, "overwrite"), (2L, "append"), (1L, "append")))
  }

  test("upsert: applyCdc semantics + only key-range-overlapping files rewritten") {
    import spark.implicits._
    val t = freshTable("upsert")
    // two appends with DISJOINT key ranges -> separate files with disjoint stats
    t.append(df((1L to 100L).map(i => i -> s"low$i")).repartition(1))
    t.append(df((1000L to 1100L).map(i => i -> s"high$i")).repartition(1))
    val before = dataFiles(t)
    val lowFiles = before.size
    assert(lowFiles === 2)

    // changes touch ONLY the high range: update 1000, delete 1001, insert 2000
    val changes = Seq(
      (1000L, "HIGH-UPDATED", false, 1L),
      (1001L, "whatever", true, 1L),
      (2000L, "NEW", false, 1L)
    ).toDF("id", "name", "_deleted", "_seq")
    t.upsert(changes, "id", "_seq")

    val after = dataFiles(t)
    // the low-range file is still live AND byte-identical (it was never rewritten)
    val snap = t.snapshot()
    val liveLow = snap.files.filter(_.stats("id").overlaps(Some("1"), Some("100")))
    assert(liveLow.size === 1)
    assert(before.contains(liveLow.head.path), "low-range file must be carried over, not rewritten")

    val got = t.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === 201) // 100 low + (101 high - 1 delete) + 1 insert
    assert(got.contains((1000L, "HIGH-UPDATED")))
    assert(!got.map(_._1).contains(1001L))
    assert(got.contains((2000L, "NEW")))
    assert(got.count(_._1 <= 100L) === 100)
    // removed high file is still on disk (time travel) until vacuum
    assert(after.intersect(before).size >= 1)
  }

  test("stats-based data skipping: range read scans only overlapping files") {
    val t = freshTable("skip")
    t.append(df((1L to 100L).map(i => i -> "a")).repartition(1))
    t.append(df((200L to 300L).map(i => i -> "b")).repartition(1))
    t.append(df((500L to 600L).map(i => i -> "c")).repartition(1))
    assert(t.filesForRange("id", Some(210L), Some(250L)) === 1)
    assert(t.filesForRange("id", Some(90L), Some(210L)) === 2)
    assert(t.filesForRange("id", None, None) === 3)
    val got = t.readRange(spark, "id", Some(210L), Some(250L))
    assert(got.count() === 41L)
    // residual filter still applies inside the chosen file
    assert(t.readRange(spark, "id", Some(250L), Some(250L)).count() === 1L)
  }

  test("checkpoint: snapshot resolves from checkpoint + suffix, not the full log") {
    val t = freshTable("checkpoint")
    (1 to 5).foreach(i => t.append(df(Seq(i.toLong -> s"v$i"))))
    t.checkpoint()
    t.append(df(Seq(100L -> "post")))
    // delete the pre-checkpoint commit files: resolution must survive,
    // proving the checkpoint actually short-circuits the replay
    (1L to 5L).foreach(v =>
      Files.delete(Paths.get(t.tablePath, TxLog.LogDir, "%020d".format(v) + ".json")))
    assert(t.read(spark).count() === 6L)
    // time travel PAST the checkpoint is now honestly impossible
    intercept[IllegalArgumentException] { t.snapshot(3L) }
  }

  test("compact: transactional OPTIMIZE — one commit, same rows, fewer files") {
    val t = freshTable("compact")
    (1 to 6).foreach(i => t.append(df(Seq(i.toLong -> s"r$i")).repartition(1)))
    val (before, after, v) = t.compact(spark)
    assert(before === 6 && after === 1 && v === 7L)
    assert(t.read(spark).count() === 6L)
    // pre-compact version still time-travels (files not yet vacuumed)
    assert(t.read(spark, version = 6L).count() === 6L)
    // after vacuum with a 0-version retention window the old files go away
    // but the head keeps reading
    t.vacuum(retainVersions = 0)
    assert(t.read(spark).count() === 6L)
    assert(dataFiles(t).size === 1)
  }

  test("schema: append with mismatched schema fails; overwrite may change it") {
    import spark.implicits._
    val t = freshTable("schema")
    t.append(df(Seq(1L -> "a")))
    val bad = Seq((1L, 2.0)).toDF("id", "amount")
    val e = intercept[IllegalArgumentException] { t.append(bad) }
    assert(e.getMessage.contains("schema"))
    t.overwrite(bad)
    assert(t.read(spark).schema.fieldNames.toSeq === Seq("id", "amount"))
  }

  test("empty-batch upsert is a no-op commit-wise") {
    import spark.implicits._
    val t = freshTable("emptyupsert")
    t.append(df(Seq(1L -> "a")))
    val empty = Seq.empty[(Long, String, Boolean, Long)]
      .toDF("id", "name", "_deleted", "_seq")
    val v = t.upsert(empty, "id", "_seq")
    assert(v === 1L && t.latestVersion() === 1L)
  }

  test("mergeSchema append widens the table; old rows read null; retyping still fails") {
    import spark.implicits._
    val t = freshTable("evolve")
    t.append(df(Seq(1L -> "a")))
    // strict append with a new column still refuses
    val widened = Seq((2L, "b", 0.9)).toDF("id", "name", "score")
    assertThrows[IllegalArgumentException](t.append(widened))
    // evolution: new nullable trailing column
    t.append(widened, mergeSchema = true, maxRetries = 20)
    val out = t.read(spark).orderBy(col("id")).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out(0).isNullAt(2), "pre-evolution rows read null in the new column")
    assert(out(1).getDouble(2) === 0.9)
    // a file written BEFORE evolution lacks the column entirely; one
    // written after lacks nothing — both resolve through the table schema
    assert(t.snapshot().schema.fieldNames.toSeq === Seq("id", "name", "score"))
    // retyping a column is never a merge
    val retyped = Seq((3L, 7L, 1.0)).toDF("id", "name", "score") // name: long
    assertThrows[IllegalArgumentException](
      t.append(retyped, mergeSchema = true, maxRetries = 20))
    // and the ORIGINAL narrow schema still appends strictly (subset is
    // not a mismatch the other way? no — strict means exact)
    assertThrows[IllegalArgumentException](t.append(df(Seq(4L -> "d"))))
  }

  test("upsert as the FIRST commit writes the schema action — the table stays readable") {
    import spark.implicits._
    val t = freshTable("firstupsert")
    val changes = Seq((1L, "a", false, 1L), (2L, "b", false, 1L))
      .toDF("id", "name", "_deleted", "_seq")
    t.upsert(changes, "id", "_seq")
    // pre-fix this threw 'no schema action found' forever
    assert(t.read(spark).count() === 2L)
    assert(t.snapshot().schema.fieldNames.toSeq === Seq("id", "name"))
    // and the table keeps working normally afterwards
    t.append(df(Seq(3L -> "c")))
    assert(t.read(spark).count() === 3L)
  }

  test("NaN/Infinity values do not crash stats collection; the file just never prunes") {
    import spark.implicits._
    val t = freshTable("nanstats")
    // one file, so its x-max is NaN (Spark max() sorts NaN greatest)
    t.append(Seq((1L, Double.NaN), (2L, 3.5), (3L, Double.PositiveInfinity))
      .toDF("id", "x").repartition(1))
    assert(t.read(spark).count() === 3L)
    // no stats on x for the NaN/Inf-carrying file -> conservative:
    // any range scans it
    assert(t.snapshot().files.size === 1)
    assert(t.filesForRange("x", Some(100.0), Some(200.0)) === 1)
    // the id column's stats are unaffected
    assert(t.filesForRange("id", Some(99L), Some(100L)) === 0)
  }

  test("a concurrent widen is never erased by racing strict appends (schema lost-update)") {
    import spark.implicits._
    val t = freshTable("widenrace")
    t.append(df(Seq(0L -> "seed")))
    val widened = Seq((100L, "w", 1.0)).toDF("id", "name", "score")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val a = new Thread(() => {
      try { t.append(widened, mergeSchema = true, maxRetries = 64); () }
      catch { case e: Throwable => errors.add(e); () }
    })
    val b = new Thread(() => {
      (1 to 5).foreach { i =>
        // strict appends validated against a possibly-pre-widen head: they
        // must either commit WITHOUT erasing the new column, or fail the
        // entry validation loudly — never silently drop `score`
        try { t.append(df(Seq(i.toLong -> s"b$i")), maxRetries = 64); () }
        catch { case _: IllegalArgumentException => () }
      }
    })
    a.start(); b.start(); a.join(); b.join()
    assert(errors.isEmpty, s"widening append must land: ${errors.peek()}")
    assert(t.snapshot().schema.fieldNames.contains("score"),
      "the widened column must survive every racing strict append")
    assert(t.read(spark).filter(col("id") === 100L).count() === 1L)
  }

  test("appendsSince with a pinned readSchema survives a mid-tail widening") {
    import spark.implicits._
    val t = freshTable("pintail")
    t.append(df(Seq(1L -> "a"))) // v1, schema S
    val pinned = t.snapshot().schema
    t.append(Seq((2L, "b", 9.9)).toDF("id", "name", "score"),
      mergeSchema = true, maxRetries = 20) // v2 widens
    val out = t.appendsSince(spark, 0L, readSchema = Some(pinned))
    assert(out.schema.fieldNames.toSeq === Seq("id", "name", "_commit_version"),
      "the pinned projection must not grow mid-tail")
    assert(out.count() === 2L, "post-widening files still surface, minus the new column")
  }

  test("8 threads racing blind appends: every commit lands, versions stay contiguous") {
    val t = freshTable("race8")
    val nThreads = 8; val perThread = 4
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { th =>
      new Thread(() => {
        // maxRetries > total competing commits: a loser may be outraced
        // once per competitor in the worst case, never more
        try (0 until perThread).foreach { i =>
          t.append(df(Seq((th * 100L + i) -> s"t$th-$i")), maxRetries = 64)
        } catch { case e: Throwable => errors.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"concurrent appends must all land: ${errors.peek()}")
    assert(t.latestVersion() === (nThreads * perThread).toLong,
      "one commit per append, no version gaps")
    assert(t.read(spark).count() === (nThreads * perThread).toLong)
    // every version readable (time travel never sees a torn commit)
    assert(t.snapshot(t.latestVersion()).files.size === nThreads * perThread)
  }

  test("appendsSince tails exactly the new appends, version-tagged") {
    val t = freshTable("tail")
    t.append(df(Seq(1L -> "a", 2L -> "b"))) // v1
    t.append(df(Seq(3L -> "c"))) // v2

    val all = t.appendsSince(spark, 0L)
      .select(col("id"), col("_commit_version")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all === Map(1L -> 1L, 2L -> 1L, 3L -> 2L))

    val tail = t.appendsSince(spark, 1L)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(tail === Set(3L), "a caught-up consumer sees only the new batch")
    assert(t.appendsSince(spark, 2L).count() === 0L)
    // ahead-of-head is a caller bug, not an empty stream
    assertThrows[IllegalArgumentException](t.appendsSince(spark, 9L))
  }

  test("appendsKeyBounds: the CDF key envelope comes from the log alone") {
    val t = freshTable("kbounds")
    t.append(df(Seq(10L -> "a", 20L -> "b"))) // v1
    t.append(df(Seq(15L -> "c", 40L -> "d"))) // v2
    t.append(df(Seq(7L -> "e")))              // v3
    assert(t.appendsKeyBounds("id", 0L) === Some((7L, 40L)))
    assert(t.appendsKeyBounds("id", 1L) === Some((7L, 40L)))
    assert(t.appendsKeyBounds("id", 2L) === Some((7L, 7L)))
    assert(t.appendsKeyBounds("id", 3L) === None, "caught-up: no envelope")
    assert(t.appendsKeyBounds("name", 2L) === Some(("e", "e")),
      "string columns bound in the str domain")
    assertThrows[IllegalArgumentException](t.appendsKeyBounds("nope", 0L))
  }

  test("MV-refresh pruning: a disjoint delta's bounds read zero MV files") {
    val mv = freshTable("mvprune")
    // one file per append (toDF would split 2 rows into 2 partitions)
    mv.append(df(Seq(1L -> "a", 5L -> "b")).coalesce(1))     // file 1: ids 1..5
    mv.append(df(Seq(100L -> "x", 200L -> "y")).coalesce(1)) // file 2: ids 100..200
    // the data files the read's scans plan (`inputFiles` is empty for
    // every DSv2 relation)
    def planned(df: org.apache.spark.sql.DataFrame): Seq[String] =
      graft.plans.AdaptivePlans.collectDeep(df) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.flatMap {
        case s: graft.streaming.GraftScan => s.currentFiles().map(_._1.path)
        case _ => Nil
      }
    // delta envelope [40, 60] overlaps neither MV file → the pruned
    // read plans over ZERO parquet inputs (the CDF-contract assertion:
    // refresh IO is bounded by overlap, not MV size)
    val disjoint = mv.readRange(spark, "id", Some(40L), Some(60L))
    assert(planned(disjoint).isEmpty, "no MV file overlaps the envelope")
    assert(disjoint.count() === 0L)
    // an envelope over file 2 only reads file 2
    val half = mv.readRange(spark, "id", Some(150L), Some(160L))
    assert(planned(half).length === 1)
  }

  test("optimizeZorder: one commit, same rows, both clustered columns prune files") {
    import spark.implicits._
    val t = freshTable("zorder")
    // two independent uniform dims — a single-column sort can only make
    // ONE of them prunable; the Z-curve must make BOTH prunable
    val rows = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    // appended in row-major slices: y-ranges start full-width per file
    rows.grouped(512).foreach(g => t.append(g.toSeq.toDF("x", "y")))
    val before = t.snapshot()

    def scanned(column: String): Int =
      t.filesForRange(column, Some(4L), Some(11L)) // 8/64 of the domain

    val beforeY = scanned("y")
    val (nBefore, nAfter, v) = t.optimizeZorder(spark, Seq("x", "y"), targetFiles = 16)
    assert(nBefore === before.files.size && nAfter === 16)
    assert(v === before.version + 1, "one commit")
    assert(t.read(spark).count() === rows.size.toLong, "row-neutral")

    val afterX = scanned("x"); val afterY = scanned("y")
    assert(afterX < 16, s"x-range must prune after zorder: $afterX/16")
    assert(afterY < 16, s"y-range must prune after zorder: $afterY/16")
    assert(afterY < beforeY,
      s"y was unprunable row-major ($beforeY files), must improve: $afterY")
    // history records the op; time travel still reads the old layout
    assert(t.history().head._2 === "zorder")
    assert(t.read(spark, before.version).count() === rows.size.toLong)
  }

  test("a consumer behind the vacuum retention window fails loudly, never silently short") {
    val t = freshTable("tailvac")
    t.append(df(Seq(1L -> "a"))) // v1
    t.append(df(Seq(2L -> "b"))) // v2
    t.compact(spark) // v3: v1/v2's files become unreachable history
    t.append(df(Seq(3L -> "c"))) // v4
    t.vacuum(retainVersions = 1) // deletes v1/v2's data files
    // a caught-up consumer (only the post-compact append in range) is fine
    assert(t.appendsSince(spark, 3L).count() === 1L)
    // a consumer whose range needs the vacuumed files must ERROR, not
    // return a silently incomplete stream
    val e = intercept[IllegalArgumentException](t.appendsSince(spark, 0L).count())
    assert(e.getMessage.contains("vacuum"))
  }

  test("appendsSince: compaction is row-neutral; rewrites throw unless opted out") {
    import spark.implicits._
    val t = freshTable("tailrw")
    t.append(df(Seq(1L -> "a"))) // v1
    t.append(df(Seq(2L -> "b"))) // v2
    t.compact(spark) // v3 — must NOT re-emit rows 1/2
    t.append(df(Seq(3L -> "c"))) // v4

    val sinceV2 = t.appendsSince(spark, 2L)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(sinceV2 === Set(3L), "compaction emits nothing")

    // an upsert rewrite in the range poisons appends-only consumption
    t.upsert(Seq((2L, "B!", false, 1L)).toDF("id", "name", "_deleted", "_seq"),
      "id", "_seq") // v5
    val e = intercept[IllegalStateException](t.appendsSince(spark, 4L))
    assert(e.getMessage.contains("upsert"))
    // explicit opt-out skips it; a later append still flows
    t.append(df(Seq(4L -> "d"))) // v6
    val skipped = t.appendsSince(spark, 4L, skipRewrites = true)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(skipped === Set(4L))
  }

  test("500 commits: snapshot resolution reads only checkpoint + suffix, never the full log") {
    // the high-commit-count throughput claim, proven BEHAVIORALLY: after
    // a checkpoint, every commit file at or before it is deleted — if
    // snapshot resolution (or latestVersion) touched anything beyond
    // checkpoint + suffix, it would fail. Commits are synthesized at the
    // log layer (driver-side metadata, the thing under test); data files
    // are never read here, matching the reads-resolve-from-log contract.
    val t = freshTable("manycommits")
    t.append(df(Seq(1L -> "seed"))) // v1: real commit, writes the schema
    val logDir = Paths.get(t.tablePath, "_graft_log")
    def commitFile(v: Long) = logDir.resolve(f"$v%020d.json")
    (2L to 500L).foreach { v =>
      val content = TxLog.renderCommit(
        "append", v - 1, None,
        Seq(TxLog.AddFile(s"part-synthetic-$v.parquet", 1L, 10L, Map.empty)),
        Nil)
      assert(TxLog.putIfAbsent(content, commitFile(v)), s"commit $v must land")
      if (v % 100 == 0) t.checkpoint()
    }
    assert(t.latestVersion() === 500L)

    // sever the history: only the last checkpoint (v500) + nothing after
    // it may be read. Deleting ALL plain commits ≤ 500 proves the
    // resolution path is O(since-last-checkpoint), not O(commits).
    (1L to 500L).foreach(v => Files.deleteIfExists(commitFile(v)))
    val snap = t.snapshot()
    assert(snap.version === 500L)
    assert(snap.files.size === 500, "1 seed file + 499 synthetic adds")
    // provenance survived the checkpoint: each synthetic file still
    // attributes its ORIGINAL commit, not the checkpoint's version
    assert(snap.addedIn("part-synthetic-250.parquet") === 250L)
    assert(snap.addedIn("part-synthetic-499.parquet") === 499L)

    // new commits keep landing and resolving on the truncated log
    val content = TxLog.renderCommit(
      "append", 500L, None,
      Seq(TxLog.AddFile("part-synthetic-501.parquet", 1L, 10L, Map.empty)), Nil)
    assert(TxLog.putIfAbsent(content, commitFile(501L)))
    assert(t.snapshot().files.size === 501)
    assert(t.snapshot().addedIn("part-synthetic-501.parquet") === 501L)

    // time travel BEHIND the available history fails loudly, not wrongly
    val e = intercept[IllegalArgumentException](t.snapshot(450L))
    assert(e.getMessage.contains("missing"))
  }

  test("protocol reader features: gated commits name their capability; plain tables carry none") {
    import spark.implicits._
    def logText(t: GraftTable, v: Long): String =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        t.tablePath, "_graft_log", "%020d.json".format(v))), "UTF-8")
    // a table using NO gated feature never grows a protocol line
    val plain = freshTable("proto_plain")
    plain.append(df(Seq(1L -> "a")))
    plain.compact(spark)
    (1L to plain.latestVersion()).foreach(v =>
      assert(!logText(plain, v).contains("\"protocol\""),
        s"ungated commit $v must not carry a protocol line"))
    // each gated feature's first use names itself in the SAME commit
    val t = freshTable("proto_dv")
    t.append(df((0L until 50L).map(i => i -> s"n$i")))
    t.setProperty("dv.maxFraction", "0.9")
    assert(logText(t, t.latestVersion()).contains("tableProperties"))
    t.deleteRows(spark, "id % 7 = 0")
    val dvLine = logText(t, t.latestVersion())
    assert(dvLine.contains("\"protocol\"") &&
      dvLine.contains("deletionVectors"))
    t.addConstraint(spark, "pos", "id >= 0")
    assert(logText(t, t.latestVersion()).contains("checkConstraints"))
    t.renameColumn("name", "label")
    assert(logText(t, t.latestVersion()).contains("columnMapping"))
    // ... and the table stays readable by THIS reader (round trip)
    assert(t.read(spark).count() === 42L)
    // a commit demanding a feature this reader lacks — an unknown future
    // one, or the columnar checkpoint older builds wrote — fails with its
    // NAME, before the reader trips over the gated action itself
    Seq("vectorClocks", "parquetCheckpoint").foreach { feature =>
      val future = freshTable(s"proto_$feature")
      future.append(df(Seq(1L -> "a")))
      val v = future.latestVersion() + 1
      val content =
        s"""{"a":"info","op":"append","readVersion":1}
          |{"a":"protocol","readerFeatures":["$feature"]}
          |{"a":"shard-map","path":"x"}""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(
        future.tablePath, "_graft_log", "%020d.json".format(v)),
        content.getBytes("UTF-8"))
      val ex = intercept[IllegalStateException](future.snapshot())
      assert(ex.getMessage.contains(feature) &&
        ex.getMessage.contains("reader feature"),
        s"expected a NAMED missing capability, got: ${ex.getMessage}")
    }
  }

  test("a log holding a columnar checkpoint fails by feature name, never reads empty") {
    val t = freshTable("legacy_pq_ckpt")
    t.append(df(Seq(1L -> "a", 2L -> "b")))
    t.append(df(Seq(3L -> "c")))
    // what an older build left after truncation: a columnar checkpoint
    // at the head and no commit file at or below it
    val logDir = Paths.get(t.tablePath, "_graft_log")
    Files.write(logDir.resolve("%020d.checkpoint.parquet".format(2L)),
      "PAR1".getBytes("UTF-8"))
    (1L to 2L).foreach(v => Files.delete(logDir.resolve("%020d.json".format(v))))
    val ex = intercept[IllegalStateException](t.snapshot())
    assert(ex.getMessage.contains("parquetCheckpoint") &&
      ex.getMessage.contains("reader feature"),
      s"expected the feature's NAME, got: ${ex.getMessage}")
    // the old format property is now an ordinary free-form key: it
    // gates nothing and checkpoints stay JSON lines
    val plain = freshTable("legacy_pq_prop")
    plain.append(df(Seq(1L -> "a")))
    val pv = plain.setProperty("checkpoint.format", "parquet")
    assert(!new String(Files.readAllBytes(Paths.get(plain.tablePath,
      "_graft_log", "%020d.json".format(pv))), "UTF-8").contains("parquetCheckpoint"))
    val cv = plain.checkpoint()
    assert(Files.exists(Paths.get(plain.tablePath, "_graft_log",
      "%020d.checkpoint.json".format(cv))))
    assert(plain.snapshot().files.size === 1)
  }

  test("a failed batch write leaves no staging directory behind") {
    val t = freshTable("stage_fail")
    t.append(df(Seq(0L -> "seed")))
    // partition 0 writes its file; partition 1 throws once it has
    val boom = udf { (id: Long) =>
      if (id >= 2L) { Thread.sleep(500); throw new IllegalStateException("boom") }
      id
    }
    val batch = spark.range(0L, 4L, 1L, 2)
      .select(boom(col("id")).as("id"), lit("x").as("name"))
    intercept[Exception](t.append(batch))
    val staged = Option(new java.io.File(t.tablePath).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("_staged_"))
    assert(staged.isEmpty, s"staging directories leaked: $staged")
    // the finished task's file, written into the root, went with the job
    assert(dataFiles(t) === t.snapshot().files.map(_.path).toSet)
    assert(t.read(spark).count() === 1L)
  }

  test("checkpoint preserves per-file commit provenance for the DSv2 _commit_version tag") {
    val t = freshTable("provenance")
    t.append(df(Seq(1L -> "a"))) // v1
    t.append(df(Seq(2L -> "b"))) // v2
    t.checkpoint()
    t.append(df(Seq(3L -> "c"))) // v3
    // resolve from the checkpoint: v1/v2 attribution must come from the
    // persisted per-add version, not collapse to the checkpoint version
    val snap = t.snapshot()
    val byVersion = snap.files.map(f => snap.addedIn(f.path)).sorted
    assert(byVersion === Seq(1L, 2L, 3L))
    // and the DSv2 batch read surfaces it per row
    val rows = spark.read.format("graft-table").option("path", t.tablePath)
      .load().select(col("id"), col("_commit_version")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("auto-checkpoint: the log checkpoints itself every interval commits") {
    def checkpoints(tt: GraftTable): Seq[Long] = {
      val dir = Paths.get(tt.tablePath, TxLog.LogDir)
      if (!Files.exists(dir)) Nil
      else {
        val it = Files.list(dir)
        try {
          val b = Seq.newBuilder[Long]
          it.forEach(p => {
            val n = p.getFileName.toString
            if (n.endsWith(".checkpoint.json"))
              b += n.stripSuffix(".checkpoint.json").toLong
          })
          b.result().sorted
        } finally it.close()
      }
    }
    val t = freshTable("autockpt")
    // a 100-commit ingest: checkpoints appear at the default interval
    // (20) with NO operator intervention, so snapshot resolution
    // replays a bounded suffix, never the whole log
    (1 to 100).foreach(i => t.append(df(Seq(i.toLong -> s"v$i"))))
    val cps = checkpoints(t)
    assert(cps.nonEmpty, "100 commits must have auto-checkpointed")
    assert(cps.max >= 80L,
      s"head 100 must resolve through a recent checkpoint, newest: ${cps.max}")
    assert(cps.size >= 4 && cps.size <= 7,
      s"~every-20 cadence expected over 100 commits, got $cps")
    // the replayed suffix is head - newestCheckpoint <= interval
    assert(100L - cps.max <= 20L)
    assert(t.read(spark).count() === 100L)

    // a custom interval tightens the cadence
    val t2 = freshTable("autockpt5")
    t2.append(df(Seq(0L -> "seed")))
    t2.setProperty(TxLog.CheckpointIntervalProp, "5")
    (1 to 12).foreach(i => t2.append(df(Seq(i.toLong -> s"v$i"))))
    val cps2 = checkpoints(t2)
    assert(cps2.nonEmpty && (14L - cps2.max) <= 5L,
      s"interval=5 must keep the suffix <= 5, got $cps2 (head 14)")

    // interval=0 disables; explicit checkpoint() still works
    val t3 = freshTable("autockpt0")
    t3.append(df(Seq(0L -> "seed")))
    t3.setProperty(TxLog.CheckpointIntervalProp, "0")
    (1 to 30).foreach(i => t3.append(df(Seq(i.toLong -> s"v$i"))))
    assert(checkpoints(t3).isEmpty, "interval=0 must never auto-checkpoint")
    val cv = t3.checkpoint()
    assert(cv === 32L && checkpoints(t3) === Seq(32L))
    intercept[IllegalArgumentException] {
      t3.setProperty(TxLog.CheckpointIntervalProp, "-1") }
    intercept[IllegalArgumentException] {
      t3.setProperty(TxLog.CheckpointIntervalProp, "often") }
  }

  test("overwriteRange: atomic REPLACE WHERE — drop, rewrite, insert in one commit") {
    import spark.implicits._
    val t = freshTable("replwhere")
    // three files: fully-covered, straddling, untouched
    t.append(df((1L to 10L).map(i => i -> "old")).repartition(1))   // v1: 1..10
    t.append(df((8L to 20L).map(i => i -> "mid")).repartition(1))   // v2: 8..20
    t.append(df((30L to 40L).map(i => i -> "hi")).repartition(1))   // v3
    val untouched = t.snapshot().files
      .filter(_.stats("id").overlaps(Some("30"), None)).map(_.path).toSet
    val replacement = df((1L to 12L).map(i => i -> s"new$i"))
    val (dropped, rewritten, v) =
      t.overwriteRange(spark, replacement, "id", Some(1L), Some(12L))
    assert(dropped === 1 && rewritten === 1, s"triage: $dropped/$rewritten")
    assert(v === 4L, "ONE commit")
    // content: range replaced, straddler's out-of-range rows kept,
    // untouched file byte-identical
    val rows = t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.count(_._2.startsWith("new")) === 12)
    assert(rows.filter(r => r._1 >= 13 && r._1 <= 20).forall(_._2 == "mid"))
    assert(rows.count(_._1 >= 30) === 11)
    assert(rows.length === 12 + 8 + 11)
    assert(untouched.subsetOf(t.snapshot().files.map(_.path).toSet))
    // out-of-window replacement rows refuse with NOTHING committed
    val before = t.latestVersion()
    intercept[IllegalArgumentException] {
      t.overwriteRange(spark, df(Seq(99L -> "stray")), "id", Some(1L), Some(12L))
    }
    assert(t.latestVersion() === before)
    assert(t.read(spark).count() === 31L)
    // null-keyed replacement rows refuse too
    intercept[IllegalArgumentException] {
      t.overwriteRange(spark,
        Seq((Option.empty[Long], "n")).toDF("id", "name"), "id",
        Some(1L), Some(12L))
    }
  }

  test("overwriteRange under cdf.enabled: the feed folds exactly across the swap") {
    import spark.implicits._
    val t = freshTable("replwhere_cdf")
    t.append(df((1L to 6L).map(i => i -> "a")).repartition(1))
    t.setProperty(TxLog.CdfEnabledProp, "true")
    val v0 = t.latestVersion()
    t.overwriteRange(spark, df(Seq(2L -> "B", 3L -> "B", 99L -> "oops"))
      .filter(col("id") < 50), "id", Some(2L), Some(4L))
    val feed = t.readChangeFeed(spark, v0)
      .select("id", "name", TxLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed === Set(
      (2L, "a", "delete"), (3L, "a", "delete"), (4L, "a", "delete"),
      (2L, "B", "insert"), (3L, "B", "insert")), s"feed: $feed")
    assert(t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toSet
      === Set(1L -> "a", 5L -> "a", 6L -> "a", 2L -> "B", 3L -> "B"))
  }

  test("utf8Cmp matches UTF8String binary order, not String.compareTo") {
    import org.apache.spark.unsafe.types.UTF8String
    val smile = new String(Character.toChars(0x1F600)) // U+1F600
    val samples = Seq("", "a", "ab", "b", "é", "�", smile,
      smile + "a", "a" + smile, "z￿", "z" + smile)
    for (x <- samples; y <- samples) {
      val want = Integer.signum(
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
      val got = Integer.signum(graft.medallion.TxLog.utf8Cmp(x, y))
      assert(got === want, s"utf8Cmp('$x','$y') = $got, UTF8String order $want")
    }
    // the motivating divergence: compareTo inverts this pair
    assert(graft.medallion.TxLog.utf8Cmp(smile, "�") > 0)
    assert(smile.compareTo("�") < 0)
  }

  test("log retention: auto-truncation drops history the window can never need, loudly gone below it") {
    val t = freshTable("logret")
    t.append(df(Seq((0L, "seed"))))
    t.setProperty(TxLog.CheckpointIntervalProp, "5")
    t.setProperty(TxLog.LogRetentionProp, "8")
    (1 to 30).foreach(i => t.append(df(Seq((i.toLong, s"r$i")))))
    val head = t.latestVersion()
    val logDir = Paths.get(t.tablePath, TxLog.LogDir)
    def logFiles(): Seq[String] = {
      import scala.jdk.CollectionConverters.IteratorHasAsScala
      val it = Files.list(logDir)
      try it.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".json")).toList.sorted
      finally it.close()
    }
    // truncation actually happened: fewer log files than commits, and
    // version 2's commit file is gone
    assert(logFiles().size < head,
      s"expected truncation, log still holds ${logFiles().size} files")
    assert(!Files.exists(logDir.resolve(f"${2L}%020d.json")))
    // the whole trailing window still resolves exactly
    ((head - 8 + 1) to head).foreach(v => assert(t.snapshot(v).version === v))
    assert(t.snapshot().files.nonEmpty)
    assert(t.read(spark).count() === 31L)
    // far-behind resolution fails LOUDLY, never silently empty
    val e = intercept[IllegalArgumentException](t.snapshot(2L))
    assert(e.getMessage.contains("missing") || e.getMessage.contains("cannot resolve"))
    // history degrades to the surviving versions without throwing
    val hist = t.history()
    assert(hist.nonEmpty && hist.map(_._1).min > 2L)
    // with no qualifying checkpoint nothing deletes
    val t2 = freshTable("logret2")
    t2.append(df(Seq((1L, "a"))))
    t2.append(df(Seq((2L, "b"))))
    assert(t2.truncateLog(1) === Nil)
    // property validation refuses garbage
    intercept[IllegalArgumentException](
      t.setProperty(TxLog.LogRetentionProp, "not-a-number"))
  }

  test("truncateLog surfaces the vacuum floor clamp instead of silently widening") {
    val t = freshTable("clamp")
    (1 to 10).foreach(i => t.append(df(Seq((i.toLong, s"c$i")))))
    val cv = t.checkpoint()
    (11 to 16).foreach(i => t.append(df(Seq((i.toLong, s"c$i")))))
    val head = t.latestVersion()
    // no vacuum yet: the request applies as-is
    val (_, effFree) = t.truncateLogDetailed(head.toInt + 5)
    assert(effFree === head.toInt + 5, "unclamped request reports itself")
    // a 6-version vacuum floors every later truncate on THIS handle
    t.vacuum(retainVersions = 6)
    val (victims, eff) = t.truncateLogDetailed(2)
    assert(eff === 6, "requested 2 must clamp up to the vacuum window")
    // and the clamp is REAL: every version vacuum's window needs still
    // resolves, even though retain=2 would have dropped its commits
    ((head - 5) to head).foreach(v => assert(t.snapshot(v).version === v))
    assert(victims.nonEmpty, "pre-checkpoint history still truncates")
    assert(!victims.exists(_.startsWith(f"${cv + 1}%020d")),
      s"nothing newer than the checkpoint may drop: $victims")
  }
}
