package graft

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters.IteratorHasAsScala

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetWrites
import org.apache.spark.sql.types._

import graft.medallion.{GraftTable, TxLog}

/** Every GraftTable mutator commits through one loop, whose test seam
  * (`beforePublishHook`) fires before each publish attempt. Each case
  * lands one interloping commit — from a second handle on the same
  * table — in exactly that window, and pins the mutator's conflict
  * policy: retry and win with the interloper's effect kept, rebase over
  * a blind append, or abort leaving no staged data or change file
  * behind. */
class CommitRaceSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): GraftTable = new GraftTable(
    new java.io.File(s"target/tmp/crace_${tag}_${UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath)

  /** Every file under the table root outside the log: data files and
    * change files, committed or not. */
  private def files(t: GraftTable): Set[String] = {
    val root = Paths.get(t.tablePath)
    val it = Files.walk(root)
    try it.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString)
      .filterNot(_.startsWith(TxLog.LogDir)).toSet
    finally it.close()
  }

  /** Land `interlope` once, against a second handle, before `t`'s next
    * publish attempt. */
  private def raceOnce(t: GraftTable)(interlope: GraftTable => Unit): Unit = {
    val other = new GraftTable(t.tablePath)
    t.beforePublishHook = () => {
      t.beforePublishHook = () => ()
      interlope(other)
    }
  }

  private def seeded(tag: String, props: Map[String, String] = Map.empty): GraftTable = {
    val t = freshTable(tag)
    t.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "n"))
    t.append(Seq((3L, "c", 30)).toDF("id", "v", "n"))
    if (props.nonEmpty) t.setProperties(props)
    t
  }

  private def ids(t: GraftTable): Set[Long] =
    t.read(spark).select("id").collect().map(_.getLong(0)).toSet

  private val blindAppend: GraftTable => Unit =
    _.append(Seq((100L, "late", 1)).toDF("id", "v", "n"))
  private val rowKept: GraftTable => Boolean = t => ids(t).contains(100L)
  private val addExtra: GraftTable => Unit =
    _.addColumns(Seq(StructField("extra", StringType)))
  private val extraKept: GraftTable => Boolean =
    _.snapshot().schema.fieldNames.contains("extra")
  private val setOther: GraftTable => Unit = _.setProperty("other", "1")
  private val otherKept: GraftTable => Boolean =
    _.properties.get("other").contains("1")

  /** A parquet batch written into `t`'s root but not committed — what
    * a DSv2 streaming write hands `appendStaged`. */
  private def stagedBatch(t: GraftTable): Seq[ParquetWrites.StagedFile] = {
    val df = Seq((4L, "d", 40)).toDF("id", "v", "n")
    ParquetWrites.write(df, TxLog.writerFactory(spark, None, df.schema, t.tablePath))
  }

  private case class RetryCase(
      name: String, props: Map[String, String], setup: GraftTable => Unit,
      interlope: GraftTable => Unit, kept: GraftTable => Boolean,
      op: GraftTable => Unit, done: GraftTable => Boolean)

  private val retryCases = Seq(
    RetryCase("append", Map.empty, _ => (), blindAppend, rowKept,
      _.append(Seq((4L, "d", 40)).toDF("id", "v", "n")),
      ids(_).contains(4L)),
    RetryCase("appendIdempotent", Map.empty, _ => (), blindAppend, rowKept,
      _.appendIdempotent(Seq((4L, "d", 40)).toDF("id", "v", "n"), "app", 1L),
      t => ids(t).contains(4L) && t.snapshot().txns.get("app").contains(1L)),
    // The idempotent form of appendStaged: a staged batch carrying a txn.
    RetryCase("appendStagedIdempotent", Map.empty, _ => (), blindAppend, rowKept,
      t => t.appendStaged(spark, t.snapshot().schema, stagedBatch(t), Nil, "app" -> 1L),
      t => ids(t).contains(4L) && t.snapshot().txns.get("app").contains(1L)),
    RetryCase("addColumns", Map.empty, _ => (), addExtra, extraKept,
      _.addColumns(Seq(StructField("x", StringType))),
      _.snapshot().schema.fieldNames.contains("x")),
    RetryCase("renameColumn", Map.empty, _ => (), addExtra, extraKept,
      _.renameColumn("v", "w"),
      _.snapshot().schema.fieldNames.toSeq.take(3) == Seq("id", "w", "n")),
    RetryCase("widenColumn", Map("type.widening" -> "true"), _ => (), addExtra, extraKept,
      _.widenColumn("n", LongType),
      _.snapshot().schema("n").dataType == LongType),
    RetryCase("dropColumn", Map.empty, _ => (), addExtra, extraKept,
      _.dropColumn("n"),
      !_.snapshot().schema.fieldNames.contains("n")),
    RetryCase("dropConstraint", Map.empty, _.addConstraint(spark, "pos", "id > 0"),
      _.addConstraint(spark, "small", "n < 1000"),
      _.constraints.contains("small"),
      _.dropConstraint("pos"),
      !_.constraints.contains("pos")),
    RetryCase("setProperties", Map.empty, _ => (), setOther, otherKept,
      _.setProperties(Map("k" -> "v")),
      _.properties.get("k").contains("v")),
    RetryCase("unsetProperty", Map("k" -> "v"), _ => (), setOther, otherKept,
      _.unsetProperty("k"),
      !_.properties.contains("k")))

  retryCases.foreach { c =>
    test(s"retry: ${c.name} re-builds at the new head and wins; the interloper's effect is kept") {
      val t = seeded(c.name, c.props)
      c.setup(t)
      raceOnce(t)(c.interlope)
      val before = t.latestVersion()
      c.op(t)
      assert(t.latestVersion() === before + 2, "interloper + the op, one commit each")
      assert(c.done(t), s"${c.name} committed its change")
      assert(c.kept(t), s"${c.name} kept the interloper's change")
    }
  }

  test("rebase: compact re-commits over an interleaved blind append") {
    val t = seeded("compact")
    val sources = t.snapshot().files.size
    raceOnce(t)(blindAppend)
    val (in, _, v) = t.compact(spark)
    assert(in === sources)
    assert(v === t.latestVersion())
    assert(t.history().head._2 === "compact")
    assert(ids(t) === Set(1L, 2L, 3L, 100L))
  }

  private val cdf = Map("cdf.enabled" -> "true")

  private case class AbortCase(
      name: String, props: Map[String, String], setup: GraftTable => Unit,
      op: GraftTable => Unit)

  private val abortCases = Seq(
    AbortCase("upsert (cdf.enabled)", cdf, _ => (),
      _.upsert(Seq((1L, "A", 11, false, 1L), (9L, "new", 90, false, 1L))
        .toDF("id", "v", "n", "_deleted", "_seq"), "id", "_seq")),
    AbortCase("deleteRows (cdf.enabled)", cdf, _ => (),
      _.deleteRows(spark, "id <= 2")),
    AbortCase("restore", Map.empty, _.append(Seq((7L, "g", 70)).toDF("id", "v", "n")),
      _.restore(1L)),
    AbortCase("addConstraint", Map.empty, _ => (),
      _.addConstraint(spark, "pos", "id > 0")),
    AbortCase("overwrite", Map.empty, _ => (),
      _.overwrite(Seq((5L, "e", 50)).toDF("id", "v", "n"))))

  abortCases.foreach { c =>
    test(s"abort: ${c.name} throws on a moved head and leaves no orphan files") {
      val t = seeded(c.name.takeWhile(_ != ' '), c.props)
      c.setup(t)
      val rowsBefore = ids(t)
      val before = files(t)
      raceOnce(t)(blindAppend)
      intercept[TxLog.ConcurrentWriteException](c.op(t))
      assert(t.history().head._2 === "append", "the interloper is the head")
      assert(ids(t) === rowsBefore + 100L, "no row lost or changed")
      // restore re-adds historical files: none of them may go
      assert(before.subsetOf(files(t)), "nothing the table held was deleted")
      val live = t.snapshot().files.map(_.path).toSet
      assert((files(t) -- before).subsetOf(live),
        s"only the interloper's files are new: ${(files(t) -- before -- live).mkString(", ")}")
    }
  }

  test("an always-interfering writer exhausts the retry budget; nothing staged survives") {
    val t = seeded("exhaust")
    val other = new GraftTable(t.tablePath)
    t.beforePublishHook = () => { other.setProperty("tick", UUID.randomUUID().toString); () }
    val before = files(t)
    val v0 = t.latestVersion()
    val e = intercept[TxLog.ConcurrentWriteException](
      t.append(Seq((4L, "d", 40)).toDF("id", "v", "n"), mergeSchema = false, 3))
    assert(e.getMessage.contains("lost 3 commit races"), e.getMessage)
    assert(t.latestVersion() === v0 + 3, "three publish attempts, three interlopers")
    assert(files(t) === before, "the staged files are deleted")
    assert(!ids(t).contains(4L))
  }

  test("a rewrite rebased past its budget throws; nothing staged survives") {
    val t = seeded("exhaust_rebase")
    val other = new GraftTable(t.tablePath)
    t.beforePublishHook = () => blindAppend(other)
    val compacted = t.snapshot().files.map(_.path).toSet
    intercept[TxLog.ConcurrentWriteException](t.compact(spark))
    assert(t.history().head._2 === "append")
    val live = t.snapshot().files.map(_.path).toSet
    assert(compacted.subsetOf(live), "the compacted sources stay live")
    assert(files(t).subsetOf(live), "no staged rewrite output survives")
  }

  test("appendIdempotent re-validates a mid-race constraint under the mapped schema") {
    // dropColumn turns column mapping on; the column added after it takes
    // a fresh physical name, so its staged bytes do not carry the logical
    // name a re-validation must read through
    val t = seeded("mapped_idem")
    t.dropColumn("n")
    t.addColumns(Seq(StructField("score", IntegerType)))
    val batch = Seq((8L, "h", 500)).toDF("id", "v", "score")
    raceOnce(t)(_.addConstraint(spark, "small", "score < 100"))
    val before = files(t)
    val e = intercept[IllegalStateException](t.appendIdempotent(batch, "app", 1L))
    assert(e.getMessage.contains("small"), e.getMessage)
    assert(t.history().head._2 === "addConstraint", "the violating batch did not commit")
    assert(!ids(t).contains(8L))
    assert(t.snapshot().txns.get("app").isEmpty)
    assert(files(t) === before, "the rejected batch's staged files are deleted")
  }
}
