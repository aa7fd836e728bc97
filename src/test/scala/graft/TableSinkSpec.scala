package graft

import graft.medallion.GraftTable
import graft.streaming.TableSink
import org.apache.spark.sql.functions.col

/** Exactly-once streaming into the log-structured table: a replayed
  * foreachBatch invocation (same batchId — what Structured Streaming
  * does after a crash between side effect and offset-log update) must
  * be a no-op, across commit races and table checkpoints alike. */
class TableSinkSpec extends SparkSpec {

  private def freshRoot() = new java.io.File(
    s"target/tmp/tablesink_${java.util.UUID.randomUUID().toString.take(8)}")

  test("a live stream lands each micro-batch as one table commit") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val root = freshRoot()
    val tablePath = new java.io.File(root, "tbl").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("id", "payload")

    ms.addData(1L -> "a", 2L -> "b")
    TableSink.start(stream, tablePath, "ingest-q", ckpt).awaitTermination()
    ms.addData(3L -> "c")
    TableSink.start(stream, tablePath, "ingest-q", ckpt).awaitTermination()

    val table = new GraftTable(tablePath)
    assert(table.read(spark).select("id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))
    val snap = table.snapshot()
    assert(snap.txns.get("ingest-q").contains(1L),
      "txn high-water mark tracks the newest committed batch id")
  }

  test("replaying a committed batchId is a no-op (crash-replay exactly-once)") {
    import spark.implicits._
    val root = freshRoot()
    val table = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    val write = TableSink.writerFor(table, "app-1")

    val b0 = Seq((1L, "x"), (2L, "y")).toDF("id", "payload")
    val b1 = Seq((3L, "z")).toDF("id", "payload")

    write(b0, 0L)
    write(b1, 1L)
    val before = table.snapshot().version
    def rootEntries(): Set[String] =
      new java.io.File(table.tablePath).listFiles().map(_.getName).toSet
    val filesBefore = rootEntries()

    // crash-replay: the restarted query re-delivers batch 1, then an
    // even older batch (out-of-order replay must not resurrect either)
    write(b1, 1L)
    write(b0, 0L)

    assert(table.snapshot().version === before, "replays must not commit")
    assert(table.read(spark).count() === 3L)
    // the ledger is checked before anything stages: a replay writes no
    // data file and leaves no staging directory behind
    assert(rootEntries().filter(_.endsWith(".parquet")) ===
      filesBefore.filter(_.endsWith(".parquet")))
    assert(!rootEntries().exists(_.startsWith("_staged_")))
  }

  test("the txn ledger survives a table checkpoint") {
    import spark.implicits._
    val root = freshRoot()
    val table = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    val write = TableSink.writerFor(table, "app-ck")

    write(Seq((1L, "x")).toDF("id", "payload"), 0L)
    write(Seq((2L, "y")).toDF("id", "payload"), 1L)
    table.checkpoint()
    // post-checkpoint snapshot resolution reads checkpoint + suffix; the
    // ledger must come along or this replay would double-append
    write(Seq((2L, "y")).toDF("id", "payload"), 1L)

    assert(table.read(spark).count() === 2L)
    assert(table.snapshot().txns.get("app-ck").contains(1L))
  }

  test("two threads racing the SAME batchId resolve to exactly one append") {
    import spark.implicits._
    val root = freshRoot()
    val table = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    // seed so both racers contend on an existing table
    TableSink.writerFor(table, "race")(Seq((0L, "seed")).toDF("id", "payload"), 0L)

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        try {
          table.appendIdempotent(
            Seq((1L, "dup")).toDF("id", "payload"), "race", 1L)
          ()
        } catch { case e: Throwable => errors.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"racing writers must both return: ${errors.peek()}")
    assert(table.read(spark).filter(col("id") === 1L).count() === 1L,
      "exactly one of the two racing same-batch appends may land")
    assert(table.snapshot().txns.get("race").contains(1L))
  }

  test("distinct appIds keep independent ledgers") {
    import spark.implicits._
    val root = freshRoot()
    val table = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)

    TableSink.writerFor(table, "app-a")(Seq((1L, "x")).toDF("id", "payload"), 0L)
    // app-b's batch 0 is NOT suppressed by app-a's
    TableSink.writerFor(table, "app-b")(Seq((2L, "y")).toDF("id", "payload"), 0L)

    assert(table.read(spark).count() === 2L)
    val txns = table.snapshot().txns
    assert(txns.get("app-a").contains(0L) && txns.get("app-b").contains(0L))
  }
}
