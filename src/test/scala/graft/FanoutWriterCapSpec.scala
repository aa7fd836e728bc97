package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetWrites
import org.apache.spark.sql.types._

/** The fanout staging writer's open-writer CAP: one parquet writer per
  * live transform-tuple per task is the Iceberg fanout semantic, but
  * unbounded it is an executor OOM under a composite spec (days ×
  * buckets of writers, each buffering up to a row group). Past the
  * factory's `maxOpenWriters` the least-recently-written key
  * closes and ROLLS: its file is complete and tuple-pure; a recurring
  * key opens a fresh file. Invariants under eviction: every row lands
  * exactly once, every FILE stays single-valued on the split key (the
  * SPJ precondition — purity is per file, not per key), and abort
  * deletes rolled files too. */
class FanoutWriterCapSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("x", DoubleType)))

  private def freshStage(): java.io.File = {
    val d = new java.io.File(
      s"target/tmp/fanout_${java.util.UUID.randomUUID().toString.take(8)}")
    d.mkdirs(); d
  }

  private def writeRows(stage: String, cap: Int, n: Int): Seq[ParquetWrites.StagedFile] = {
    val factory = ParquetWrites.factory(
      spark, schema, stage,
      splitKey = Some((r: InternalRow) => (r.getLong(0) % 8).toString),
      maxOpenWriters = cap)
    val w = factory.createWriter(0, 0L)
    // ids cycle through all 8 keys, so with cap < 8 every new key
    // evicts the LRU writer — the roll path runs constantly
    (0 until n).foreach(i => w.write(InternalRow(i.toLong, i * 1.0)))
    val msg = w.commit().asInstanceOf[ParquetWrites.StagedFiles]
    w.close()
    msg.files
  }

  test("cap evicts LRU writers: all rows land once, every file stays key-pure") {
    val stage = freshStage()
    val n = 200
    val files = writeRows(stage.getAbsolutePath, cap = 2, n = n)
    // rolls happened: 8 live keys through a 2-writer cap must produce
    // strictly more files than keys
    assert(files.size > 8, s"expected rolled files, got ${files.size}")
    // each file's task-counted rows match its bytes
    assert(files.map(_.rows).sum === n.toLong)
    assert(files.map(_.seq).sorted === (1 to files.size))
    val back = spark.read.schema(schema).parquet(stage.getAbsolutePath)
      .withColumn("__f", col("_metadata.file_path"))
    // exactly-once: all n rows, no dup, no loss
    assert(back.count() === n.toLong)
    assert(back.select("id").distinct().count() === n.toLong)
    // per-FILE purity: each file holds exactly one split-key value
    val impure = back.groupBy("__f")
      .agg(countDistinct(pmod(col("id"), lit(8))).as("k"))
      .filter(col("k") > 1).count()
    assert(impure === 0L, "a rolled file straddles split-key values")
    graft.core.Fs.rmTree(stage)
  }

  test("cap=1 degenerates to roll-per-key-change and still loses nothing") {
    val stage = freshStage()
    val n = 64
    val files = writeRows(stage.getAbsolutePath, cap = 1, n = n)
    assert(files.size >= 8)
    val back = spark.read.schema(schema).parquet(stage.getAbsolutePath)
    assert(back.count() === n.toLong)
    graft.core.Fs.rmTree(stage)
  }

  test("abort deletes rolled files, not just open ones") {
    val stage = freshStage()
    try {
      val factory = ParquetWrites.factory(
        spark, schema, stage.getAbsolutePath,
        splitKey = Some((r: InternalRow) => (r.getLong(0) % 8).toString),
        maxOpenWriters = 2)
      val w = factory.createWriter(0, 0L)
      (0 until 100).foreach(i => w.write(InternalRow(i.toLong, i * 1.0)))
      w.abort()
      val leftover = Files.walk(stage.toPath)
      val parquets =
        try leftover.iterator()
        finally ()
      val remaining = new java.util.ArrayList[java.nio.file.Path]()
      parquets.forEachRemaining(p =>
        if (p.getFileName.toString.endsWith(".parquet")) { remaining.add(p); () })
      leftover.close()
      assert(remaining.isEmpty,
        s"abort left staged parquet behind: $remaining")
    } finally graft.core.Fs.rmTree(stage)
  }
}
