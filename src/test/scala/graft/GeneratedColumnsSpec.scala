package graft

import graft.medallion.{GraftTable, PartitionSpec, TxLog}
import org.apache.spark.sql.functions._

/** Generated columns (`generated.<col> = <expr>` table property — the
  * Delta GENERATED ALWAYS AS shape): batches that omit the column get
  * it computed at write; batches that provide it are validated
  * value-by-value on the staged bytes (a mismatch refuses the commit,
  * CHECK-constraint machinery). The flagship pairing: a generated day
  * column under `partition.spec = id(day)`. */
class GeneratedColumnsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): GraftTable = {
    val dir = new java.io.File(
      s"target/tmp/gen_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    new GraftTable(dir.getAbsolutePath)
  }

  private def seed(t: GraftTable): Unit = {
    t.append(Seq((1L, 10L, 10L)).toDF("id", "v", "v2"))
    t.setProperty("generated.v2", "v * 2")
  }

  test("an omitting append computes the column; a providing append validates") {
    val t = freshTable("fill")
    seed(t)
    // omit v2 entirely: filled from v * 2, projected into schema order
    t.append(Seq((2L, 20L), (3L, 30L)).toDF("id", "v"))
    assert(t.read(spark).orderBy("id").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 10L, 10L), (2L, 20L, 40L), (3L, 30L, 60L)))
    // provide it consistently: fine
    t.append(Seq((4L, 5L, 10L)).toDF("id", "v", "v2"))
    // provide it WRONG: refused, nothing committed, staged bytes gone
    val head = t.latestVersion()
    val err = intercept[IllegalStateException] {
      t.append(Seq((5L, 5L, 11L)).toDF("id", "v", "v2")) }
    assert(err.getMessage.contains("generated.v2"))
    assert(t.latestVersion() === head)
    assert(t.read(spark).count() === 4L)
  }

  test("a mergeSchema widen that omits the generated column fills AND widens") {
    val t = freshTable("widen")
    seed(t)
    // new trailing column + omitted generated column, in one batch
    t.append(Seq((2L, 20L, "tag")).toDF("id", "v", "note"),
      mergeSchema = true, maxRetries = 20)
    val rows = t.read(spark).orderBy("id").collect()
    assert(rows.map(_.getLong(2)).toSeq === Seq(10L, 40L), "fill intact")
    assert(rows.last.getString(3) === "tag", "the widen survives the fill")
    assert(rows.head.isNullAt(3))
  }

  test("overwrite keeps the table shape when omitting; upsert validates too") {
    val t = freshTable("paths")
    seed(t)
    t.overwrite(Seq((7L, 70L)).toDF("id", "v"))
    assert(t.read(spark).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq === Seq((7L, 70L, 140L)))
    // upsert provides all columns; a consistent change lands...
    t.upsert(Seq((7L, 8L, 16L, 1L, false)).toDF("id", "v", "v2", "seq", "_deleted"),
      "id", "seq")
    assert(t.read(spark).head().getLong(2) === 16L)
    // ...an inconsistent one refuses
    intercept[IllegalStateException] {
      t.upsert(Seq((7L, 9L, 99L, 2L, false)).toDF("id", "v", "v2", "seq", "_deleted"),
        "id", "seq") }
    assert(t.read(spark).head().getLong(1) === 8L, "failed upsert left no trace")
  }

  test("generated day column drives hidden partitioning (the Delta pairing)") {
    val t = freshTable("partition")
    t.append(Seq((0L, new java.sql.Timestamp(19700L * 86400000L), 19700L))
      .toDF("id", "ts", "day"))
    t.setProperty("generated.day",
      "CAST(floor(unix_millis(ts) / 86400000.0) AS BIGINT)")
    t.setProperty(PartitionSpec.Prop, "id(day)")
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      // ingest WITHOUT the day column: generated, then clustered on it
      val rows = for (d <- 0L until 8L; i <- 0L until 100L)
        yield (d * 100L + i, new java.sql.Timestamp((19700L + d) * 86400000L + i))
      t.append(rows.toDF("id", "ts"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val total = t.snapshot().files.size
    val n = t.filesForRange("day", Some(19703L), Some(19703L))
    assert(n * 2 <= total,
      s"a generated-day point probe should prune: $n of $total")
    val got = t.readRange(spark, "day", Some(19703L), Some(19703L))
    assert(got.count() === 100L)
    assert(got.select(min("id"), max("id")).head() ===
      org.apache.spark.sql.Row(300L, 399L))
  }

  test("property validation and ALTER guards refuse loudly") {
    val t = freshTable("guards")
    seed(t)
    intercept[IllegalArgumentException] {
      t.setProperty("generated.nope", "v * 2") } // unknown column
    intercept[IllegalArgumentException] {
      t.setProperty("generated.id", "id + 1") } // self-reference
    intercept[IllegalArgumentException] {
      t.setProperty("generated.id", "nope + 1") } // unknown reference
    intercept[IllegalArgumentException] {
      t.setProperty("generated.id", "v2 * 3") } // derive from generated
    intercept[IllegalArgumentException] {
      t.setProperty("generated.id", "SELECT FROM") } // unparseable
    intercept[IllegalArgumentException] { t.dropColumn("v2") } // the generated col
    intercept[IllegalArgumentException] { t.dropColumn("v") } // its source
    intercept[IllegalArgumentException] { t.renameColumn("v2", "w") }
    intercept[IllegalArgumentException] { t.renameColumn("v", "w") }
    // unsetting the property releases the column entirely
    t.unsetProperty("generated.v2")
    t.dropColumn("v2")
    assert(t.snapshot().schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("streaming epochs fill omitted generated columns") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = freshTable("stream")
    seed(t)
    val root = new java.io.File(
      s"target/tmp/gen_ckpt_${java.util.UUID.randomUUID().toString.take(8)}")
    val mem = MemoryStream[(Long, Long)]
    mem.addData((10L, 100L), (11L, 110L))
    val q = mem.toDF().toDF("id", "v")
      .writeStream.format("graft-table")
      .option("path", t.tablePath)
      .option("checkpointLocation", root.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(t.read(spark).filter(col("id") >= 10L).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((10L, 200L), (11L, 220L)))
  }

  // every door an append reaches the table through computes a generated
  // column the batch omits — except the one that stages its bytes before
  // the commit, which refuses, naming the column
  graft.WriteDoors.all.foreach { door =>
    test(s"${door.name}: an omitted generated column is computed") {
      val target = graft.WriteDoors.create(spark, "id BIGINT, v BIGINT, v2 BIGINT")
      val t = target.table
      seed(t)
      val batch = Seq((2L, 20L), (3L, 30L)).toDF("id", "v")
      if (door.stagesFirst) {
        val head = t.latestVersion()
        val rootFiles = graft.WriteDoors.rootParquet(t)
        val msg = graft.WriteDoors.messages(
          intercept[Exception](door.write(spark, target, batch)))
        assert(msg.contains("'v2'"), msg)
        assert(t.latestVersion() === head)
        // refused while planning: no epoch wrote into the root
        assert(graft.WriteDoors.rootParquet(t) === rootFiles)
      } else {
        door.write(spark, target, batch)
        assert(t.read(spark).orderBy("id").collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
          Seq((1L, 10L, 10L), (2L, 20L, 40L), (3L, 30L, 60L)))
      }
    }
  }

  test("INSERT OVERWRITE that omits a generated column computes it") {
    val target = graft.WriteDoors.create(spark, "id BIGINT, v BIGINT, v2 BIGINT")
    seed(target.table)
    spark.sql(s"INSERT OVERWRITE ${target.ident} (id, v) VALUES (3, 7)")
    assert(target.table.read(spark).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq === Seq((3L, 7L, 14L)))
  }
}
