package graft

import java.util.UUID

import graft.medallion.GraftTable
import graft.streaming.{GraftCatalog, TableSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Every entry point an append reaches a `GraftTable` through, each
  * driven with a batch frame, so one spec can hold all of them to the
  * same contract. Tables are created through a catalog, which every
  * door can then write: by path, by name or programmatically.
  * `stagesFirst` marks the one door whose bytes are written before the
  * commit (`writeStream.toTable`). */
final case class WriteDoor(
    name: String, stagesFirst: Boolean,
    write: (SparkSession, WriteDoors.Target, DataFrame) => Unit)

object WriteDoors {

  /** A catalog table: `ident` for SQL and `toTable`, `table` for the
    * path and programmatic doors. */
  final case class Target(ident: String, table: GraftTable)

  private val scratch = new java.io.File(
    s"target/tmp/doors_${UUID.randomUUID().toString.take(8)}").getAbsolutePath
  private val catalog = s"doors${UUID.randomUUID().toString.take(6)}"

  /** `CREATE TABLE` with `ddl` columns in a catalog registered on first
    * use. */
  def create(spark: SparkSession, ddl: String): Target = {
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", s"$scratch/wh")
    val name = s"t${UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE $catalog.db.$name ($ddl)")
    Target(s"$catalog.db.$name", new GraftTable(s"$scratch/wh/db/$name"))
  }

  private val batchIds = new java.util.concurrent.atomic.AtomicLong()

  /** The batch as a stream: a parquet drop the file source replays. */
  private def streamOf(spark: SparkSession, df: DataFrame): DataFrame = {
    val dir = s"$scratch/src_${UUID.randomUUID().toString.take(8)}"
    df.write.parquet(dir)
    spark.readStream.schema(df.schema).parquet(dir)
  }

  private def checkpoint(): String =
    s"$scratch/ckpt_${UUID.randomUUID().toString.take(8)}"

  val all: Seq[WriteDoor] = Seq(
    WriteDoor("df.write.format", stagesFirst = false, (_, t, df) =>
      df.write.format("graft-table").option("path", t.table.tablePath)
        .mode("append").save()),
    WriteDoor("catalog INSERT", stagesFirst = false, (spark, t, df) => {
      val view = s"doors_src_${UUID.randomUUID().toString.take(8)}"
      df.createOrReplaceTempView(view)
      try spark.sql(s"INSERT INTO ${t.ident} (${df.columns.mkString(", ")}) " +
        s"SELECT * FROM $view")
      finally { spark.catalog.dropTempView(view); () }
    }),
    WriteDoor("appendIdempotent", stagesFirst = false, (_, t, df) => {
      t.table.appendIdempotent(df, "doors", batchIds.incrementAndGet()); ()
    }),
    WriteDoor("TableSink.writerFor", stagesFirst = false, (_, t, df) =>
      TableSink.writerFor(t.table, "doors")(df, batchIds.incrementAndGet())),
    WriteDoor("writeStream.format", stagesFirst = false, (spark, t, df) =>
      streamOf(spark, df).writeStream.format("graft-table")
        .option("path", t.table.tablePath)
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).start().awaitTermination()),
    WriteDoor("writeStream.toTable", stagesFirst = true, (spark, t, df) =>
      streamOf(spark, df).writeStream
        .option("checkpointLocation", checkpoint())
        .trigger(Trigger.AvailableNow()).toTable(t.ident).awaitTermination()))

  /** The `.parquet` files in `t`'s root. */
  def rootParquet(t: GraftTable): Set[String] =
    Option(new java.io.File(t.tablePath).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".parquet")).toSet

  /** Every message down an exception's cause chain — a streaming door
    * wraps the refusal in a query failure. */
  def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString("\n")
}
