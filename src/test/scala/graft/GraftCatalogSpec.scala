package graft

import graft.medallion.GraftTable
import graft.streaming.GraftCatalog
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** The SQL catalog surface: a graft warehouse as a Spark TableCatalog —
  * CREATE TABLE / SELECT / DELETE FROM / TRUNCATE / SHOW / DROP in
  * plain SQL, with DELETE routed through the transactional range
  * delete and untranslatable predicates refused loudly. */
class GraftCatalogSpec extends SparkSpec {

  private def freshWarehouse(): String = {
    val dir = new java.io.File(
      s"target/tmp/catalog_${java.util.UUID.randomUUID().toString.take(8)}")
    dir.getAbsolutePath
  }

  private def withoutCoalesce[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("CREATE/SELECT/DELETE/TRUNCATE/SHOW/DROP through plain SQL") {
    import spark.implicits._
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.gtest", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.warehouse", wh)
    try {
      spark.sql("CREATE TABLE gtest.db.events (id BIGINT, payload STRING)")
      // an empty created table reads as empty, not as an error
      assert(spark.sql("SELECT * FROM gtest.db.events").count() === 0L)
      // CREATE again fails loudly
      intercept[Exception](
        spark.sql("CREATE TABLE gtest.db.events (id BIGINT, payload STRING)"))

      // writes go through the explicit surfaces; the catalog sees them
      val t = new GraftTable(s"$wh/db/events")
      t.append(Seq((1L, Some("a")), (2L, Some("b")), (5L, Some("e")),
        (9L, Some("i"))).toDF("id", "payload"))
      t.append(Seq((null.asInstanceOf[java.lang.Long], Some("nul")))
        .map(x => (Option(x._1).map(_.toLong), x._2)).toDF("id", "payload"))
      assert(spark.sql("SELECT count(*) FROM gtest.db.events").head().getLong(0) === 5L)

      // DELETE FROM with a translatable range: stats-triaged range delete
      spark.sql("DELETE FROM gtest.db.events WHERE id BETWEEN 2 AND 5")
      assert(spark.sql("SELECT id FROM gtest.db.events WHERE id IS NOT NULL")
        .collect().map(_.getLong(0)).toSet === Set(1L, 9L))
      assert(spark.sql(
        "SELECT count(*) FROM gtest.db.events WHERE id IS NULL")
        .head().getLong(0) === 1L, "null keys survive a range DELETE")
      assert(t.history().head._2 === "delete")

      // a strict inequality cannot be a metadata delete — it routes
      // through the copy-on-write group rewrite instead (null keys
      // survive: NULL > 1 is not true)
      spark.sql("DELETE FROM gtest.db.events WHERE id > 1")
      assert(t.history().head._2 === "replace")
      assert(spark.sql("SELECT count(*) FROM gtest.db.events").head().getLong(0) === 2L)

      // TRUNCATE is the no-predicate delete: null keys go too
      spark.sql("TRUNCATE TABLE gtest.db.events")
      assert(spark.sql("SELECT count(*) FROM gtest.db.events").head().getLong(0) === 0L)

      // SHOW TABLES lists log-bearing directories only
      assert(spark.sql("SHOW TABLES IN gtest.db").collect()
        .map(_.getString(1)).toSeq === Seq("events"))

      spark.sql("DROP TABLE gtest.db.events")
      intercept[AnalysisException](
        spark.sql("SELECT * FROM gtest.db.events").collect())
      assert(spark.sql("SHOW TABLES IN gtest.db").count() === 0L)

      // path-traversal identifiers never escape the warehouse —
      // listTables validates segments exactly like every other op
      intercept[Exception](spark.sql("SHOW TABLES IN gtest.`..`").collect())
      intercept[Exception](
        spark.sql("SELECT * FROM gtest.`..`.`etc`").collect())
    } finally {
      spark.conf.unset("spark.sql.catalog.gtest")
      spark.conf.unset("spark.sql.catalog.gtest.warehouse")
    }
  }

  test("INSERT INTO / INSERT OVERWRITE / CTAS / ALTER TABLE ADD COLUMNS through plain SQL") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.gsql", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.warehouse", wh)
    try {
      spark.sql("CREATE TABLE gsql.db.t (id BIGINT, payload STRING)")

      // INSERT INTO: by-position VALUES and by-query, each one append commit
      spark.sql("INSERT INTO gsql.db.t VALUES (1, 'a'), (2, 'b')")
      spark.sql("INSERT INTO gsql.db.t SELECT col1 + 10, col2 FROM VALUES (3, 'c')")
      assert(spark.sql("SELECT id, payload FROM gsql.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "a"), (2L, "b"), (13L, "c")))
      val t = new GraftTable(s"$wh/db/t")
      assert(t.history().take(2).map(_._2) === Seq("append", "append"))

      // _commit_version is a METADATA column: absent from SELECT *,
      // resolved on request, and correct per insert
      assert(spark.sql("SELECT * FROM gsql.db.t").schema.fieldNames.toSeq
        === Seq("id", "payload"))
      assert(spark.sql(
        "SELECT id, _commit_version FROM gsql.db.t ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        === Seq((1L, 2L), (2L, 2L), (13L, 3L)))

      // ALTER TABLE ADD COLUMNS: schema-only commit, old rows null there
      spark.sql("ALTER TABLE gsql.db.t ADD COLUMNS (score DOUBLE)")
      assert(t.history().head._2 === "addColumns")
      spark.sql("INSERT INTO gsql.db.t VALUES (20, 'u', 0.5)")
      val rows = spark.sql(
        "SELECT id, score FROM gsql.db.t ORDER BY id").collect()
      assert(rows.map(r => (r.getLong(0), Option(r.get(1)))).toSeq
        === Seq((1L, None), (2L, None), (13L, None), (20L, Some(0.5))))
      // RENAME/DROP COLUMN are schema-only commits now (column
      // mapping — ColumnMappingSpec covers them); retypes still refuse
      intercept[Exception](
        spark.sql("ALTER TABLE gsql.db.t ADD COLUMNS (id STRING)"))

      // INSERT OVERWRITE: the CAS overwrite commit replaces the contents
      spark.sql("INSERT OVERWRITE gsql.db.t VALUES (99, 'z', 1.0)")
      assert(spark.sql("SELECT id, payload, score FROM gsql.db.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        === Seq((99L, "z", 1.0)))

      // CTAS: create + append in one statement
      spark.sql("CREATE TABLE gsql.db.t2 AS SELECT id * 2 AS id2 FROM gsql.db.t")
      assert(spark.sql("SELECT id2 FROM gsql.db.t2").head().getLong(0) === 198L)

      // unfiltered COUNT/MIN/MAX still answer from the commit log alone
      val agg = spark.sql("SELECT count(*), max(id) FROM gsql.db.t")
      assert(agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        "metadata aggregate must stay zero-IO through the writable catalog table")
      assert(agg.head().getLong(0) === 1L && agg.head().getLong(1) === 99L)

      // VERSION AS OF: the pre-overwrite snapshot, with its then-current
      // schema, read-only by capability
      assert(spark.sql("SELECT id FROM gsql.db.t VERSION AS OF 5 ORDER BY id")
        .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 13L, 20L))
      assert(spark.sql("SELECT * FROM gsql.db.t VERSION AS OF 2")
        .schema.fieldNames.toSeq === Seq("id", "payload"),
        "time travel resolves the THEN-current schema (before ADD COLUMNS)")
      intercept[Exception](
        spark.sql("INSERT INTO gsql.db.t VERSION AS OF 2 VALUES (1, 'x')"))
      intercept[Exception](
        spark.sql("SELECT * FROM gsql.db.t TIMESTAMP AS OF '2026-01-01'").collect())
    } finally {
      spark.conf.unset("spark.sql.catalog.gsql")
      spark.conf.unset("spark.sql.catalog.gsql.warehouse")
    }
  }

  test("CREATE TABLE with PARTITIONED BY and TBLPROPERTIES lands both in the log") { withoutCoalesce {
    import spark.implicits._
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.gct", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gct.warehouse", wh)
    try {
      spark.sql(
        """CREATE TABLE gct.db.ev (id BIGINT, ts TIMESTAMP, s STRING)
           PARTITIONED BY (days(ts), bucket(8, id))
           TBLPROPERTIES ('cdf.enabled' = 'true', 'delete.mode' = 'merge-on-read')""")
      val t = new GraftTable(s"$wh/db/ev")
      assert(t.properties(graft.medallion.PartitionSpec.Prop)
        === "days(ts), bucket(8,id)")
      assert(t.properties("cdf.enabled") === "true")
      assert(t.properties("delete.mode") === "merge-on-read")
      assert(!t.properties.contains("provider"),
        "Spark catalog-plumbing keys must not leak into table state")
      // the spec is LIVE: clustered ingest + day pruning through SQL
      val rows = for (d <- 0L until 6L; i <- 0L until 100L)
        yield (d * 100L + i,
          new java.sql.Timestamp((19700L + d) * 86400000L + i), s"v$i")
      t.append(rows.toDF("id", "ts", "s"))
      val lo = new java.sql.Timestamp(19702L * 86400000L)
      val hi = new java.sql.Timestamp(19703L * 86400000L - 1L)
      assert(t.readRange(spark, "ts", Some(lo), Some(hi)).count() === 100L)
      assert(t.filesForRange("ts", Some(lo), Some(hi)) * 2
        <= t.snapshot().files.size,
        "the SQL-declared day spec must prune")
      // an invalid transform refuses with a clear message
      val err = intercept[Exception](spark.sql(
        "CREATE TABLE gct.db.bad (id BIGINT) PARTITIONED BY (years(id))"))
      assert(err.getMessage.contains("years") ||
        err.getMessage.contains("transform"))
      // invalid TBLPROPERTIES validate atomically: bad spec = no props
      intercept[Exception](spark.sql(
        "CREATE TABLE gct.db.bad2 (id BIGINT) " +
          "TBLPROPERTIES ('partition.spec' = 'days(nope)')"))
      assert(new GraftTable(s"$wh/db/bad2").properties.isEmpty)
    } finally {
      spark.conf.unset("spark.sql.catalog.gct")
      spark.conf.unset("spark.sql.catalog.gct.warehouse")
    }
  } }

  test("UPDATE / MERGE INTO / arbitrary-predicate DELETE via copy-on-write row-level ops") {
    import spark.implicits._
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.grl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grl.warehouse", wh)
    try {
      val t = new GraftTable(s"$wh/db/t")
      // two files with disjoint id ranges, so group pruning is observable
      t.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "s", "x").repartition(1))
      t.append(Seq((10L, "j", 100.0), (11L, "k", 110.0)).toDF("id", "s", "x").repartition(1))

      // UPDATE: only the low file's group is rewritten; the high file's
      // untouched rows — including the unmatched id=1 row — survive
      spark.sql("UPDATE grl.db.t SET x = x + 1, s = upper(s) WHERE id = 2")
      assert(spark.sql("SELECT id, s, x FROM grl.db.t ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        === Seq((1L, "a", 10.0), (2L, "B", 21.0), (10L, "j", 100.0), (11L, "k", 110.0)))
      assert(t.history().head._2 === "replace")
      assert(t.history().head._4 === 1, "only the matched file's group is removed")

      // a strict-inequality DELETE — refused by the metadata path —
      // now rewrites the affected groups instead
      spark.sql("DELETE FROM grl.db.t WHERE id > 10")
      assert(spark.sql("SELECT id FROM grl.db.t ORDER BY id").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L, 10L))
      assert(t.history().head._2 === "replace")

      // ...while an exact-range DELETE stays a metadata-only commit
      spark.sql("DELETE FROM grl.db.t WHERE id BETWEEN 10 AND 10")
      assert(t.history().head._2 === "delete")
      assert(spark.sql("SELECT count(*) FROM grl.db.t").head().getLong(0) === 2L)

      // MERGE INTO: update + insert through one group replacement.
      // A far-range file first: MERGE's join condition prunes nothing
      // at compile time, so only RUNTIME group filtering (the DPP-style
      // matching-groups subquery) keeps the untouched file out of the
      // rewrite — the 100 TB-critical path
      t.append(Seq((100L, "z", 1.0)).toDF("id", "s", "x").repartition(1))
      Seq((2L, 99.0), (7L, 70.0)).toDF("mid", "mx").createOrReplaceTempView("m_src")
      spark.sql("""MERGE INTO grl.db.t AS tgt USING m_src AS src
                   ON tgt.id = src.mid
                   WHEN MATCHED THEN UPDATE SET x = src.mx
                   WHEN NOT MATCHED THEN INSERT (id, s, x) VALUES (src.mid, 'new', src.mx)""")
      assert(spark.sql("SELECT id, s, x FROM grl.db.t ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        === Seq((1L, "a", 10.0), (2L, "B", 99.0), (7L, "new", 70.0), (100L, "z", 1.0)))
      assert(t.history().head._2 === "replace")
      assert(t.history().head._4 === 1,
        "runtime group filtering must keep the unmatched far-range file " +
          s"out of the MERGE rewrite (history: ${t.history().take(2)})")

      // provenance stays consistent after replaces: count answers from metadata
      assert(spark.sql("SELECT count(*) FROM grl.db.t").queryExecution
        .executedPlan.toString.contains("LocalTableScan"))
    } finally {
      spark.catalog.dropTempView("m_src")
      spark.conf.unset("spark.sql.catalog.grl")
      spark.conf.unset("spark.sql.catalog.grl.warehouse")
    }
  }

  test("writeStream.toTable: exactly-once DSv2 streaming appends through the txn ledger") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.gstw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstw.warehouse", wh)
    try {
      spark.sql("CREATE TABLE gstw.db.sink (id BIGINT, payload STRING)")
      val ckpt = freshWarehouse() + "/ckpt"
      val ms = MemoryStream[(Long, String)]
      val stream = ms.toDF().toDF("id", "payload")

      ms.addData(1L -> "a", 2L -> "b")
      stream.writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable("gstw.db.sink")
        .awaitTermination()
      // restart from the same checkpoint: only the new wave flows
      ms.addData(3L -> "c")
      stream.writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable("gstw.db.sink")
        .awaitTermination()

      assert(spark.sql("SELECT id FROM gstw.db.sink ORDER BY id").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
      // epochs landed as txn-ledgered streamingUpdate commits
      val t = new GraftTable(s"$wh/db/sink")
      assert(t.history().take(2).map(_._2) === Seq("streamingUpdate", "streamingUpdate"))
      assert(t.snapshot().txns.keys.exists(_.startsWith("graft-stream-")),
        "the ledger is keyed by the streaming queryId")

      // a time-traveled table refuses streaming writes by capability
      intercept[Exception](
        stream.writeStream.option("checkpointLocation", freshWarehouse())
          .toTable("gstw.db.sink VERSION AS OF 1"))
    } finally {
      spark.conf.unset("spark.sql.catalog.gstw")
      spark.conf.unset("spark.sql.catalog.gstw.warehouse")
    }
  }

  test("writeStream.toTable removes its staging directory after every epoch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.gstd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstd.warehouse", wh)
    try {
      spark.sql("CREATE TABLE gstd.db.sink (id BIGINT, payload STRING)")
      val ckpt = freshWarehouse() + "/ckpt"
      val ms = MemoryStream[(Long, String)]
      val stream = ms.toDF().toDF("id", "payload")
      def run(): Unit = stream.writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable("gstd.db.sink")
        .awaitTermination()
      ms.addData(1L -> "a", 2L -> "b")
      run()
      ms.addData(3L -> "c")
      run()
      assert(spark.sql("SELECT count(*) FROM gstd.db.sink").head().getLong(0) === 3L)
      val staged = new java.io.File(s"$wh/db/sink").listFiles()
        .map(_.getName).filter(_.startsWith("_staged_"))
      assert(staged.isEmpty, s"epochs left staging entries behind: ${staged.toSeq}")
    } finally {
      spark.conf.unset("spark.sql.catalog.gstd")
      spark.conf.unset("spark.sql.catalog.gstd.warehouse")
    }
  }

  test("a data column named _commit_version shadows the metadata column") {
    import spark.implicits._
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.gshad", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gshad.warehouse", wh)
    try {
      // a silver table that persisted a stream's provenance tag as real
      // data (the q99 shape): its OWN column must win
      new GraftTable(s"$wh/db/sv")
        .append(Seq((1L, 7L)).toDF("id", "_commit_version"))
      assert(spark.sql("SELECT * FROM gshad.db.sv").schema.fieldNames.toSeq
        === Seq("id", "_commit_version"))
      assert(spark.sql("SELECT _commit_version FROM gshad.db.sv")
        .head().getLong(0) === 7L, "the persisted data value, not the commit number")
    } finally {
      spark.conf.unset("spark.sql.catalog.gshad")
      spark.conf.unset("spark.sql.catalog.gshad.warehouse")
    }
  }

  test("deleteRange translates exactly or refuses") {
    import graft.streaming.GraftTableV2.deleteRange
    import org.apache.spark.sql.sources._
    // BETWEEN / = / one-sided ranges translate
    assert(deleteRange(Array(GreaterThanOrEqual("id", 2L), LessThanOrEqual("id", 5L)))
      === Some(Some(("id", Some(2L), Some(5L)))))
    assert(deleteRange(Array(And(GreaterThanOrEqual("id", 2L), LessThanOrEqual("id", 5L))))
      === Some(Some(("id", Some(2L), Some(5L)))))
    assert(deleteRange(Array(EqualTo("id", 3L))) === Some(Some(("id", Some(3L), Some(3L)))))
    assert(deleteRange(Array(LessThanOrEqual("ts", "2024-01-01")))
      === Some(Some(("ts", None, Some("2024-01-01")))))
    // no predicate / AlwaysTrue = truncate
    assert(deleteRange(Array.empty) === Some(None))
    assert(deleteRange(Array(new AlwaysTrue)) === Some(None))
    // inexact shapes refuse: strict, OR, IS NULL, two columns,
    // conflicting bounds
    assert(deleteRange(Array(GreaterThan("id", 2L))) === None)
    assert(deleteRange(Array(Or(EqualTo("id", 1L), EqualTo("id", 2L)))) === None)
    assert(deleteRange(Array(IsNull("id"))) === None)
    assert(deleteRange(Array(GreaterThanOrEqual("id", 2L), LessThanOrEqual("x", 5L))) === None)
    assert(deleteRange(Array(GreaterThanOrEqual("id", 2L), GreaterThanOrEqual("id", 4L))) === None)
  }
}
