package graft

import graft.medallion.GraftTable
import graft.streaming.SelectedColumnVector
import org.apache.spark.sql.functions._

/** Columnar deletion-vector serving (round 16): a DV'd file no longer
  * degrades the scan to row-at-a-time reads — the vectorized parquet
  * batches pass through with deleted rows dropped by a zero-copy
  * [[SelectedColumnVector]] index remap, batches with no deleted bit
  * pass through untouched, and clean sibling files keep their pushed-
  * filter split-parallel fast path. These specs pin the remap against
  * the exact hazards of the design: batch-boundary deletions at the
  * 4096-row vectorized batch edges, wholly-deleted batches (zero-row
  * ColumnarBatch), nested struct/array access through the final
  * `getStruct`/`getChild` upstream path, and equality with the row
  * path's answer on the same table. */
class DvColumnarScanSpec extends SparkSpec {

  private def freshRoot() = new java.io.File(
    s"target/tmp/dvcol_${java.util.UUID.randomUUID().toString.take(8)}")

  /** The DSv2 connector read — the path whose partition planning
    * serves DVs columnar (the Scala-API `t.read()` plans the same scan
    * over a pinned file list). */
  private def dsv2(t: GraftTable) =
    spark.read.format("graft-table").option("path", t.tablePath).load()

  private def columnar(df: org.apache.spark.sql.DataFrame): Boolean = {
    val scans = graft.plans.AdaptivePlans.collectDeep(df) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    scans.nonEmpty && scans.forall(_.supportsColumnar)
  }

  private def dvPartitions(df: org.apache.spark.sql.DataFrame): Int =
    graft.plans.AdaptivePlans.collectDeep(df) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.map(_.inputPartitions.count(
      _.isInstanceOf[graft.streaming.GraftIdxPartition])).sum

  test("batch-boundary deletions: edges of every 4096-row vectorized batch survive the remap") {
    val root = freshRoot()
    val t = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    import spark.implicits._
    val n = 10000L
    t.append((0L until n).map(i => (i, s"p$i")).toDF("id", "payload")
      .orderBy("id").coalesce(1))
    // positions flanking both batch boundaries (4096, 8192), the file
    // edges, and an interior run — DV row positions == id here (one
    // sorted file)
    val del = Set(0L, 1L, 4094L, 4095L, 4096L, 4097L, 8191L, 8192L,
      5000L, 5001L, 5002L, 9998L, 9999L)
    t.deleteRows(spark, s"id IN (${del.mkString(",")})")
    val q = dsv2(t).select("id", "payload")
    assert(dvPartitions(q) === 1, "the DV'd file must plan as a columnar DV partition")
    assert(columnar(q), "a DV'd scan must stay columnar")
    val got = q.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet === (0L until n).filterNot(del).toSet)
    got.foreach { case (i, p) => assert(p === s"p$i") }
  }

  test("a wholly-deleted batch serves as a zero-row ColumnarBatch; sparse batches pass through") {
    val root = freshRoot()
    val t = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    import spark.implicits._
    t.append((0L until 10000L).map(i => (i, i * 2)).toDF("id", "v")
      .orderBy("id").coalesce(1))
    // the entire second vectorized batch [4096, 8192) plus one sparse
    // row in the first — first and third batches exercise the sparse
    // and untouched paths, the middle one the m=0 batch
    t.deleteRows(spark, "(id >= 4096 AND id < 8192) OR id = 7")
    val q = dsv2(t)
    assert(columnar(q) && dvPartitions(q) === 1)
    assert(q.count() === 10000L - 4096L - 1L)
    assert(q.agg(sum("v")).head.getLong(0) ===
      (0L until 10000L).filterNot(i => (i >= 4096 && i < 8192) || i == 7)
        .map(_ * 2).sum)
  }

  test("nested struct + array columns read correctly through the selection remap") {
    val root = freshRoot()
    val t = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    import spark.implicits._
    val df = spark.range(0, 6000, 1, 1).select(
      col("id"),
      struct(col("id").as("a"), concat(lit("s"), col("id")).as("b")).as("st"),
      array(col("id"), col("id") * 10).as("ar"))
    t.append(df)
    t.deleteRows(spark, "id % 3 = 0") // dense: every batch remaps
    val q = dsv2(t).select("id", "st.a", "st.b", "ar")
    assert(columnar(q), "nested projection over a DV'd file must stay columnar")
    val rows = q.collect()
    assert(rows.length === 4000)
    rows.foreach { r =>
      val i = r.getLong(0)
      assert(i % 3 != 0)
      assert(r.getLong(1) === i && r.getString(2) === s"s$i")
      assert(r.getSeq[Long](3) === Seq(i, i * 10))
    }
  }

  test("clean sibling files keep pushed filters and splits while the DV'd file rides along") {
    val root = freshRoot()
    val t = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    import spark.implicits._
    t.append((0L until 1000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .orderBy("id").coalesce(1)) // file 1 — will carry the DV
    t.append((1000L until 2000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .orderBy("id").coalesce(1)) // file 2 — stays clean
    t.deleteRows(spark, "id = 500")
    val q = dsv2(t).filter(col("id") >= 400L && col("id") < 1600L)
      .select("id")
    assert(columnar(q))
    // the clean file's partitions still come from the pushed-filter
    // parquet scan (row-group skipping active); the DV'd partition is
    // filter-free — semantics are identical either way because the
    // residual filter above the scan owns row selection
    assert(q.collect().map(_.getLong(0)).toSet ===
      (400L until 1600L).filterNot(_ == 500L).toSet)
  }

  test("pushed filter + DV + _row_id compose through idx partitions: exact survivors, stable ids") {
    // the late-round-16 positional re-base: the generated row-index
    // column keeps positions exact under pushed filters, so a filtered
    // rid scan over a DV'd file must return exactly the in-range
    // survivors with their ORIGINAL ids
    // _row_id is a metadata column of the CATALOG plane (path reads
    // expose provenance via the appended _commit_version data column
    // instead), so this test goes through a GraftCatalog table
    val wh = new java.io.File(
      s"target/tmp/dvcolrid_${java.util.UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath
    val cat = s"dvc${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.streaming.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, payload STRING) " +
      "TBLPROPERTIES ('rowTracking' = 'true')")
    val t = new GraftTable(s"$wh/db/t")
    t.append((0L until 20000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .orderBy("id").coalesce(1))
    t.compact(spark) // materialize ids
    t.deleteRows(spark, "id % 7 = 3")
    val q = spark.sql(s"SELECT id, _row_id FROM $cat.db.t " +
      "WHERE id >= 5000 AND id < 15000")
    assert(columnar(q) && dvPartitions(q) === 1)
    val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (5000L until 15000L).filterNot(_ % 7 == 3)
    assert(got.keySet === expect.toSet)
    // ids were materialized by the compact in file order == id order
    expect.foreach(i => assert(got(i) === i,
      s"survivor $i must keep its original row id, got ${got(i)}"))
    spark.conf.unset(s"spark.sql.catalog.$cat")
    spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
  }

  test("a positional file SPLITS across partitions; generated indexes stay file-absolute") {
    // force multi-split planning on a small file and prove the
    // generated row indexes (hence _row_id and DV application) are
    // file-absolute, not split-relative
    val wh = new java.io.File(
      s"target/tmp/dvcolsplit_${java.util.UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath
    val cat = s"dvs${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.streaming.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, payload STRING) " +
      "TBLPROPERTIES ('rowTracking' = 'true')")
    val t = new GraftTable(s"$wh/db/t")
    t.append((0L until 50000L).map(i => (i, s"payload-$i-" + "x" * 40))
      .toDF("id", "payload").orderBy("id").coalesce(1))
    t.deleteRows(spark, "id % 11 = 5")
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
      val q = spark.sql(s"SELECT id, _row_id FROM $cat.db.t")
      assert(dvPartitions(q) > 1,
        "a file several times maxPartitionBytes must plan multiple splits")
      assert(columnar(q))
      val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = (0L until 50000L).filterNot(_ % 11 == 5)
      assert(got.keySet === expect.toSet)
      // virtual ids = base(0) + file-absolute index = id (sorted file):
      // a split-relative index would shift every id after split 1
      expect.foreach(i => assert(got(i) === i,
        s"row $i id must be file-absolute, got ${got(i)}"))
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("a table exactly spark.sql.codegen.maxFields wide reads and compacts with a DV'd and a clean file") {
    // the idx projection is one column wider than the plain one: at the
    // field limit the plain delegate alone would read columnar, and a
    // scan may not mix columnar and row partitions
    val width = spark.conf.get("spark.sql.codegen.maxFields").toInt
    val root = freshRoot()
    val t = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi, 1, 1)
      .select((0 until width).map(c => (col("id") + c).as(s"c$c")): _*)
    t.append(rows(0L, 500L))
    t.append(rows(500L, 1000L))
    t.deleteRows(spark, "c0 < 500 AND c0 % 7 = 3")
    assert(t.snapshot().files.count(_.dv.isDefined) === 1)
    val live = (0L until 1000L).filterNot(i => i < 500L && i % 7 == 3)
    def check(what: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.collect()
      got.foreach { r =>
        val c0 = r.getAs[Long]("c0")
        assert(r.getAs[Long](s"c${width - 1}") === c0 + width - 1, what)
      }
      assert(got.map(_.getAs[Long]("c0")).sorted.toSeq === live, what)
    }
    check("t.read", t.read(spark))
    check("format(graft-table)", dsv2(t))
    t.compact(spark)
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    check("after compact", t.read(spark))
  }

  /** Broadcasts created while `body` runs: each delegated parquet
    * reader factory broadcasts the Hadoop conf, each stage its task
    * binary. */
  private def broadcasts(body: => Unit): Long = {
    val before = spark.sparkContext.broadcast(0).id
    body
    spark.sparkContext.broadcast(0).id - before - 1
  }

  test("one reader factory per scan: broadcasts no more than GraftTable.read") {
    val root = freshRoot()
    val t = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    import spark.implicits._
    (0 until 4).foreach { f =>
      t.append((0L until 4000L).map(i => (f * 4000L + i, s"p$i")).toDF("id", "payload")
        .coalesce(1))
    }
    // a hash the commit log cannot answer: the scan must really run
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(hash(col("id"), col("payload"))))
    def compare(what: String): Unit = {
      val viaScan = broadcasts(digest(dsv2(t)).collect())
      val viaRead = broadcasts(digest(t.read(spark)).collect())
      info(s"$what: $viaScan broadcasts through the scan, $viaRead through GraftTable.read")
      assert(viaScan <= viaRead,
        s"$what: the scan broadcast $viaScan times, GraftTable.read $viaRead")
    }
    compare("DV-free")
    assert(broadcasts(digest(dsv2(t)).queryExecution.executedPlan) === 1,
      "planning a DV-free scan builds exactly one reader factory")
    // one of the four files DV'd: clean and DV'd files in one scan
    t.deleteRows(spark, "id < 4000 AND id % 97 = 3")
    compare("with a deletion vector")
  }

  test("two reads of the same files reuse one exchange: equal scans have equal batches") {
    val root = freshRoot()
    val t = new GraftTable(new java.io.File(root, "tbl").getAbsolutePath)
    import spark.implicits._
    t.append((0L until 2000L).map(i => (i, i % 7)).toDF("id", "k").coalesce(1))
    t.deleteRows(spark, "id % 5 = 0")
    def counts = t.read(spark).groupBy("k").count()
    val q = counts.as("a").join(counts.as("b"), "k")
    assert(q.collect().length === 7)
    val reused = graft.plans.AdaptivePlans.collectDeep(q) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }
    assert(reused.nonEmpty, "the second read's exchange must reuse the first's")
  }

  test("SelectedColumnVector unit: remap over a struct-of-array vector incl. nulls") {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.types._
    val base = new OnHeapColumnVector(8, LongType)
    (0 until 8).foreach { i =>
      if (i == 3) base.putNull(i) else base.putLong(i, i * 100L)
    }
    val sel = Array(1, 3, 6)
    val v = new SelectedColumnVector(base, sel)
    assert(v.getLong(0) === 100L)
    assert(v.isNullAt(1))
    assert(v.getLong(2) === 600L)
    base.close()
  }
}
