package graft

import graft.medallion.{GraftTable, TxLog}
import graft.streaming.GraftCatalog
import org.apache.spark.sql.functions._

/** Row tracking (Delta row-id shape): appends assign stable virtual
  * ids from a persisted watermark; compaction / z-order / COW UPDATE
  * rewrites preserve them by materializing a physical id column; the
  * DSv2 scan serves `_row_id` = coalesce(materialized, base + index).
  */
class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): (String, String, String) = {
    val wh = new java.io.File(
      s"target/tmp/rowtrack_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath
    val cat = s"rt${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh, s"$wh/db/t")
  }

  private def dropCat(cat: String): Unit = {
    spark.conf.unset(s"spark.sql.catalog.$cat")
    spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
  }

  private def ids(cat: String): Map[Long, Long] =
    spark.sql(s"SELECT k, _row_id FROM $cat.db.t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("appends assign contiguous virtual ids from a persisted watermark") {
    val (cat, _, path) = freshTable("append")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
      val t = new GraftTable(path)
      t.append((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      t.append((10L until 15L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val got = ids(cat)
      assert(got === (0L until 15L).map(i => i -> i).toMap)
      assert(t.snapshot().rowIdWatermark === 15L)
      // the log carries per-file bases
      assert(t.snapshot().files.flatMap(_.baseRowId).sorted === Seq(0L, 10L))
    } finally dropCat(cat)
  }

  test("ids survive compact() and optimizeZorder when tracking is on") {
    val (cat, _, path) = freshTable("compact")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      (0 until 4).foreach { b =>
        t.append((0L until 50L).filter(_ % 4 == b)
          .map(i => (i, s"v$i")).toDF("k", "v").orderBy("k").coalesce(1))
      }
      val before = ids(cat)
      assert(before.size === 50 && before.values.toSeq.distinct.size === 50)

      val (nIn, _, _) = t.compact(spark)
      assert(nIn === 4)
      assert(ids(cat) === before, "compact must preserve row ids")
      // the rewrite materialized: rewritten files carry the marker
      assert(t.snapshot().files.forall(_.ridMaterialized))
      assert(t.snapshot().rowIdWatermark === 50L,
        "a row-preserving rewrite allocates nothing")

      t.optimizeZorder(spark, Seq("k"), targetFiles = 3)
      assert(ids(cat) === before, "zorder must preserve row ids")

      // another append continues the watermark, never reusing a range
      t.append(Seq((100L, "x")).toDF("k", "v"))
      val after = ids(cat)
      assert(after(100L) === 50L)
      assert((before.values.toSet intersect Set(after(100L))).isEmpty)
    } finally dropCat(cat)
  }

  test("ids survive a COW UPDATE; untouched and updated rows keep theirs") {
    val (cat, _, path) = freshTable("update")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 30L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val before = ids(cat)
      spark.sql(s"UPDATE $cat.db.t SET v = concat(v, '!') WHERE k % 5 = 0")
      val rows = spark.sql(s"SELECT k, v, _row_id FROM $cat.db.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.length === 30)
      rows.foreach { case (k, v, rid) =>
        assert(rid === before(k), s"row id of k=$k changed across UPDATE")
        assert(v === (if (k % 5 == 0) s"v$k!" else s"v$k"))
      }
    } finally dropCat(cat)
  }

  test("ids survive compact + zorder + UPDATE chained, end to end") {
    val (cat, _, path) = freshTable("chain")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 20L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      t.append((20L until 40L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val before = ids(cat)
      t.compact(spark)
      spark.sql(s"UPDATE $cat.db.t SET v = 'u' WHERE k >= 30")
      t.optimizeZorder(spark, Seq("k"), targetFiles = 2)
      assert(ids(cat) === before)
    } finally dropCat(cat)
  }

  test("MOR delete keeps surviving ids (positions advance over DV'd rows)") {
    val (cat, _, path) = freshTable("mor")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 20L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val before = ids(cat)
      t.deleteRows(spark, "k % 3 = 0")
      val after = ids(cat)
      assert(after.keySet === (0L until 20L).filter(_ % 3 != 0).toSet)
      after.foreach { case (k, rid) => assert(rid === before(k)) }
      // and a compact over the DV'd file still preserves the survivors
      t.append(Seq((99L, "y")).toDF("k", "v"))
      t.compact(spark)
      val compacted = ids(cat)
      after.foreach { case (k, rid) => assert(compacted(k) === rid) }
    } finally dropCat(cat)
  }

  test("untracked tables: appends still read ids; compact reassigns (documented)") {
    val (cat, _, path) = freshTable("untracked")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
      val t = new GraftTable(path)
      t.append((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      assert(ids(cat) === (0L until 10L).map(i => i -> i).toMap)
      t.compact(spark)
      // no materialization without the property: the rewritten file has
      // neither a rid column nor (post-compact) the original bases —
      // ids read as NULL, never as wrong values
      val post = spark.sql(s"SELECT k, _row_id FROM $cat.db.t").collect()
      assert(post.length === 10)
      assert(post.forall(_.isNullAt(1)))
    } finally dropCat(cat)
  }

  test("COW UPDATE preserves ids under SPJ bucketing confs (keyed scan yields to positional)") {
    val (cat, _, path) = freshTable("spj")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "PARTITIONED BY (bucket(4, k)) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 24L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val before = ids(cat)
      assert(before.size === 24)
      // the row-level scan requires _row_id metadata on tracked tables;
      // with bucketing confs on it would otherwise report a keyed
      // grouping whose partitions have no rid slot
      spark.sql(s"UPDATE $cat.db.t SET v = concat(v, '!') WHERE k % 6 = 0")
      val after = spark.sql(s"SELECT k, v, _row_id FROM $cat.db.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(after.length === 24)
      after.foreach { case (k, v, rid) =>
        assert(rid === before(k), s"id of k=$k changed")
        assert(v === (if (k % 6 == 0) s"v$k!" else s"v$k"))
      }
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      dropCat(cat)
    }
  }

  test("CDF update images pair by ROW ID — no merge key recorded at all") {
    val (cat, _, path) = freshTable("cdfrid")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true', 'cdf.enabled' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 20L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val v1 = t.latestVersion()
      // SQL COW UPDATE: a `replace` commit — NO merge key is recorded
      // (only upserts record one); pre-rid this commit could never pair
      spark.sql(s"UPDATE $cat.db.t SET v = concat(v, '!') WHERE k % 4 = 0")
      val feed = t.readChangeFeed(spark, v1, updateImages = true)
        .select("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val byType = feed.groupBy(_._3).view.mapValues(_.toSet).toMap
      val updatedKeys = (0L until 20L).filter(_ % 4 == 0).toSet
      assert(byType.keySet === Set("update_preimage", "update_postimage"),
        s"unpaired rows leaked: $byType")
      assert(byType("update_preimage") ===
        updatedKeys.map(k => (k, s"v$k", "update_preimage")))
      assert(byType("update_postimage") ===
        updatedKeys.map(k => (k, s"v$k!", "update_postimage")))
      // the internal pairing column never reaches the consumer schema
      val cols = t.readChangeFeed(spark, v1, updateImages = true).columns
      assert(!cols.contains("__cdc_rid"), cols.mkString(","))
      assert(t.readChangeFeed(spark, v1).columns.toSet ===
        cols.toSet) // default feed schema identical
      // and the plain feed (updateImages = false) keeps net tags
      val net = t.readChangeFeed(spark, v1)
        .select("_change_type").distinct().collect().map(_.getString(0)).toSet
      assert(net === Set("delete", "insert"))
    } finally dropCat(cat)
  }

  test("CDF rid pairing: mixed commit — updates pair, deletes and inserts stay net") {
    val (cat, _, path) = freshTable("cdfmix")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true', 'cdf.enabled' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 12L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val v1 = t.latestVersion()
      // one MERGE: updates k%3==0, deletes k in (1,7), inserts 100/101
      spark.sql(s"""MERGE INTO $cat.db.t g USING (
          SELECT * FROM VALUES (0L,'u'),(3L,'u'),(6L,'u'),(9L,'u'),
            (1L,NULL),(7L,NULL),(100L,'n'),(101L,'n') AS s(k, nv)) s
        ON g.k = s.k
        WHEN MATCHED AND s.nv IS NULL THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""")
      val feed = t.readChangeFeed(spark, v1, updateImages = true)
        .select("k", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val tags = feed.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      Seq(0L, 3L, 6L, 9L).foreach(k =>
        assert(tags(k) === Seq("update_postimage", "update_preimage"), s"k=$k: ${tags(k)}"))
      Seq(1L, 7L).foreach(k => assert(tags(k) === Seq("delete"), s"k=$k"))
      Seq(100L, 101L).foreach(k => assert(tags(k) === Seq("insert"), s"k=$k"))
    } finally dropCat(cat)
  }

  test("keyed COW upsert: updated keys keep their ids, inserts take fresh ones") {
    val (cat, _, path) = freshTable("upsert")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 20L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val before = ids(cat)
      val changes = Seq(
        (3L, "U3", false, 1L), (7L, "U7", false, 1L), // updates
        (5L, "gone", true, 1L), // delete
        (100L, "NEW", false, 1L)) // insert
        .toDF("k", "v", "_deleted", "_seq")
      t.upsert(changes, "k", "_seq")
      val after = spark.sql(s"SELECT k, v, _row_id FROM $cat.db.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val byKey = after.map(x => x._1 -> x).toMap
      assert(!byKey.contains(5L))
      assert(byKey(3L) === ((3L, "U3", before(3L))),
        "an updated key must keep its row id")
      assert(byKey(7L) === ((7L, "U7", before(7L))))
      (0L until 20L).filterNot(Set(3L, 5L, 7L)).foreach(k =>
        assert(byKey(k)._3 === before(k), s"carried key $k moved"))
      // the insert's id is FRESH — outside every previously-assigned range
      assert(byKey(100L)._3 >= 20L, s"insert id ${byKey(100L)._3} reused a range")
      assert(after.map(_._3).distinct.size === after.size, "ids must stay unique")
    } finally dropCat(cat)
  }

  test("replaceWhere: straddler survivors keep ids, replacement rows take fresh ones") {
    val (cat, _, path) = freshTable("rw")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 30L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val before = ids(cat)
      // replace the [10, 19] window with 5 fresh rows
      t.overwriteRange(spark,
        (10L until 15L).map(i => (i, s"R$i")).toDF("k", "v"),
        "k", Some(10L), Some(19L))
      val after = ids(cat)
      (0L until 10L).foreach(k => assert(after(k) === before(k), s"k=$k"))
      (20L until 30L).foreach(k => assert(after(k) === before(k), s"k=$k"))
      (10L until 15L).foreach(k =>
        assert(after(k) >= 30L, s"replacement k=$k reused id ${after(k)}"))
      assert(after.values.toSeq.distinct.size === after.size)
    } finally dropCat(cat)
  }

  test("clone carries the watermark: a clone's first append never reuses an id range") {
    val (cat, wh, path) = freshTable("clone")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      val clone = t.cloneTo(s"$wh/db/t2")
      assert(clone.snapshot().rowIdWatermark === 10L)
      clone.append(Seq((100L, "x")).toDF("k", "v"))
      val got = spark.read.format("graft-table").option("path", s"$wh/db/t2")
        .load().select(col("k")).collect()
      assert(got.length === 11)
      // the clone's own snapshot must show the append's fresh base at 10
      assert(clone.snapshot().files.flatMap(_.baseRowId).sorted === Seq(0L, 10L))
    } finally dropCat(cat)
  }

  test("log round trip: rid fields and the watermark survive a checkpoint") {
    val (cat, _, path) = freshTable("ckpt")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      t.compact(spark)
      t.checkpoint()
      val snap = t.snapshot()
      assert(snap.rowIdWatermark === 10L)
      assert(snap.files.forall(_.ridMaterialized))
      // a second checkpoint carries the advanced watermark
      t.append(Seq((10L, "z")).toDF("k", "v"))
      t.checkpoint()
      val snap2 = t.snapshot()
      assert(snap2.rowIdWatermark === 11L)
      assert(snap2.files.exists(_.baseRowId.contains(10L)))
      assert(ids(cat)(10L) === 10L)
    } finally dropCat(cat)
  }

  test("_row_id scans go COLUMNAR on DV-free tables AND across MOR deletes — same rows") {
    val (cat, _, path) = freshTable("ridcol")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 30L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      t.compact(spark) // materialized ids
      t.append((30L until 40L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1)) // virtual ids (base + index)
      def scan() = spark.sql(s"SELECT k, _row_id FROM $cat.db.t")
      def columnar(df: org.apache.spark.sql.DataFrame): Boolean = {
        df.collect() // settle AQE before reading the executed plan
        graft.plans.AdaptivePlans.collectDeep(df) {
          case c: org.apache.spark.sql.execution.ColumnarToRowExec => c
        }.nonEmpty
      }
      // DV-free: vectorized batches + the computed rid vector — and the
      // ids are exactly the materialized/virtual mix
      assert(columnar(scan()),
        "a DV-free _row_id scan must keep vectorized columnar reads")
      assert(ids(cat) === (0L until 40L).map(i => i -> i).toMap)
      // round 16: a deletion vector KEEPS the columnar path — deleted
      // rows drop out via the SelectedColumnVector remap, and survivor
      // ids never move because the rid vector is computed from
      // PHYSICAL indexes
      t.deleteRows(spark, "k = 5")
      assert(columnar(scan()),
        "a DV'd _row_id scan must stay columnar (selection remap)")
      val after = ids(cat)
      assert(!after.contains(5L))
      (0L until 40L).filter(_ != 5L).foreach(k => assert(after(k) === k))
    } finally dropCat(cat)
  }

  test("CDF rid pairing on the MOR plane: SQL MOR UPDATE/MERGE images pair with no merge key") {
    val (cat, _, path) = freshTable("cdfmorrid")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true', 'cdf.enabled' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 20L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      t.setProperty(TxLog.UpdateModeProp, TxLog.DeleteModeMor)
      t.setProperty(TxLog.MergeModeProp, TxLog.DeleteModeMor)
      val v1 = t.latestVersion()
      // SQL MOR UPDATE: a delta `replace` commit — matched rows become
      // DV entries, post-images append; NO merge key recorded. The
      // rid-aware image staging is what lets these pair.
      spark.sql(s"UPDATE $cat.db.t SET v = concat(v, '!') WHERE k % 4 = 0")
      val feed = t.readChangeFeed(spark, v1, updateImages = true)
        .select("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val byType = feed.groupBy(_._3).view.mapValues(_.toSet).toMap
      val updatedKeys = (0L until 20L).filter(_ % 4 == 0).toSet
      assert(byType.keySet === Set("update_preimage", "update_postimage"),
        s"unpaired MOR rows leaked: $byType")
      assert(byType("update_preimage") ===
        updatedKeys.map(k => (k, s"v$k", "update_preimage")))
      assert(byType("update_postimage") ===
        updatedKeys.map(k => (k, s"v$k!", "update_postimage")))
      // mixed MOR MERGE: updates pair, delete and NOT-MATCHED insert
      // (null rid) keep net tags
      val v2 = t.latestVersion()
      spark.sql(s"""MERGE INTO $cat.db.t g USING (
          SELECT * FROM VALUES (2L,'u'),(3L,NULL),(100L,'n') AS s(k, nv)) s
        ON g.k = s.k
        WHEN MATCHED AND s.nv IS NULL THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""")
      val tags = t.readChangeFeed(spark, v2, updateImages = true)
        .select("k", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(tags(2L) === Seq("update_postimage", "update_preimage"))
      assert(tags(3L) === Seq("delete"))
      assert(tags(100L) === Seq("insert"))
      // consumer schema unchanged; plain feed keeps net tags
      assert(!t.readChangeFeed(spark, v1, updateImages = true)
        .columns.contains("__cdc_rid"))
      assert(t.readChangeFeed(spark, v1).select("_change_type")
        .distinct().collect().map(_.getString(0)).toSet ===
        Set("delete", "insert"))
    } finally dropCat(cat)
  }

  test("keyed MOR upsert: updated keys keep their ids (post-images carry them)") {
    val (cat, _, path) = freshTable("morupsert")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 20L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      t.setProperty(TxLog.UpdateModeProp, TxLog.DeleteModeMor)
      val before = ids(cat)
      val changes = Seq(
        (3L, "U3", false, 1L), (7L, "U7", false, 1L), // updates
        (5L, "gone", true, 1L), // delete
        (100L, "NEW", false, 1L)) // insert
        .toDF("k", "v", "_deleted", "_seq")
      val preFiles = t.snapshot().files.map(_.path).toSet
      t.upsert(changes, "k", "_seq")
      // genuinely merge-on-read: every pre file still live, one DV'd
      val snap = t.snapshot()
      assert(preFiles.forall(p => snap.files.exists(_.path == p)),
        "MOR upsert must keep every pre-existing file live")
      val after = spark.sql(s"SELECT k, v, _row_id FROM $cat.db.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val byKey = after.map(x => x._1 -> x).toMap
      assert(!byKey.contains(5L))
      assert(byKey(3L) === ((3L, "U3", before(3L))),
        "a MOR-updated key must keep its row id (Delta contract: an " +
          "update is an update, not delete+insert, on BOTH DML planes)")
      assert(byKey(7L) === ((7L, "U7", before(7L))))
      (0L until 20L).filterNot(Set(3L, 5L, 7L)).foreach(k =>
        assert(byKey(k)._3 === before(k), s"carried key $k moved"))
      assert(byKey(100L)._3 >= 20L, s"insert id ${byKey(100L)._3} reused a range")
      assert(after.map(_._3).distinct.size === after.size, "ids must stay unique")
      // a compact then MATERIALIZES the same ids — nothing shifts
      t.compact(spark)
      val afterCompact = ids(cat)
      after.foreach { case (k, _, rid) =>
        assert(afterCompact(k) === rid, s"compact moved id of key $k") }
    } finally dropCat(cat)
  }

  test("SQL MOR UPDATE / MERGE: post-images keep ids via preserved metadata") {
    val (cat, _, path) = freshTable("mordml")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 20L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      t.setProperty(TxLog.UpdateModeProp, TxLog.DeleteModeMor)
      t.setProperty(TxLog.MergeModeProp, TxLog.DeleteModeMor)
      val before = ids(cat)
      val preFiles = t.snapshot().files.map(_.path).toSet
      spark.sql(s"UPDATE $cat.db.t SET v = upper(v) WHERE k % 5 = 0")
      assert(preFiles.forall(p => t.snapshot().files.exists(_.path == p)),
        "MOR UPDATE must keep every pre-existing file live")
      val afterU = ids(cat)
      (0L until 20L).foreach(k =>
        assert(afterU(k) === before(k),
          s"SQL MOR UPDATE moved id of key $k (updated=${k % 5 == 0})"))
      // MERGE: matched post-image keeps its id, NOT MATCHED takes fresh
      Seq((4L, "m4"), (50L, "m50")).toDF("mk", "mv")
        .createOrReplaceTempView("rt_mor_src")
      try spark.sql(
        s"""MERGE INTO $cat.db.t AS tgt USING rt_mor_src AS src
            ON tgt.k = src.mk
            WHEN MATCHED THEN UPDATE SET v = src.mv
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.mk, src.mv)""")
      finally spark.catalog.dropTempView("rt_mor_src")
      val afterM = ids(cat)
      (0L until 20L).foreach(k =>
        assert(afterM(k) === before(k), s"MERGE moved id of key $k"))
      assert(afterM(50L) >= 20L, s"MERGE insert id ${afterM(50L)} reused a range")
      assert(afterM.values.toSeq.distinct.size === afterM.size)
      // materialization sanity after the whole MOR gauntlet
      t.compact(spark)
      assert(ids(cat) === afterM, "compact after MOR DML moved ids")
    } finally dropCat(cat)
  }

  test("MOR over-threshold rewrite leg: survivors keep ids through the COW fallback") {
    val (cat, _, path) = freshTable("morover")
    try {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('rowTracking' = 'true')")
      val t = new GraftTable(path)
      t.append((0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .orderBy("k").coalesce(1))
      t.setProperty(TxLog.UpdateModeProp, TxLog.DeleteModeMor)
      val before = ids(cat)
      // update 90% of the single file — far over dv.maxFraction, so the
      // commit core routes it through the copy-on-write rewrite leg:
      // survivors (the untouched 10%) must carry their ids into the
      // rewritten file, post-images keep theirs via the keyed join
      val changes = (0L until 90L).map(i => (i, s"U$i", false, 1L))
        .toDF("k", "v", "_deleted", "_seq")
      t.upsert(changes, "k", "_seq")
      val after = ids(cat)
      (0L until 100L).foreach(k =>
        assert(after(k) === before(k),
          s"over-threshold MOR upsert moved id of key $k " +
            s"(${if (k < 90) "post-image" else "rewrite-leg survivor"})"))
      assert(after.values.toSeq.distinct.size === after.size)
    } finally dropCat(cat)
  }

  /** A row-tracked table of 200 rows in two sorted files (k 0..99 and
    * 100..199) and the ids its rows read before any rewrite. */
  private def twoFiles(tag: String): (String, GraftTable, Map[Long, Long]) = {
    val (cat, _, path) = freshTable(tag)
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('rowTracking' = 'true')")
    val t = new GraftTable(path)
    Seq(0L, 100L).foreach(lo => t.append((lo until lo + 100L)
      .map(i => (i, s"v$i")).toDF("k", "v").orderBy("k").coalesce(1)))
    (cat, t, ids(cat))
  }

  /** Exactly the `live` keys remain, each with the id it had in
    * `before` (a lost id reads null). */
  private def assertIdsKept(cat: String, before: Map[Long, Long], live: Set[Long]): Unit = {
    val after = spark.sql(s"SELECT k, _row_id FROM $cat.db.t").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(after.keySet === live)
    val lost = live.filterNot(k => after(k).contains(before(k)))
    assert(lost.size === 0, s"of ${live.size} surviving rows")
  }

  test("purgeDeletes keeps surviving ids") {
    val (cat, t, before) = twoFiles("purge")
    try {
      t.deleteRows(spark, "k = 5")
      assert(t.purgeDeletes(spark)._1 === 1)
      assert(t.snapshot().files.forall(_.dv.isEmpty))
      assertIdsKept(cat, before, before.keySet - 5L)
    } finally dropCat(cat)
  }

  test("range delete: straddler survivors keep their ids") {
    val (cat, t, before) = twoFiles("rangedel")
    try {
      assert(t.delete(spark, "k", Some(110L), Some(120L))._2 === 1,
        "the second file straddles the range and must be rewritten")
      assertIdsKept(cat, before, before.keySet.filterNot(k => k >= 110L && k <= 120L))
    } finally dropCat(cat)
  }

  test("deleteRows over-threshold rewrite: survivors keep their ids") {
    val (cat, t, before) = twoFiles("delover")
    try {
      assert(t.deleteRows(spark, "k >= 100 AND k < 180")._2 === 1,
        "80% of the second file is over dv.maxFraction: it must be rewritten")
      assertIdsKept(cat, before, before.keySet.filterNot(k => k >= 100L && k < 180L))
    } finally dropCat(cat)
  }

  /** A table whose files disagree on id info: k 0..9 compacted while
    * untracked (no ids), then k 10..19 appended (virtual ids 10..19),
    * then tracking turned on. */
  private def mixedIds(tag: String): (String, GraftTable) = {
    val (cat, _, path) = freshTable(tag)
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
    val t = new GraftTable(path)
    t.append((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v").orderBy("k").coalesce(1))
    t.compact(spark)
    t.append((10L until 20L).map(i => (i, s"v$i")).toDF("k", "v").orderBy("k").coalesce(1))
    t.setProperty(TxLog.RowTrackingProp, "true")
    assert(t.snapshot().files.count(a => a.baseRowId.isEmpty && !a.ridMaterialized) === 1)
    (cat, t)
  }

  /** Every live key's id (None = null). */
  private def idsOpt(cat: String): Map[Long, Option[Long]] =
    spark.sql(s"SELECT k, _row_id FROM $cat.db.t").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap

  test("one untracked touched file does not cost tracked rows their ids: overwriteRange") {
    val (cat, t) = mixedIds("mixrw")
    try {
      t.overwriteRange(spark,
        (5L until 15L).map(i => (i, s"R$i")).toDF("k", "v"), "k", Some(5L), Some(14L))
      val after = idsOpt(cat)
      (15L until 20L).foreach(k =>
        assert(after(k) === Some(k), s"tracked survivor k=$k moved"))
      // untracked survivors and replacement rows take fresh ids
      (0L until 15L).foreach(k =>
        assert(after(k).exists(_ >= 20L), s"k=$k has id ${after(k)}"))
      assert(after.values.flatten.toSeq.distinct.size === 20)
    } finally dropCat(cat)
  }

  test("one untracked touched file does not cost tracked rows their ids: copy-on-write upsert") {
    val (cat, t) = mixedIds("mixcow")
    try {
      t.upsert(Seq((3L, "U3", false, 1L), (12L, "U12", false, 1L))
        .toDF("k", "v", "_deleted", "_seq"), "k", "_seq")
      assert(t.snapshot().files.forall(_.dv.isEmpty))
      val after = idsOpt(cat)
      (10L until 20L).foreach(k =>
        assert(after(k) === Some(k), s"tracked key k=$k moved"))
      (0L until 10L).foreach(k =>
        assert(after(k).exists(_ >= 20L), s"k=$k has id ${after(k)}"))
      assert(after.values.flatten.toSeq.distinct.size === 20)
    } finally dropCat(cat)
  }

  test("one untracked touched file does not cost tracked rows their ids: merge-on-read upsert") {
    val (cat, t) = mixedIds("mixmor")
    try {
      t.setProperty(TxLog.UpdateModeProp, TxLog.DeleteModeMor)
      t.upsert(Seq((3L, "U3", false, 1L), (12L, "U12", false, 1L))
        .toDF("k", "v", "_deleted", "_seq"), "k", "_seq")
      assert(t.snapshot().files.count(_.dv.isDefined) === 2, "both files DV'd in place")
      val after = idsOpt(cat)
      (10L until 20L).foreach(k =>
        assert(after(k) === Some(k), s"tracked key k=$k moved"))
      // the untracked file's rows stay id-less in place; the updated
      // key's post-image takes a fresh id
      assert(after(3L).exists(_ >= 20L), s"k=3 has id ${after(3L)}")
    } finally dropCat(cat)
  }

  test("protocol: the enable commit gates by the 'rowTracking' reader feature; plain tables stay protocol-free") {
    val (cat, _, path) = freshTable("protocol")
    try {
      // a plain table's appends carry rid/hwm info fields but NO
      // protocol line — format-bump confinement (virtual ids are
      // assigned on every table; only the property makes them served)
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
      val t = new GraftTable(path)
      t.append(Seq((1L, "a")).toDF("k", "v"))
      val logDir = new java.io.File(path, "_graft_log")
      def commitText(v: Long): String = {
        val f = new java.io.File(logDir, "%020d.json".format(v))
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      }
      assert(!commitText(2L).contains("protocol"),
        "an append on an untracked table must not grow a protocol line")
      // enabling rowTracking emits the feature by NAME — a pre-tracking
      // reader fails loudly there instead of silently dropping the
      // watermark in a checkpoint and corrupting rid-based CDF pairing
      t.setProperty(TxLog.RowTrackingProp, "true")
      val enable = commitText(t.latestVersion())
      assert(enable.contains("\"rowTracking\"") &&
        enable.contains("readerFeatures"),
        s"the enable commit must gate by feature name, got: $enable")
      // a checkpoint's meta carries the property too, so truncated logs
      // stay gated
      t.append(Seq((2L, "b")).toDF("k", "v"))
      t.checkpoint()
      val cp = logDir.listFiles()
        .filter(_.getName.endsWith(".checkpoint.json")).maxBy(_.getName)
      val cpText = new String(
        java.nio.file.Files.readAllBytes(cp.toPath), "UTF-8")
      assert(cpText.contains("\"rowTracking\""),
        "checkpoint meta must carry the rowTracking gate")
    } finally dropCat(cat)
  }
}
