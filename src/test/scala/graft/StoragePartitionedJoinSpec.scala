package graft

import graft.medallion.{GraftTable, PartitionSpec, TxLog}
import graft.plans.AdaptivePlans
import graft.streaming.GraftCatalog
import org.apache.spark.sql.functions._

/** Storage-partitioned joins (SPARK-37375, the Iceberg SPJ design):
  * two graft tables bucketed on the join key via `partition.spec =
  * bucket(n, col)` report `KeyGroupedPartitioning` keyed by the
  * catalog's V2 `bucket` function, and Spark co-locates their
  * partitions — the join plans with ZERO shuffle exchanges. At 100 TB
  * this is THE join: co-bucketed fact tables join at scan parallelism
  * with no exchange of either side.
  *
  * Every zero-shuffle assertion here goes through
  * [[AdaptivePlans.shuffleCount]] (plain `executedPlan.collect` is
  * VACUOUS under AQE — `AdaptiveSparkPlanExec` is a leaf to
  * `TreeNode.collect`) and is paired with a NEGATIVE CONTROL: the
  * same query with `v2.bucketing.enabled=false` must count ≥ 1
  * join-key exchange, proving the checker can see shuffles at all. */
class StoragePartitionedJoinSpec extends SparkSpec {
  import spark.implicits._

  private def freshWarehouse(): String =
    new java.io.File(
      s"target/tmp/spj_${java.util.UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    AdaptivePlans.shuffleCount(df)

  private def withConfs(confs: Seq[(String, String)])(body: => Unit): Unit = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val common = Seq(
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ/shuffle shape
    "spark.sql.adaptive.enabled" -> "true")

  private def withSpj(body: => Unit): Unit =
    withConfs(("spark.sql.sources.v2.bucketing.enabled" -> "true") +: common)(body)

  /** SPJ disabled, everything else identical — the negative control. */
  private def withSpjOff(body: => Unit): Unit =
    withConfs(("spark.sql.sources.v2.bucketing.enabled" -> "false") +: common)(body)

  test("co-bucketed graft tables join with zero shuffle exchanges") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spj", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spj.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      val b = new GraftTable(s"$wh/db/b")
      a.append(Seq((0L, "seed")).toDF("id", "av"))
      b.append(Seq((0L, -1.0)).toDF("id", "bv"))
      a.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      b.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      a.append((1L until 500L).map(i => (i, s"a$i")).toDF("id", "av"))
      b.append((1L until 800L).map(i => (i, i * 2.0)).toDF("id", "bv"))
      // seed files predate the spec (no bucket stats) — compact so the
      // whole live set is spec-clustered and single-valued per bucket
      a.compact(spark, targetFileMB = 128)
      b.compact(spark, targetFileMB = 128)
      // write-side integrity: after spec-clustered writes + compact,
      // every live file is single-valued on the bucket transform
      for (t <- Seq(a, b); f <- t.snapshot().files)
        assert(PartitionSpec.tupleSignature(f).values.forall(_.isDefined),
          s"file ${f.path} straddles the bucket tuple: ${f.stats}")

      def q = spark.sql(
        "SELECT x.id, x.av, y.bv FROM spj.db.a x JOIN spj.db.b y ON x.id = y.id")
      withSpj {
        val n = shuffles(q)
        assert(n === 0,
          s"co-bucketed join must plan without exchanges, found $n shuffles")
      }
      // NEGATIVE CONTROL: same query, SPJ off — the checker must see
      // the join-key exchanges it asserts the absence of above
      withSpjOff {
        assert(AdaptivePlans.shufflesOn(q, "id").nonEmpty,
          "negative control: with v2 bucketing off the join must " +
            "exchange on the join key — if this is 0 the checker is blind")
      }
      // rows identical with and without SPJ
      val joined = spark.sql(
        """SELECT x.id, x.av, y.bv
           FROM spj.db.a x JOIN spj.db.b y ON x.id = y.id
           ORDER BY x.id""")
      val expect = ((1L until 500L).map(i => (i, s"a$i", i * 2.0)) :+
        ((0L, "seed", -1.0))).sortBy(_._1)
      withSpj {
        assert(joined.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq === expect)
      }
      assert(joined.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        === expect, "non-SPJ plan agrees")
    } finally {
      spark.conf.unset("spark.sql.catalog.spj")
      spark.conf.unset("spark.sql.catalog.spj.warehouse")
    }
  }

  test("the V2 bucket function matches the write-side transform exactly") {
    import org.apache.spark.sql.graft.GraftBucketFunction
    import org.apache.spark.sql.types._
    val boundL = GraftBucketFunction.bind(new StructType()
      .add("n", IntegerType).add("k", LongType))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    val boundS = GraftBucketFunction.bind(new StructType()
      .add("n", IntegerType).add("k", StringType))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    // oracle: Spark's own pmod(xxhash64(col), n) — the write side
    val rows = spark.range(0, 1000)
      .select(col("id"), concat(lit("k"), col("id")).as("s"))
      .select(col("id"), col("s"),
        pmod(xxhash64(col("id")), lit(16L)).as("bl"),
        pmod(xxhash64(col("s")), lit(16L)).as("bs"))
      .collect()
    rows.foreach { r =>
      val viaL = boundL.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(16, r.getLong(0)))
      assert(viaL.intValue() === r.getLong(2).toInt,
        s"long key ${r.getLong(0)}")
      val viaS = boundS.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(16,
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1))))
      assert(viaS.intValue() === r.getLong(3).toInt,
        s"string key ${r.getString(1)}")
    }
  }

  test("GROUP BY the bucket key aggregates without an exchange too") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjg.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      a.append(Seq((0L, 0.0)).toDF("id", "x"))
      a.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      a.append((0L until 400L).flatMap(i => Seq((i, 1.0), (i, 2.0)))
        .toDF("id", "x"))
      a.compact(spark, targetFileMB = 128)
      def agg = spark.sql(
        "SELECT id, sum(x) AS sx FROM spjg.db.a GROUP BY id")
      withSpj {
        val n = shuffles(agg)
        assert(n === 0,
          s"a bucket-key GROUP BY must aggregate in place, found $n shuffles")
        assert(agg.count() === 400L)
        assert(spark.sql(
          "SELECT sx FROM (SELECT id, sum(x) AS sx FROM spjg.db.a GROUP BY id) WHERE id = 7")
          .head().getDouble(0) === 3.0)
      }
      withSpjOff {
        assert(AdaptivePlans.shufflesOn(agg, "id").nonEmpty,
          "negative control: bucketing off must shuffle the GROUP BY")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjg")
      spark.conf.unset("spark.sql.catalog.spjg.warehouse")
    }
  }

  test("a window over the bucket key ranks without an exchange: keep-best dedup in place") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjwin", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjwin.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      a.append(Seq((0L, 0L, 0.0)).toDF("id", "v", "x"))
      a.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      // three versions per key; keep-best = highest x, tie-broken by v
      a.append((0L until 300L).flatMap(i =>
        Seq((i, 1L, 1.0), (i, 2L, 3.0), (i, 3L, 2.0))).toDF("id", "v", "x"))
      // launder the pre-spec seed file (no bucket stats) into the spec
      a.compact(spark, targetFileMB = 128)
      def best = spark.sql(
        """SELECT id, v, x FROM (SELECT *, row_number() OVER
             (PARTITION BY id ORDER BY x DESC, v) rn FROM spjwin.db.a)
           WHERE rn = 1""")
      withSpj {
        val n = shuffles(best)
        assert(n === 0,
          s"a bucket-key window must rank on the scan grouping, found $n shuffles")
        assert(best.count() === 300L)
        // every surviving row is the x=3.0 / v=2 version
        assert(best.where("x <> 3.0 OR v <> 2").count() === 0L)
      }
      withSpjOff {
        assert(AdaptivePlans.shufflesOn(best, "id").nonEmpty,
          "negative control: bucketing off must shuffle the window")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjwin")
      spark.conf.unset("spark.sql.catalog.spjwin.warehouse")
    }
  }

  test("pruned buckets on one side: pushPartValues keeps the join exact") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjp.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      val b = new GraftTable(s"$wh/db/b")
      a.append(Seq((0L, "z")).toDF("id", "av"))
      b.append(Seq((0L, 0.0)).toDF("id", "bv"))
      a.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      b.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      a.append((1L until 300L).map(i => (i, s"a$i")).toDF("id", "av"))
      b.append((1L until 300L).map(i => (i, i * 1.0)).toDF("id", "bv"))
      a.compact(spark, targetFileMB = 128)
      b.compact(spark, targetFileMB = 128)
      withSpj {
        // a selective filter on ONE side prunes whole bucket files
        // there; the join over mismatched partition counts must stay
        // exact (Spark's partially-clustered handling)
        val j = spark.sql(
          """SELECT x.id, y.bv FROM spjp.db.a x JOIN spjp.db.b y
             ON x.id = y.id WHERE x.id BETWEEN 10 AND 20""")
        assert(j.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
          === (10L to 20L).map(i => (i, i * 1.0)).toSet)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjp")
      spark.conf.unset("spark.sql.catalog.spjp.warehouse")
    }
  }

  test("deletion vectors keep SPJ: composite row partitions skip positions in place") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjx", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjx.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      a.append(Seq((0L, "seed")).toDF("id", "v"))
      a.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      a.setProperty(TxLog.DeleteModeProp, TxLog.DeleteModeMor)
      a.append((1L until 200L).map(i => (i, s"v$i")).toDF("id", "v"))
      a.compact(spark, targetFileMB = 128)
      a.deleteRows(spark, "id = 77 OR id = 130") // DVs, zero rewrites
      assert(a.snapshot().files.exists(_.dv.isDefined))
      def self = spark.sql(
        "SELECT x.id FROM spjx.db.a x JOIN spjx.db.a y ON x.id = y.id")
      withSpj {
        val n = shuffles(self)
        assert(n === 0,
          s"a DV'd co-bucketed self-join must stay exchange-free, got $n")
        assert(self.count() === 198L, "deleted rows must not join back")
        assert(spark.sql(
          "SELECT count(*) FROM spjx.db.a x JOIN spjx.db.a y ON x.id = y.id " +
            "WHERE x.id IN (77, 130)").head().getLong(0) === 0L)
      }
      withSpjOff {
        assert(AdaptivePlans.shufflesOn(self, "id").nonEmpty,
          "negative control: bucketing off must exchange the self-join")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjx")
      spark.conf.unset("spark.sql.catalog.spjx.warehouse")
    }
  }

  test("MOR UPDATE post-images stay bucket-pure; the zero-shuffle join survives DML") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjm.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      a.append(Seq((0L, 0.0)).toDF("id", "x"))
      a.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      a.setProperty(TxLog.UpdateModeProp, TxLog.DeleteModeMor)
      a.append((1L until 400L).map(i => (i, i * 1.0)).toDF("id", "x"))
      a.compact(spark, targetFileMB = 128)
      // a MOR UPDATE appends post-image files — the bucket-splitting
      // writer keeps even those single-valued, so SPJ survives DML
      spark.sql("UPDATE spjm.db.a SET x = -1.0 WHERE id IN (5, 200)")
      def self = spark.sql(
        "SELECT x.id, y.x FROM spjm.db.a x JOIN spjm.db.a y ON x.id = y.id")
      withSpj {
        assert(self.count() === 400L)
        assert(spark.sql(
          "SELECT count(*) FROM spjm.db.a x JOIN spjm.db.a y ON x.id = y.id " +
            "WHERE y.x = -1.0").head().getLong(0) === 2L)
      }
      // compaction launders the DV and re-clusters by the bucket
      // tuple — the zero-shuffle plan holds after the full DML cycle
      a.compact(spark, targetFileMB = 128)
      assert(a.snapshot().files.forall(_.dv.isEmpty))
      def keys = spark.sql(
        "SELECT x.id FROM spjm.db.a x JOIN spjm.db.a y ON x.id = y.id")
      withSpj {
        val n = shuffles(keys)
        assert(n === 0,
          s"post-compaction the co-bucketed join must be exchange-free: $n")
        assert(keys.count() === 400L)
      }
      withSpjOff {
        assert(AdaptivePlans.shufflesOn(keys, "id").nonEmpty,
          "negative control: bucketing off must exchange the join")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjm")
      spark.conf.unset("spark.sql.catalog.spjm.warehouse")
    }
  }

  test("composite days+bucket spec: the fact-table join plans zero shuffles") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjc.warehouse", wh)
    try {
      def tsOf(day: Long, ms: Long) =
        new java.sql.Timestamp(day * 86400000L + ms)
      val a = new GraftTable(s"$wh/db/a")
      val b = new GraftTable(s"$wh/db/b")
      a.append(Seq((0L, tsOf(19700L, 0L), "seed")).toDF("id", "ts", "av"))
      b.append(Seq((0L, tsOf(19700L, 0L), -1.0)).toDF("id", "ts", "bv"))
      a.setProperty(PartitionSpec.Prop, "days(ts), bucket(4,id)")
      b.setProperty(PartitionSpec.Prop, "days(ts), bucket(4,id)")
      def rows(n: Long) = (1L until n).map(i =>
        (i, tsOf(19700L + i % 5L, (i % 7) * 1000L)))
      a.append(rows(400).map { case (i, ts) => (i, ts, s"a$i") }
        .toDF("id", "ts", "av"))
      b.append(rows(600).map { case (i, ts) => (i, ts, i * 2.0) }
        .toDF("id", "ts", "bv"))
      a.compact(spark, targetFileMB = 128)
      b.compact(spark, targetFileMB = 128)
      for (t <- Seq(a, b); f <- t.snapshot().files)
        assert(PartitionSpec.tupleSignature(f).values.forall(_.isDefined),
          s"file ${f.path} straddles the composite tuple: ${f.stats}")

      // join keys COVER the partition tuple (ts -> days, id -> bucket):
      // both sides co-locate on (day, bucket) with zero exchanges
      def q = spark.sql(
        """SELECT x.id, x.av, y.bv FROM spjc.db.a x JOIN spjc.db.b y
           ON x.id = y.id AND x.ts = y.ts""")
      withSpj {
        val n = shuffles(q)
        assert(n === 0,
          s"composite co-partitioned join must plan without exchanges: $n")
        val got = q.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
        val expect = ((1L until 400L).map(i => (i, s"a$i", i * 2.0)) :+
          ((0L, "seed", -1.0))).toSet
        assert(got === expect)
      }
      withSpjOff {
        assert(AdaptivePlans.shufflesOn(q, "id").nonEmpty,
          "negative control: bucketing off must exchange the composite join")
      }
      // join keys a SUBSET of the partition tuple (id only): Spark's
      // partially-clustered handling keeps it exchange-free under
      // allowJoinKeysSubsetOfPartitionKeys
      withConfs(("spark.sql.sources.v2.bucketing.enabled" -> "true") +:
        ("spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled" -> "true") +:
        common) {
        val sub = spark.sql(
          """SELECT x.id, y.bv FROM spjc.db.a x JOIN spjc.db.b y
             ON x.id = y.id AND x.ts = y.ts""")
        assert(shuffles(sub) === 0)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjc")
      spark.conf.unset("spark.sql.catalog.spjc.warehouse")
    }
  }

  test("streaming toTable epochs stage bucket-pure files: SPJ holds without compaction") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjs", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjs.warehouse", wh)
    try {
      spark.sql("CREATE TABLE spjs.db.sink (id BIGINT, v STRING)")
      val a = new GraftTable(s"$wh/db/sink")
      a.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      val ckpt = freshWarehouse() + "/ckpt"
      val ms = MemoryStream[(Long, String)]
      ms.addData((0L until 200L).map(i => (i, s"v$i")): _*)
      ms.toDF().toDF("id", "v").writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable("spjs.db.sink")
        .awaitTermination()
      // the streaming epoch's fanout writer staged one file per live
      // bucket per task — every file single-valued, NO compact needed
      assert(a.snapshot().files.nonEmpty)
      for (f <- a.snapshot().files)
        assert(PartitionSpec.tupleSignature(f).values.forall(_.isDefined),
          s"streamed file ${f.path} straddles the bucket: ${f.stats}")
      def self = spark.sql(
        "SELECT x.id FROM spjs.db.sink x JOIN spjs.db.sink y ON x.id = y.id")
      withSpj {
        val n = shuffles(self)
        assert(n === 0,
          s"a freshly-streamed co-bucketed self-join must be exchange-free: $n")
        assert(self.count() === 200L)
      }
      withSpjOff {
        assert(AdaptivePlans.shufflesOn(self, "id").nonEmpty,
          "negative control: bucketing off must exchange the self-join")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjs")
      spark.conf.unset("spark.sql.catalog.spjs.warehouse")
    }
  }

  test("streaming lifecycle: continuous epochs + MOR DML + autoCompact keep SPJ; a spec change degrades, compact restores") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjlc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjlc.warehouse", wh)
    try {
      // co-bucketed dim, batch-written + compacted
      val d = new GraftTable(s"$wh/db/dim")
      d.append(Seq((0L, "seed")).toDF("id", "nm").limit(0))
      d.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      d.append((0L until 300L).map(i => (i, s"n$i")).toDF("id", "nm"))
      d.compact(spark, targetFileMB = 128)
      // fact: CONTINUOUS ingest through the graft-table sink with
      // auto-compaction on, MOR delete + MOR upsert interleaved
      // BETWEEN epochs — the full maintenance lifecycle, no manual
      // compact anywhere before the join assertion
      val t = new GraftTable(s"$wh/db/fact")
      t.append(Seq((0L, 0.0)).toDF("id", "v").limit(0))
      t.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      t.setProperty(TxLog.UpdateModeProp, "merge-on-read")
      val ckpt = freshWarehouse() + "/ckpt"
      val ms = MemoryStream[(Long, Double)]
      val q = ms.toDF().toDF("id", "v").writeStream
        .format("graft-table").option("path", s"$wh/db/fact")
        .option("checkpointLocation", ckpt)
        .option("autoCompact", "true")
        .option("autoCompactMinFiles", "2")
        .start()
      ms.addData((1L until 100L).map(i => (i, i * 1.0)): _*)
      q.processAllAvailable()
      // merge-on-read delete (deletion vectors) mid-stream
      t.deleteRows(spark, "id % 10 = 3")
      // merge-on-read upsert mid-stream: re-price every 7th id (incl.
      // re-inserting deleted 63 and brand-new 0), insert 100..119
      t.upsert(
        ((0L until 100L by 7).map(i => (i, -1.0, 1L, false)) ++
          (100L until 120L).map(i => (i, i * 2.0, 1L, false)))
          .toDF("id", "v", "_seq", "_deleted"), "id", "_seq")
      ms.addData((120L until 200L).map(i => (i, i * 1.0)): _*)
      q.processAllAvailable()
      q.stop()
      // the auto-compaction actually ran (sub-target merge commits)
      assert(t.history().exists(_._2 == "compact"),
        "autoCompact must have committed at least one small-file merge")
      // ingest + DV deletes + MOR post-images + autoCompact alone left
      // every live file tuple-pure — SPJ eligibility never needed a
      // manual compact
      for (f <- t.snapshot().files)
        assert(PartitionSpec.tupleSignature(f).values.forall(_.isDefined),
          s"lifecycle left a straddling file ${f.path}: ${f.stats}")
      def join = spark.sql(
        """SELECT f.id, f.v, d.nm FROM spjlc.db.fact f
           JOIN spjlc.db.dim d ON f.id = d.id""")
      val expect: Map[Long, Double] =
        ((1L until 100L).filterNot(_ % 10 == 3).map(i => i -> i * 1.0).toMap) ++
          (0L until 100L by 7).map(i => i -> -1.0).toMap ++
          (100L until 120L).map(i => i -> i * 2.0).toMap ++
          (120L until 200L).map(i => i -> i * 1.0).toMap
      withSpj {
        assert(shuffles(join) === 0,
          "post-lifecycle the co-bucketed join must plan zero exchanges")
        val rows = join.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(rows === expect, "row semantics must survive the lifecycle")
      }
      withSpjOff {
        assert(AdaptivePlans.shufflesOn(join, "id").nonEmpty,
          "negative control: bucketing off must exchange the join")
      }
      // DEGRADATION: a bucket-count change (4 → 8) re-reads the same
      // files under a spec they carry no stats for — the keyed report
      // soundly drops and planning falls back to exchanges...
      t.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      d.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      withSpj {
        assert(shuffles(join) > 0,
          "a spec the files don't satisfy must degrade to shuffled " +
            "planning — 0 means the eligibility gate is broken")
        assert(join.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
          === expect, "degraded planning must not change rows")
      }
      // ...and RESTORE: one compaction per table re-clusters under the
      // new spec; the join is exchange-free again
      t.compact(spark, targetFileMB = 128)
      d.compact(spark, targetFileMB = 128)
      withSpj {
        assert(shuffles(join) === 0,
          "after re-clustering compaction the bucket(8) join must be " +
            "exchange-free again")
        assert(join.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
          === expect)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjlc")
      spark.conf.unset("spark.sql.catalog.spjlc.warehouse")
    }
  }

  test("SQL COW UPDATE rewrites stay bucket-pure: SPJ holds straight through DML") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjw.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      a.append(Seq((0L, 0.0)).toDF("id", "x"))
      a.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      a.append((1L until 300L).map(i => (i, i * 1.0)).toDF("id", "x"))
      a.compact(spark, targetFileMB = 128)
      // copy-on-write UPDATE (default mode): the group-replace rewrite
      // stages through the DSv2 writer, whose fanout splitter keeps
      // every rewritten file single-valued on the bucket
      spark.sql("UPDATE spjw.db.a SET x = -5.0 WHERE id IN (3, 250)")
      for (f <- a.snapshot().files)
        assert(PartitionSpec.tupleSignature(f).values.forall(_.isDefined),
          s"COW-rewritten file ${f.path} straddles the bucket: ${f.stats}")
      def self = spark.sql(
        "SELECT x.id, y.x FROM spjw.db.a x JOIN spjw.db.a y ON x.id = y.id")
      withSpj {
        val n = shuffles(self)
        assert(n === 0,
          s"post-UPDATE the co-bucketed self-join must be exchange-free: $n")
        assert(self.count() === 300L)
        assert(spark.sql(
          "SELECT count(*) FROM spjw.db.a WHERE x = -5.0").head().getLong(0) === 2L)
      }
      withSpjOff {
        assert(AdaptivePlans.shufflesOn(self, "id").nonEmpty,
          "negative control: bucketing off must exchange the self-join")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjw")
      spark.conf.unset("spark.sql.catalog.spjw.warehouse")
    }
  }

  test("co-bucketed MERGE plans zero key exchanges yet keeps runtime group pruning") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjmg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjmg.warehouse", wh)
    try {
      val t = new GraftTable(s"$wh/db/t")
      val s = new GraftTable(s"$wh/db/s")
      t.append(Seq((0L, 0.0)).toDF("id", "x"))
      s.append(Seq((0L, 123.0)).toDF("id", "x"))
      t.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      s.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      // write-ordered like q151: the compacted buckets report their
      // file order, so the rewrite SMJ consumes it sort-free
      t.setProperty("write.orderBy", "id")
      s.setProperty("write.orderBy", "id")
      t.append((1L until 500L).map(i => (i, i * 1.0)).toDF("id", "x"))
      s.append((498L until 700L).map(i => (i, i * -1.0)).toDF("id", "x"))
      t.compact(spark, targetFileMB = 128)
      s.compact(spark, targetFileMB = 128)
      val filesBefore = t.snapshot().files.size
      val merge =
        """MERGE INTO spjmg.db.t AS tgt USING spjmg.db.s AS src
           ON tgt.id = src.id
           WHEN MATCHED THEN UPDATE SET x = src.x
           WHEN NOT MATCHED THEN INSERT (id, x) VALUES (src.id, src.x)"""
      // node-based checker over the EXECUTED command plan (q151's
      // checker): spark.sql on DML is eager; the result's executedPlan
      // is a CommandResultExec leaf AdaptivePlans descends through
      def keyExchanges(df: org.apache.spark.sql.DataFrame): Int =
        AdaptivePlans.shufflesOn(df.queryExecution.executedPlan, "id")
          .count(_.outputPartitioning.toString.contains("hashpartitioning"))
      // NEGATIVE CONTROL first (the merge mutates): an identical pair
      // with bucketing off must show the checker ≥1 key exchange and
      // ≥2 SMJ input sorts — execute on clones so state is untouched
      withSpjOff {
        val t2 = new GraftTable(s"$wh/db/t2")
        val s2 = new GraftTable(s"$wh/db/s2")
        t2.append(Seq((0L, 0.0)).toDF("id", "x"))
        s2.append(Seq((0L, 123.0)).toDF("id", "x"))
        t2.setProperty(PartitionSpec.Prop, "bucket(8,id)")
        s2.setProperty(PartitionSpec.Prop, "bucket(8,id)")
        t2.append((1L until 500L).map(i => (i, i * 1.0)).toDF("id", "x"))
        s2.append((498L until 700L).map(i => (i, i * -1.0)).toDF("id", "x"))
        val ctl = spark.sql(merge.replace("spjmg.db.t", "spjmg.db.t2")
          .replace("spjmg.db.s", "spjmg.db.s2"))
        assert(keyExchanges(ctl) >= 1,
          "negative control: bucketing off must exchange the rewrite join")
        assert(AdaptivePlans.smjInputSorts(ctl.queryExecution.executedPlan) >= 2,
          "negative control: bucketing off must sort both SMJ inputs")
        assert(AdaptivePlans.localSortsOn(
            ctl.queryExecution.executedPlan, "id").size >= 2,
          "negative control: the command-plan local-sort counter must " +
            "see the SMJ input sorts — 0/1 means q151's checker is blind")
      }
      withSpj {
        // both the FullOuter rewrite join and the LeftSemi
        // matching-groups subquery ride the keyed scans
        val merged = spark.sql(merge)
        assert(keyExchanges(merged) === 0,
          "the co-bucketed MERGE must execute without a key exchange")
        assert(AdaptivePlans.smjInputSorts(merged.queryExecution.executedPlan) === 0,
          "the co-bucketed MERGE join must consume the scans' order")
        // exact post-merge state: 0 matched (123.0), 1..497 carried,
        // 498/499 matched (-i), 500..699 inserted (-i)
        val rows = spark.sql("SELECT id, x FROM spjmg.db.t ORDER BY id").collect()
        assert(rows.length === 700)
        rows.foreach { r =>
          val (i, x) = (r.getLong(0), r.getDouble(1))
          val want = if (i == 0L) 123.0 else if (i < 498L) i * 1.0 else i * -1.0
          assert(x === want, s"id $i")
        }
        // runtime group filtering survived the keyed report: only the
        // files provably holding matched ids (498/499) were replaced,
        // not every candidate file
        val (_, op, _, nRemoved) = t.history().head
        assert(op === "replace")
        assert(nRemoved < filesBefore,
          s"matching-groups pruning must keep non-matching files out " +
            s"of the rewrite (replaced $nRemoved of $filesBefore)")
        // the fanout rewrite kept every file tuple-pure: SPJ holds
        assert(shuffles(spark.sql(
          "SELECT id, sum(x) sx FROM spjmg.db.t GROUP BY id")) === 0)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjmg")
      spark.conf.unset("spark.sql.catalog.spjmg.warehouse")
    }
  }

  test("keyed scans serve _commit_version: per-file provenance identical with SPJ on and off") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjv.warehouse", wh)
    try {
      val t = new GraftTable(s"$wh/db/t")
      t.append(Seq((0L, 0.0)).toDF("id", "x"))
      t.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      t.append((1L until 100L).map(i => (i, i * 1.0)).toDF("id", "x"))
      t.compact(spark, targetFileMB = 128)
      t.append((100L until 200L).map(i => (i, i * 1.0)).toDF("id", "x"))
      def read() = spark.sql(
        "SELECT id, x, _commit_version FROM spjv.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      var spjOn: Seq[(Long, Double, Long)] = null
      withSpj {
        // the provenance-tagged scan stays keyed (version-carrying row
        // partitions): a GROUP BY the bucket key over it is exchange-free
        assert(shuffles(spark.sql(
          """SELECT id, max(_commit_version) v FROM spjv.db.t GROUP BY id"""))
          === 0)
        spjOn = read()
      }
      var spjOff: Seq[(Long, Double, Long)] = null
      withSpjOff { spjOff = read() }
      assert(spjOn === spjOff)
      assert(spjOn.map(_._3).distinct.size === 2,
        "two append commits must surface as two distinct versions")
    } finally {
      spark.conf.unset("spark.sql.catalog.spjv")
      spark.conf.unset("spark.sql.catalog.spjv.warehouse")
    }
  }

  test("skewed tuple: per-file keyed partitions let partial clustering split the big bucket") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjk.warehouse", wh)
    try {
      val big = new GraftTable(s"$wh/db/big")
      val dim = new GraftTable(s"$wh/db/dim")
      big.append(Seq((0L, 0.0)).toDF("id", "x"))
      dim.append(Seq((0L, "z")).toDF("id", "nm"))
      big.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      dim.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      // fold the pre-spec seeds into tuple-pure files, THEN pile on
      // uncompacted appends
      big.compact(spark, targetFileMB = 128)
      dim.compact(spark, targetFileMB = 128)
      // five appends -> >= 5 files in the hot bucket (no re-compact):
      // key 1 hashes to ONE bucket and carries most rows
      (0 until 5).foreach { w =>
        big.append(((w * 200) until (w * 200 + 200))
          .map(i => (1L, i * 1.0)).toDF("id", "x")
          .unionAll(Seq((2L + w.toLong, -1.0)).toDF("id", "x")))
      }
      dim.append((1L until 7L).map(i => (i, s"n$i")).toDF("id", "nm"))
      def q = spark.sql(
        """SELECT b.id, d.nm, b.x FROM spjk.db.big b JOIN spjk.db.dim d
           ON b.id = d.id""")
      withConfs(Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "true")) {
        val n = shuffles(q)
        assert(n === 0,
          s"partially-clustered SPJ must stay exchange-free: $n")
        assert(q.count() === 5L * 200L + 5L + 1L)
        // the hot tuple's files spread across MORE scan tasks than the
        // tuple count — the skew-split partial clustering exists for
        val scans = AdaptivePlans.collectDeep(q) {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
        val bigScan = scans.find(_.toString.contains("db/big")).get
        val tuples = bigScan.inputPartitions.map {
          case h: org.apache.spark.sql.connector.read.HasPartitionKey =>
            h.partitionKey().toString
        }.distinct.size
        assert(bigScan.outputPartitioning.numPartitions > tuples,
          s"expected the skewed bucket split beyond $tuples tuple groups, " +
            s"got ${bigScan.outputPartitioning.numPartitions}")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjk")
      spark.conf.unset("spark.sql.catalog.spjk.warehouse")
    }
  }

  test("a straddling (pre-spec, uncompacted) file degrades to normal planning") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjy", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjy.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      // the seed predates the spec: no bucket stats -> not single-valued
      a.append((0L until 50L).map(i => (i, s"s$i")).toDF("id", "v").coalesce(1))
      a.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      a.append((50L until 100L).map(i => (i, s"v$i")).toDF("id", "v"))
      assert(a.snapshot().files.exists(f =>
        PartitionSpec.tupleSignature(f).isEmpty ||
          PartitionSpec.tupleSignature(f).values.exists(_.isEmpty)),
        "precondition: the pre-spec seed file must lack a single-valued tuple")
      withSpj {
        val self = spark.sql(
          "SELECT x.id FROM spjy.db.a x JOIN spjy.db.a y ON x.id = y.id")
        // correct rows; planning falls back to exchanges — and the
        // checker must SEE them (this doubles as a repo-wide negative
        // control for the zero-shuffle assertions above)
        assert(self.count() === 100L)
        val n = shuffles(self)
        assert(n > 0,
          "an ineligible scan must fall back to shuffled planning; " +
            "0 here means the shuffle checker is blind")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjy")
      spark.conf.unset("spark.sql.catalog.spjy.warehouse")
    }
  }

  test("write-ordered co-bucketed tables: the join plans zero exchanges AND zero sorts") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjo", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjo.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      val b = new GraftTable(s"$wh/db/b")
      val u = new GraftTable(s"$wh/db/u") // co-bucketed but UNORDERED
      for (t <- Seq(a, b, u)) {
        t.append(Seq((0L, 0.0)).toDF("id", "v"))
        t.setProperty(PartitionSpec.Prop, "bucket(8,id)")
      }
      a.setProperty(TxLog.WriteOrderProp, "id")
      b.setProperty(TxLog.WriteOrderProp, "id")
      // deliberately UNSORTED ingest order — the writer must sort
      val rows = scala.util.Random.shuffle((1L until 600L).toList)
      a.append(rows.map(i => (i, i * 1.0)).toDF("id", "v"))
      b.append(rows.map(i => (i, i * 2.0)).toDF("id", "v"))
      u.append(rows.map(i => (i, i * 3.0)).toDF("id", "v"))
      for (t <- Seq(a, b, u)) t.compact(spark, targetFileMB = 128)

      // every live file of the ordered tables carries the marker…
      for (t <- Seq(a, b); f <- t.snapshot().files)
        assert(f.stats.get(TxLog.SortedKey).exists(_.min == "id"),
          s"file ${f.path} lacks the sorted marker: ${f.stats.keySet}")
      // …and is PHYSICALLY monotone on id (one read per file)
      for (f <- a.snapshot().files) {
        val ids = spark.read.parquet(a.absoluteDataPath(f))
          .select("id").as[Long].collect()
        assert(ids.sameElements(ids.sorted),
          s"file ${f.path} is not locally sorted on id")
      }
      // the unordered table must NOT be stamped
      assert(u.snapshot().files.forall(_.stats.get(TxLog.SortedKey).isEmpty),
        "a table without write.orderBy must not stamp sorted markers")

      def join(l: String, r: String) = spark.sql(
        s"SELECT x.id, x.v, y.v AS w FROM spjo.db.$l x JOIN spjo.db.$r y ON x.id = y.id")
      withSpj {
        val q = join("a", "b")
        assert(shuffles(q) === 0, "ordered co-bucketed join must not exchange")
        assert(AdaptivePlans.localSortsOn(q, "id").isEmpty,
          s"ordered co-bucketed join must not SORT either side:\n${AdaptivePlans.finalPlan(q)}")
        // NEGATIVE CONTROL for the sort checker: one unordered side →
        // the SMJ must sort it, and localSortsOn must SEE that sort
        val c = join("a", "u")
        assert(shuffles(c) === 0, "control join stays exchange-free (both bucketed)")
        assert(AdaptivePlans.localSortsOn(c, "id").nonEmpty,
          "negative control: an unordered scan side must be sorted — " +
            "0 here means the sort checker is blind")
        // rows identical to a plain computed join
        val got = join("a", "b").orderBy("id").collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        val want = (0L until 600L).map(i => (i, i * 1.0, i * 2.0)).toArray
        assert(got.sameElements(want))
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjo")
      spark.conf.unset("spark.sql.catalog.spjo.warehouse")
    }
  }

  test("multi-file tuples drop the ordering report (Spark's 1-partition-per-key guard); rows stay correct") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjm2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjm2.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      val b = new GraftTable(s"$wh/db/b")
      for (t <- Seq(a, b)) {
        // schema-only seed: a pre-spec DATA file would (correctly)
        // disqualify the whole scan — that degradation has its own test
        t.append(Seq((0L, 0.0)).toDF("id", "v").limit(0))
        t.setProperty(PartitionSpec.Prop, "bucket(4,id)")
        t.setProperty(TxLog.WriteOrderProp, "id")
      }
      // TWO appends, NO compact: each bucket holds ≥ 2 sorted files —
      // the concatenation of two sorted files is not sorted, and
      // Spark's own outputOrdering guard must drop the report (each
      // grouped key partition has > 1 input partition)
      a.append((1L until 200L).map(i => (i, i * 1.0)).toDF("id", "v"))
      a.append((200L until 400L).map(i => (i, i * 1.0)).toDF("id", "v"))
      b.append((1L until 400L).map(i => (i, i * 2.0)).toDF("id", "v"))
      b.compact(spark, targetFileMB = 128)
      withSpj {
        val q = spark.sql(
          "SELECT x.id, y.v FROM spjm2.db.a x JOIN spjm2.db.b y ON x.id = y.id")
        assert(shuffles(q) === 0, "still exchange-free: grouping is unaffected")
        assert(AdaptivePlans.localSortsOn(q, "id").nonEmpty,
          "a multi-file tuple must be re-sorted — dropping the report " +
            "is Spark's guard, and the join must still sort that side")
        assert(q.count() === 399L)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjm2")
      spark.conf.unset("spark.sql.catalog.spjm2.warehouse")
    }
  }

  test("write-ordered MERGE: zero key sorts in the rewrite plan; rewritten files stay stamped and sorted") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjod", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjod.warehouse", wh)
    try {
      val t = new GraftTable(s"$wh/db/t")
      val s = new GraftTable(s"$wh/db/s")
      for (x <- Seq(t, s)) {
        x.append(Seq((0L, 0.0)).toDF("id", "v").limit(0))
        x.setProperty(PartitionSpec.Prop, "bucket(4,id)")
        x.setProperty(TxLog.WriteOrderProp, "id")
      }
      val rows = scala.util.Random.shuffle((1L until 400L).toList)
      t.append(rows.map(i => (i, i * 1.0)).toDF("id", "v"))
      s.append(scala.util.Random.shuffle((200L until 600L).toList)
        .map(i => (i, i * -1.0)).toDF("id", "v"))
      t.compact(spark, targetFileMB = 128)
      s.compact(spark, targetFileMB = 128)
      val merge =
        """MERGE INTO spjod.db.t AS tgt USING spjod.db.s AS src
           ON tgt.id = src.id
           WHEN MATCHED THEN UPDATE SET v = src.v
           WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)"""
      withSpj {
        val plan = spark.sql(s"EXPLAIN FORMATTED $merge").head().getString(0)
        assert("hashpartitioning\\([^)]*id".r.findAllIn(plan).isEmpty,
          s"write-ordered co-bucketed MERGE must not exchange on the key:\n$plan")
        // the rewrite FullOuter SMJ must consume the scans' reported
        // order: the ONE remaining local key sort is the WRITE's own
        // declared ordering (RequiresDistributionAndOrdering) directly
        // above MergeRows — the sort that keeps rewritten files
        // stamped-sorted — and neither join input is sorted
        assert("\\bid#[^\\]\\n]*NULLS FIRST\\], false".r.findAllIn(plan).length === 1,
          s"exactly the write's own sort must remain:\n$plan")
        assert("Sort \\(\\d+\\)\\n\\s*\\+- MergeRows".r.findAllIn(plan).nonEmpty,
          s"the surviving sort must be the write's, above MergeRows:\n$plan")
        assert("SortMergeJoin[^\\n]*\\n\\s*:- Sort".r.findAllIn(plan).isEmpty,
          s"the rewrite join must not sort its inputs:\n$plan")
        // negative control for the sort pattern: bucketing off -> the
        // same MERGE must both exchange and locally sort on the key
        withSpjOff {
          val off = spark.sql(s"EXPLAIN FORMATTED $merge").head().getString(0)
          assert("hashpartitioning\\([^)]*id".r.findAllIn(off).nonEmpty,
            "control: bucketing off must exchange on the key")
          assert("\\bid#[^\\]\\n]*NULLS FIRST\\], false".r.findAllIn(off).length >= 2,
            "control: bucketing off must locally sort BOTH SMJ inputs " +
              "(beyond the write's own sort) — the sort pattern is blind otherwise")
          assert("SortMergeJoin[^\\n]*\\n\\s*:- Sort".r.findAllIn(off).nonEmpty,
            "control: bucketing off must place a Sort under the join's left input")
        }
        spark.sql(merge)
      }
      // post-DML: EVERY live file keeps/gains the sorted stamp (the COW
      // write declared the ordering, replaceFiles stamped the rewrites)
      // and is PHYSICALLY monotone — zero-sort joins survive DML
      for (f <- t.snapshot().files) {
        assert(f.stats.get(TxLog.SortedKey).exists(_.min == "id"),
          s"post-merge file ${f.path} lost the sorted stamp")
        val ids = spark.read.parquet(t.absoluteDataPath(f))
          .select("id").as[Long].collect()
        assert(ids.sameElements(ids.sorted),
          s"post-merge file ${f.path} is not locally sorted")
      }
      // merged content is exact
      val got = spark.sql("SELECT id, v FROM spjod.db.t ORDER BY id")
        .as[(Long, Double)].collect()
      val want = ((1L until 200L).map(i => (i, i * 1.0)) ++
        (200L until 600L).map(i => (i, i * -1.0))).toArray
      assert(got.sameElements(want))
      // and once compacted back to one file per bucket, the join plans
      // with zero sorts again — no recompaction was needed for the
      // STAMP, only for the one-file-per-tuple grouping
      t.compact(spark, targetFileMB = 128)
      withSpj {
        val q = spark.sql(
          "SELECT x.id, y.v FROM spjod.db.t x JOIN spjod.db.s y ON x.id = y.id")
        assert(shuffles(q) === 0)
        assert(AdaptivePlans.localSortsOn(q, "id").isEmpty,
          s"post-DML post-compact join must stay zero-sort:\n${AdaptivePlans.finalPlan(q)}")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjod")
      spark.conf.unset("spark.sql.catalog.spjod.warehouse")
    }
  }

  test("MOR write-ordered MERGE: insert files stamped sorted, DV'd originals keep their marker; DELETE declares no ordering") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjom", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjom.warehouse", wh)
    try {
      val t = new GraftTable(s"$wh/db/t")
      t.append(Seq((0L, 0.0)).toDF("id", "v").limit(0))
      t.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      t.setProperty(TxLog.WriteOrderProp, "id")
      t.setProperty(TxLog.MergeModeProp, TxLog.DeleteModeMor)
      t.setProperty(TxLog.DeleteModeProp, TxLog.DeleteModeMor)
      t.append(scala.util.Random.shuffle((1L until 300L).toList)
        .map(i => (i, i * 1.0)).toDF("id", "v"))
      t.compact(spark, targetFileMB = 128)
      withSpj {
        (Seq((5L, -5.0), (700L, -7.0), (701L, -8.0)))
          .toDF("id", "v").createOrReplaceTempView("mor_src")
        spark.sql(
          """MERGE INTO spjom.db.t AS tgt USING mor_src AS src
             ON tgt.id = src.id
             WHEN MATCHED THEN UPDATE SET v = src.v
             WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)""")
      }
      val files = t.snapshot().files
      assert(files.exists(_.dv.isDefined), "precondition: MOR left a DV")
      for (f <- files) {
        assert(f.stats.get(TxLog.SortedKey).exists(_.min == "id"),
          s"post-MOR-merge file ${f.path} lacks the sorted stamp " +
            "(inserts must be stamped by the delta commit; DV'd " +
            "originals keep their original stats)")
        val ids = spark.read.parquet(t.absoluteDataPath(f))
          .select("id").as[Long].collect()
        assert(ids.sameElements(ids.sorted))
      }
      // a pure DELETE carries no data columns: the delta write must
      // declare NO ordering (resolution would fail) and still work
      withSpj { spark.sql("DELETE FROM spjom.db.t WHERE id = 7") }
      val left = spark.sql("SELECT id FROM spjom.db.t ORDER BY id")
        .as[Long].collect()
      assert(!left.contains(7L) && left.contains(6L) && left.contains(700L))
    } finally {
      spark.conf.unset("spark.sql.catalog.spjom")
      spark.conf.unset("spark.sql.catalog.spjom.warehouse")
    }
  }

  test("streaming toTable lands SORTED epochs under write.orderBy: stamped files, zero-sort join after compaction") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjso", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjso.warehouse", wh)
    try {
      spark.sql("CREATE TABLE spjso.db.sink (id BIGINT, v DOUBLE)")
      val a = new GraftTable(s"$wh/db/sink")
      a.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      a.setProperty(TxLog.WriteOrderProp, "id")
      val ckpt = freshWarehouse() + "/ckpt"
      val ms = MemoryStream[(Long, Double)]
      // deliberately SHUFFLED input — the write's declared ordering is
      // what must sort each epoch task, not the source
      ms.addData(scala.util.Random.shuffle((0L until 300L).toList)
        .map(i => (i, i * 1.0)): _*)
      ms.toDF().toDF("id", "v").writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable("spjso.db.sink")
        .awaitTermination()
      // every epoch file carries the effective-sort stamp (spec source
      // == order column here, so it reads "id") and is PHYSICALLY
      // monotone — streaming CDC ingest lands query-optimal
      assert(a.snapshot().files.nonEmpty)
      for (f <- a.snapshot().files) {
        assert(f.stats.get(TxLog.SortedKey).exists(_.min == "id"),
          s"streamed file ${f.path} lacks the sorted stamp: ${f.stats.keySet}")
        val ids = spark.read.parquet(a.absoluteDataPath(f))
          .select("id").as[Long].collect()
        assert(ids.sameElements(ids.sorted),
          s"streamed file ${f.path} is not locally sorted")
      }
      // compacted to one file per bucket, the self-join plans with zero
      // exchanges AND zero sorts straight off the streamed data
      a.compact(spark, targetFileMB = 128)
      def self = spark.sql(
        "SELECT x.id, y.v FROM spjso.db.sink x JOIN spjso.db.sink y ON x.id = y.id")
      withSpj {
        assert(shuffles(self) === 0)
        assert(AdaptivePlans.localSortsOn(self, "id").isEmpty,
          s"streamed+compacted ordered table must join zero-sort:\n${AdaptivePlans.finalPlan(self)}")
        assert(self.count() === 300L)
      }
      withSpjOff {
        assert(AdaptivePlans.localSortsOn(self, "id").nonEmpty,
          "negative control: bucketing off must sort the self-join inputs")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjso")
      spark.conf.unset("spark.sql.catalog.spjso.warehouse")
    }
  }

  test("multi-column write.orderBy (key,seq): keep-first dedup window ranks with zero exchanges AND zero sorts") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjw2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjw2.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      a.append(Seq((0L, 0L, 0.0)).toDF("id", "seq", "v").limit(0))
      a.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      a.setProperty(TxLog.WriteOrderProp, "id,seq")
      // three versions per key, shuffled — the writer sorts (id, seq)
      a.append(scala.util.Random.shuffle(
        (1L until 200L).flatMap(i => Seq(0L, 1L, 2L).map(s => (i, s, i + s / 10.0)))
          .toList).toDF("id", "seq", "v"))
      a.compact(spark, targetFileMB = 128)
      for (f <- a.snapshot().files)
        assert(f.stats.get(TxLog.SortedKey).exists(_.min == "id,seq"),
          s"file ${f.path} must carry the two-column stamp: ${f.stats.keySet}")
      // keep-FIRST (earliest seq wins): the window's required ordering
      // (id, seq) is exactly the scans' reported order — the rank runs
      // with NO exchange and NO sort at any scale
      def q = spark.sql(
        """SELECT id, v FROM (
             SELECT id, v, row_number() OVER (PARTITION BY id ORDER BY seq) AS rn
             FROM spjw2.db.a) WHERE rn = 1""")
      withSpj {
        assert(shuffles(q) === 0,
          s"bucket-key window must not exchange:\n${AdaptivePlans.finalPlan(q)}")
        assert(AdaptivePlans.localSortsOn(q, "id").isEmpty &&
            AdaptivePlans.localSortsOn(q, "seq").isEmpty,
          s"write-ordered (id,seq) must satisfy the window's sort:\n${AdaptivePlans.finalPlan(q)}")
        val got = q.orderBy("id").as[(Long, Double)].collect().toSeq
        assert(got === (1L until 200L).map(i => (i, i + 0.0)))
      }
      withSpjOff {
        assert(AdaptivePlans.localSortsOn(q, "seq").nonEmpty,
          "negative control: bucketing off must sort for the window")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjw2")
      spark.conf.unset("spark.sql.catalog.spjw2.warehouse")
    }
  }

  test("write.orderBy survives column ops honestly: rename keeps stamps true under the new name; drop disables sorting without crashing") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjren", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjren.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      a.append(Seq((0L, 0.0)).toDF("id", "v").limit(0))
      a.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      a.setProperty(TxLog.WriteOrderProp, "id")
      a.append(scala.util.Random.shuffle((1L until 200L).toList)
        .map(i => (i, i * 1.0)).toDF("id", "v"))
      // RENAME the order column: the stamp names the PHYSICAL column,
      // which rename never changes — old files stay truthfully stamped,
      // and the scan reports the order under the NEW logical name
      a.renameColumn("id", "uid")
      a.compact(spark, targetFileMB = 128)
      for (f <- a.snapshot().files)
        assert(f.stats.get(TxLog.SortedKey).isDefined,
          s"post-rename compaction must keep files stamped: ${f.stats.keySet}")
      def q = spark.sql(
        """SELECT x.uid, x.v FROM spjren.db.a x
           JOIN spjren.db.a y ON x.uid = y.uid""")
      withSpj {
        assert(shuffles(q) === 0, "bucket grouping survives the rename")
        assert(AdaptivePlans.localSortsOn(q, "uid").isEmpty,
          s"the report must resolve under the renamed column:\n${AdaptivePlans.finalPlan(q)}")
        assert(q.count() === 199L)
      }
      // DROP the order column: subsequent appends must neither crash
      // nor stamp (there is nothing left to sort by)
      a.addColumns(Seq(org.apache.spark.sql.types.StructField(
        "w", org.apache.spark.sql.types.DoubleType))) // widen so uid is droppable
      a.unsetProperty(PartitionSpec.Prop) // the spec guards its source from drops
      a.dropColumn("uid")
      val before = a.snapshot().files.map(_.path).toSet
      a.append(Seq((9.0, 9.0)).toDF("v", "w"))
      val fresh = a.snapshot().files.filterNot(f => before.contains(f.path))
      assert(fresh.nonEmpty && fresh.forall(_.stats.get(TxLog.SortedKey).isEmpty),
        "an append after dropping the order column must not stamp")
    } finally {
      spark.conf.unset("spark.sql.catalog.spjren")
      spark.conf.unset("spark.sql.catalog.spjren.warehouse")
    }
  }

  test("the sorted stamp survives checkpointing: a fresh handle still plans zero-sort joins") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjck", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjck.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      a.append(Seq((0L, 0.0)).toDF("id", "v").limit(0))
      a.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      a.setProperty(TxLog.WriteOrderProp, "id")
      a.append((1L until 300L).map(i => (i, i * 1.0)).toDF("id", "v"))
      a.compact(spark, targetFileMB = 128)
      a.checkpoint()
      // a fresh handle resolves through the checkpoint bytes — the
      // __s$order marker must ride the generic per-add stats there,
      // same as the __p$ tuple signatures
      val b = new GraftTable(s"$wh/db/a")
      for (f <- b.snapshot().files)
        assert(f.stats.get(TxLog.SortedKey).exists(_.min == "id"),
          s"marker lost through checkpoint: ${f.stats.keySet}")
      def q = spark.sql(
        "SELECT x.id FROM spjck.db.a x JOIN spjck.db.a y ON x.id = y.id")
      withSpj {
        assert(shuffles(q) === 0)
        assert(AdaptivePlans.localSortsOn(q, "id").isEmpty,
          s"post-checkpoint join must stay zero-sort:\n${AdaptivePlans.finalPlan(q)}")
        assert(q.count() === 299L)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjck")
      spark.conf.unset("spark.sql.catalog.spjck.warehouse")
    }
  }

  test("a stale write.orderBy column cannot false-stamp DML rewrites: stamps equal the DECLARED prefix") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjst", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjst.warehouse", wh)
    try {
      val a = new GraftTable(s"$wh/db/a")
      a.append(Seq((0L, 0L, 0.0)).toDF("id", "seq", "v").limit(0))
      a.setProperty(PartitionSpec.Prop, "bucket(4,id)")
      a.setProperty(TxLog.WriteOrderProp, "id,seq")
      a.append((1L until 100L).map(i => (i, i % 3, i * 1.0)).toDF("id", "seq", "v"))
      // rename the SECOND order column: the property's "seq" goes stale.
      // The declared prefix is now just ["id"] — and since the row-level
      // write sorts only what it declares, the commit must stamp only
      // that (the old writeOrderPhys fallback would have stamped
      // "id,seq" on files the write never sorted by seq).
      a.renameColumn("seq", "pos")
      withSpj {
        spark.sql("UPDATE spjst.db.a SET v = v + 100.0 WHERE id % 2 = 0")
      }
      val stamped = a.snapshot().files.flatMap(_.stats.get(TxLog.SortedKey))
      assert(stamped.nonEmpty, "precondition: some rewritten/kept file is stamped")
      assert(stamped.forall(cs => cs.min == "id"),
        s"post-rename DML stamps must equal the DECLARED prefix ('id'), " +
          s"got: ${stamped.map(_.min).distinct}")
      // and every stamp is physically TRUE
      for (f <- a.snapshot().files if f.stats.get(TxLog.SortedKey).isDefined) {
        val ids = spark.read.parquet(a.absoluteDataPath(f))
          .select("id").as[Long].collect()
        assert(ids.sameElements(ids.sorted))
      }
      assert(spark.sql("SELECT sum(v) FROM spjst.db.a").head().getDouble(0) ===
        ((1L until 100L).map(_ * 1.0).sum + 49 * 100.0))
    } finally {
      spark.conf.unset("spark.sql.catalog.spjst")
      spark.conf.unset("spark.sql.catalog.spjst.warehouse")
    }
  }

  test("one stamp vocabulary across planes: composite days+bucket table fed by batch AND streaming stamps identically") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjmix", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjmix.warehouse", wh)
    try {
      spark.sql(
        "CREATE TABLE spjmix.db.t (id BIGINT, ts TIMESTAMP, v DOUBLE)")
      val a = new GraftTable(s"$wh/db/t")
      a.setProperty(PartitionSpec.Prop, "days(ts),bucket(4,id)")
      a.setProperty(TxLog.WriteOrderProp, "id")
      def rows(lo: Long, hi: Long) = scala.util.Random.shuffle((lo until hi).toList)
        .map(i => (i, java.sql.Timestamp.valueOf(
          s"2024-01-0${1 + (i % 3)} 0${i % 9}:00:00"), i * 1.0))
      // batch plane
      a.append(rows(0L, 150L).toDF("id", "ts", "v"))
      // streaming plane
      val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
      ms.addData(rows(150L, 300L): _*)
      ms.toDF().toDF("id", "ts", "v").writeStream
        .option("checkpointLocation", freshWarehouse() + "/ckpt")
        .trigger(Trigger.AvailableNow()).toTable("spjmix.db.t")
        .awaitTermination()
      // EVERY file — batch-staged or epoch-fanout — carries the SAME
      // stamp ("id", the declared order; the spec sources only break
      // ties inside the task sort) and is physically monotone on id
      val stamps = a.snapshot().files.map(_.stats.get(TxLog.SortedKey))
      assert(stamps.nonEmpty && stamps.forall(_.exists(_.min == "id")),
        s"mixed-plane stamps must all read 'id': ${stamps.distinct}")
      for (f <- a.snapshot().files) {
        val ids = spark.read.parquet(a.absoluteDataPath(f))
          .select("id").as[Long].collect()
        assert(ids.sameElements(ids.sorted),
          s"file ${f.path} is not locally sorted on id")
      }
      // and the unified history survives compaction with the same stamp
      a.compact(spark, targetFileMB = 128)
      assert(a.snapshot().files.forall(
        _.stats.get(TxLog.SortedKey).exists(_.min == "id")))
      assert(spark.sql("SELECT count(*) FROM spjmix.db.t").head().getLong(0) === 300L)
    } finally {
      spark.conf.unset("spark.sql.catalog.spjmix")
      spark.conf.unset("spark.sql.catalog.spjmix.warehouse")
    }
  }

  test("a DV'd co-bucketed join stays SPJ AND columnar (round 16)") {
    // a keyed partition over a DV'd file wraps the same idx partition
    // a non-keyed scan plans for it: the reader drops the bitmap's
    // generated row indexes through the SelectedColumnVector remap, so
    // the join keeps BOTH properties at once: zero exchanges
    // (storage-partitioned) and columnar parquet decode
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.spjdv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjdv.warehouse", wh)
    try {
      def mk(name: String, rows: Seq[(Long, Double)]): GraftTable = {
        val t = new GraftTable(s"$wh/db/$name")
        t.append(Seq((0L, 0.0)).toDF("id", "v").limit(0))
        t.setProperty(PartitionSpec.Prop, "bucket(4,id)")
        t.append(rows.toDF("id", "v"))
        t.compact(spark, targetFileMB = 128)
        t
      }
      val f = mk("fact", (0L until 500L).map(i => (i, i * 1.0)))
      mk("dim", (0L until 500L).map(i => (i, i * 10.0)))
      f.deleteRows(spark, "id % 9 = 4") // deletion vectors, no rewrite
      assert(f.snapshot().files.exists(_.dv.isDefined),
        "precondition: the delete must have committed DVs")
      def join = spark.sql(
        """SELECT f.id, f.v, d.v AS dv FROM spjdv.db.fact f
           JOIN spjdv.db.dim d ON f.id = d.id""")
      withSpj {
        assert(shuffles(join) === 0,
          "the DV'd co-bucketed join must still plan zero exchanges")
        // finalized plan: the columnar transition nodes are inserted
        // per-stage at AQE materialization, so the initial plan can't
        // show them — assert on the materialized one
        val j = join
        j.collect()
        val scans = AdaptivePlans.collectDeepFinalized(j) {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
        assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
          "the DV'd keyed scan must stay columnar (remap)")
        assert(scans.exists(_.inputPartitions.exists {
          case k: graft.streaming.GraftKeyedPartition =>
            k.inner.isInstanceOf[graft.streaming.GraftIdxPartition]
          case _ => false
        }), "the fact side's keyed partitions must wrap idx partitions")
        val rows = join.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(rows === (0L until 500L).filterNot(_ % 9 == 4)
          .map(i => i -> i * 1.0).toMap)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.spjdv")
      spark.conf.unset("spark.sql.catalog.spjdv.warehouse")
    }
  }
}
