package graft

import java.util.UUID

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.medallion.{GraftTable, PartitionSpec, TxLog}
import graft.streaming.GraftCatalog

/** Differential spec for per-file statistics: the task that writes a
  * table file computes its stats, and every committed file's recorded
  * rows and `AddFile.stats` must equal what a Spark aggregate over the
  * committed bytes computes ([[reference]] — the per-file aggregate the
  * table format ran before its writer computed stats), across the
  * type/edge matrix, the opt-in sketches, every partition transform and
  * every write path (batch appends, SQL row-level DML, streaming epochs,
  * change files). The suite keeps its original name and test names so
  * test ids stay stable. */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    new java.io.File(s"target/tmp/fstats_${tag}_${UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath

  /** The reference: per committed file, grouped by
    * `_metadata.file_path`, the row count and — under the properties of
    * the snapshot the file was written against — min/max/non-null count
    * of every stats column and partition transform, plus the bloom, HLL
    * and sum sketches, rendered through `statsLiteral`. */
  private def reference(t: GraftTable): Map[String, (Long, Map[String, TxLog.ColStats])] = {
    val snap = t.snapshot()
    val phys = TxLog.physicalSchema(snap.schema)
    snap.files.groupBy(f => snap.addedIn.getOrElse(f.path, snap.version)).flatMap {
      case (v, files) =>
        val at = if (v <= 1L) None else Some(t.snapshot(v - 1))
        def propCols(prop: String, ok: DataType => Boolean): Seq[String] =
          at.toSeq.flatMap { h =>
            h.props.get(prop).toSeq.flatMap(_.split(",")).map(_.trim)
              .filter(_.nonEmpty).map(TxLog.physicalOf(h.schema, _))
              .filter(p => phys.fields.exists(f => f.name == p && ok(f.dataType)))
          }
        val hashable = Set[DataType](IntegerType, LongType, StringType)
        val bloomCols = propCols(TxLog.BloomColumnsProp, hashable)
        val bloomBits = at.flatMap(_.props.get(TxLog.BloomBitsProp))
          .map(_.toInt).getOrElse(TxLog.BloomBits)
        val ndvCols = propCols(TxLog.NdvColumnsProp, hashable)
        val sumCols = propCols(TxLog.SumColumnsProp,
          Set[DataType](ByteType, ShortType, IntegerType, LongType))
        val sCols = TxLog.statsColumns(phys)
        val transforms = at.toSeq.flatMap(h =>
          PartitionSpec.resolved(h.props, h.schema, phys))
        def dt(c: String) = phys(c).dataType
        val bloomFn = udaf(new graft.functions.BloomAgg(bloomBits, TxLog.BloomK))
        val hllFn = udaf(new graft.functions.HllAgg(TxLog.HllP))
        def c(n: String) = col(s"`$n`")
        val aggs = Seq(count(lit(1)).as("_rows")) ++
          sCols.flatMap(f => Seq(min(c(f.name)), max(c(f.name)), count(c(f.name)))) ++
          transforms.flatMap { tr =>
            val e = PartitionSpec.column(tr, dt(tr.source))
            Seq(min(e), max(e), count(e))
          } ++
          bloomCols.map(p => bloomFn(xxhash64(c(p)))) ++
          ndvCols.map(p => hllFn(when(c(p).isNotNull, xxhash64(c(p))))) ++
          sumCols.map(p => sum(c(p).cast(DecimalType(38, 0))))
        val keys: Seq[(String, String)] =
          sCols.map(f => f.name -> TxLog.statsKind(f.dataType)) ++
            transforms.map(tr => tr.statKey -> PartitionSpec.statsKind(tr, dt(tr.source)))
        spark.read.schema(phys)
          .parquet(files.map(f => s"${t.tablePath}/${f.path}"): _*)
          .groupBy(col("_metadata.file_path"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().toSeq.map { r =>
            val name = new java.io.File(java.net.URI.create(r.getString(0)).getPath).getName
            val rows = r.getLong(1)
            val bounds = keys.zipWithIndex.flatMap { case ((key, kind), i) =>
              val (mn, mx) = (r.get(2 + 3 * i), r.get(3 + 3 * i))
              if (mn == null || mx == null || !TxLog.isFiniteStat(mn) ||
                  !TxLog.isFiniteStat(mx)) None
              else Some(key -> TxLog.ColStats(kind, TxLog.statsLiteral(mn),
                TxLog.statsLiteral(mx), Some(rows - r.getLong(4 + 3 * i))))
            }.toMap
            val b64 = java.util.Base64.getEncoder
            var at0 = 2 + 3 * keys.size
            def next(): Any = { val x = r.get(at0); at0 += 1; x }
            def attach(m: Map[String, TxLog.ColStats], col: String, v: Any)(
                f: (TxLog.ColStats, Any) => TxLog.ColStats) =
              m.get(col).filter(_ => v != null).fold(m)(cs => m + (col -> f(cs, v)))
            val withBloom = bloomCols.foldLeft(bounds)((m, p) => attach(m, p, next())(
              (cs, v) => cs.copy(bloom = Some(b64.encodeToString(v.asInstanceOf[Array[Byte]])))))
            val withHll = ndvCols.foldLeft(withBloom)((m, p) => attach(m, p, next())(
              (cs, v) => cs.copy(hll = Some(b64.encodeToString(v.asInstanceOf[Array[Byte]])))))
            val stats = sumCols.foldLeft(withHll)((m, p) => attach(m, p, next())(
              (cs, v) => cs.copy(sum = Some(
                v.asInstanceOf[java.math.BigDecimal].toBigInteger.toString))))
            name -> (rows, stats)
          }
    }
  }

  /** Every live file's recorded rows and stats (sort marker aside)
    * equal the reference; returns the live files. */
  private def assertMatches(t: GraftTable, tag: String): Seq[TxLog.AddFile] = {
    val files = t.snapshot().files
    val ref = reference(t)
    assert(ref.keySet === files.map(_.path).toSet, s"[$tag] files the reference read")
    files.foreach { f =>
      val (rows, stats) = ref(f.path)
      assert(f.rows === rows, s"[$tag] row count of ${f.path}")
      assert(f.stats - TxLog.SortedKey === stats, s"[$tag] stats of ${f.path}")
    }
    files
  }

  private def check(df: DataFrame, tag: String): Seq[TxLog.AddFile] = {
    val t = new GraftTable(freshDir(tag))
    t.append(df)
    assertMatches(t, tag)
  }

  /** Append one row, set `props`, append `df`: the second commit's
    * files are written under the properties. */
  private def checkUnder(props: Map[String, String], df: DataFrame,
      tag: String): Seq[TxLog.AddFile] = {
    val t = new GraftTable(freshDir(tag))
    t.append(df.limit(1))
    props.foreach { case (k, v) => t.setProperty(k, v) }
    t.append(df)
    assertMatches(t, tag)
  }

  private def withCatalog[A](name: String)(body: String => A): A = {
    val wh = freshDir(name)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    try body(wh) finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  test("differential: integral / string / date / decimal / double matrix") {
    check(Seq((1L, 7, "abc", 1.5), (-5L, 2, "zz", -2.25))
      .toDF("l", "i", "s", "d"), "plain")
    check(Seq((1L, Some(3.0)), (2L, None), (3L, Some(-0.0)), (4L, Some(0.0)))
      .toDF("k", "d"), "nulls and signed zero")
    check(Seq((1.toByte, 2.toShort, 1.5f), (-3.toByte, 9.toShort, -0.5f))
      .toDF("b", "sh", "f"), "byte / short / float")
    val multi = check(
      spark.range(0, 1000).select(col("id"),
        (col("id") % 10).cast("int").as("i"),
        concat(lit("v"), col("id")).as("s"),
        (col("id") * 1.25 - 300.0).as("d"))
        .repartition(4), "multi-file")
    assert(multi.size === 4)
    check(Seq(java.sql.Date.valueOf("2020-01-02"), java.sql.Date.valueOf("1969-12-31"))
      .toDF("dt"), "dates incl pre-epoch")
    check(Seq(BigDecimal("12.30"), BigDecimal("-4.56")).toDF("dec"), "decimal")
    check(Seq(java.sql.Timestamp.valueOf("2020-01-02 03:04:05.123456"),
      java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5")).toDF("ts"), "timestamps")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try check(
      Seq(java.sql.Timestamp.valueOf("2020-01-02 03:04:05.123456"),
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59.000001"),
        java.sql.Timestamp.valueOf("1969-06-01 01:02:03.5"))
        .toDF("ts"), "timestamps (MICROS physical)")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
  }

  test("differential: NaN / Infinity doubles drop the entry on both paths") {
    check(Seq(1.0, Double.NaN, 2.0).toDF("d"), "NaN")
    check(Seq(Double.NaN).toDF("d"), "all NaN")
    check(Seq(1.0, Double.PositiveInfinity).toDF("d"), "+Inf")
    check(Seq(Double.NegativeInfinity, 4.0).toDF("d"), "-Inf")
    check(Seq(1.0f, Float.NaN).toDF("f"), "float NaN")
    // NaN in one of several columns must not poison the others
    val files = check(Seq((1L, Double.NaN, "a"), (9L, 2.0, "b"))
      .toDF("k", "d", "s").coalesce(1), "NaN beside others")
    assert(files.head.stats.contains("k") && files.head.stats.contains("s"))
    assert(!files.head.stats.contains("d"), "NaN column must carry no stats")
  }

  test("differential: all-null columns and empty frames") {
    check(Seq((1L, Option.empty[String]), (2L, None)).toDF("k", "s"), "all-null string")
    check(Seq((1L, Option.empty[Double])).toDF("k", "d"), "all-null double")
    // an empty frame stages no file at all
    assert(check(Seq.empty[(Long, String)].toDF("k", "s"), "empty").isEmpty)
  }

  test("differential: unicode and oversize strings") {
    check(Seq("😀end", "�bmp", "aÄ±ÅŸÄ±k").toDF("s"), "multi-byte")
    // longer than parquet's 4 KB footer-stats cap: the writer's bounds
    // are exact at any length
    val big = check(Seq(("k1", "a" * 5000), ("k2", "b" * 5000)).toDF("k", "s"),
      "oversize strings")
    assert(big.flatMap(_.stats.get("s")).exists(_.max.length == 5000))
    check(Seq(("k1", "a" * 1000), ("k2", "b" * 1000)).toDF("k", "s"), "1000-char strings")
  }

  test("differential: row tracking base ids stay dense across a multi-file append") {
    // row ids stay dense and unique after a multi-file append: the
    // commit order of the files is their base-id order
    val t = new GraftTable(freshDir("rid"))
    t.append(Seq((-1L, -1L)).toDF("id", "v"))
    t.setProperty("rowTracking", "true")
    t.append(spark.range(0, 500).select(col("id"), (col("id") % 7).as("v"))
      .repartition(3))
    // the seed file plus the three files of the multi-file append
    val files = assertMatches(t, "rid").sortBy(_.baseRowId.getOrElse(-1L))
    assert(files.size === 4 && files.forall(_.baseRowId.isDefined))
    files.sliding(2).foreach { case Seq(a, b) =>
      assert(b.baseRowId.get === a.baseRowId.get + a.rows, "base ids leave no gap")
    }
    val ids = graft.streaming.GraftTableV2.frame(spark, t, t.snapshot(),
        Seq(graft.streaming.GraftTableV2.RowIdCol))
      .select(graft.streaming.GraftTableV2.RowIdCol).as[Long].collect()
    assert(ids.length === 501 && ids.distinct.length === 501)
    assert(ids.max - ids.min === 500L, "row ids are dense")
  }

  test("differential: bucket-split staging records single-valued transform stats") {
    // a bucket spec splits files by the transform tuple in the writer's
    // fanout: each file is single-valued on the tuple, null sources
    // included, and its transform bounds equal the reference
    val files = checkUnder(Map(PartitionSpec.Prop -> "bucket(4,k), days(d)"),
      spark.range(0, 400).select(col("id").as("k"),
        when(col("id") % 7 === 0, lit(null))
          .otherwise(date_add(lit(java.sql.Date.valueOf("2021-03-01")),
            (col("id") % 5).cast("int"))).as("d")), "bucket")
    val split = files.filter(_.stats.contains("__p$bucket(4,k)"))
    assert(split.nonEmpty, "expected __p$ stats on split files")
    assert(split.forall(f => PartitionSpec.tupleSignature(f).values.forall(_.isDefined)),
      "every split file is single-valued on the transform tuple")
    // a string bucket source and a bucket-only spec
    checkUnder(Map(PartitionSpec.Prop -> "bucket(5,s)"),
      spark.range(0, 200).select(col("id"), concat(lit("s"), col("id") % 13).as("s")),
      "string bucket")
  }

  test("differential: non-bucket specs record transform stats") {
    val dated = spark.range(0, 400).select(col("id").as("k"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(date_add(lit(java.sql.Date.valueOf("2021-03-01")),
          (col("id") % 90).cast("int"))).as("d"),
      concat(lit("s"), col("id")).as("s")).repartition(3)
    def under(spec: String, df: DataFrame, tag: String): Unit = {
      val files = checkUnder(Map(PartitionSpec.Prop -> spec), df, tag)
      assert(files.exists(_.stats.keys.exists(_.startsWith(PartitionSpec.Prefix))),
        s"expected __p$$ stats [$tag]")
    }
    under("days(d)", dated, "days on date")
    under("months(d), trunc(100,k)", dated, "months + integral trunc")
    under("id(k), trunc(2,s)", dated, "id + string trunc")
    under("days(ts), hours(ts)",
      spark.range(0, 300).select(col("id").as("k"),
        timestamp_millis(col("id") * 7200000L - 86400000L).as("ts")).repartition(2),
      "days + hours on timestamps")
    // a double `id` source: finite bounds record, a NaN file records none
    under("id(x)",
      spark.range(0, 60).select(col("id").as("k"),
        (col("id") * 0.5 - 3.0).as("x")).repartition(2), "double id")
    checkUnder(Map(PartitionSpec.Prop -> "id(x)"),
      Seq((1L, 2.0), (2L, Double.NaN)).toDF("k", "x"), "double id with NaN")
    // an all-null FILE yields no __p$ entry (the other file still has one)
    under("days(d)",
      spark.range(0, 40).select(col("id").as("k"),
        when(col("id") < 20, lit(null))
          .otherwise(date_add(lit(java.sql.Date.valueOf("2021-03-01")),
            (col("id") % 9).cast("int"))).as("d"))
        .repartitionByRange(2, col("k")), "one all-null file")
  }

  test("bloom, ndv and sum sketches equal the reference aggregate") {
    val df = spark.range(0, 600).select(col("id").as("k"),
      (col("id") % 17).cast("int").as("i"),
      when(col("id") % 11 === 0, lit(null)).otherwise(concat(lit("u"), col("id"))).as("s"),
      (col("id") * 3 - 700).as("v")).repartition(3)
    val files = checkUnder(Map(
      TxLog.BloomColumnsProp -> "k, s",
      TxLog.BloomBitsProp -> "2048",
      TxLog.NdvColumnsProp -> "i, s",
      TxLog.SumColumnsProp -> "i, v"), df, "sketches")
    val sketched = files.filter(_.stats.get("k").exists(_.bloom.isDefined))
    assert(sketched.size === 3)
    assert(sketched.forall(f => f.stats("s").hll.isDefined && f.stats("v").sum.isDefined))
    assert(sketched.map(_.stats("v").sum.get.toLong).sum ===
      (0L until 600L).map(_ * 3 - 700).sum)
    // the same sketches through a compaction rewrite
    val t = new GraftTable(freshDir("sketch_compact"))
    t.append(df.limit(1))
    t.setProperty(TxLog.BloomColumnsProp, "k")
    t.setProperty(TxLog.SumColumnsProp, "v")
    t.append(df)
    t.compact(spark, 1)
    assertMatches(t, "sketches after compact")
  }

  test("SQL MERGE through the row-level writer records the reference stats") {
    withCatalog("fsm") { wh =>
      val t = new GraftTable(s"$wh/db/t")
      t.append(spark.range(0, 100).select(col("id"),
        concat(lit("r"), col("id")).as("s"), (col("id") * 0.5).as("x")).repartition(2))
      t.setProperty(PartitionSpec.Prop, "bucket(3,id)")
      t.setProperty(TxLog.BloomColumnsProp, "s")
      t.setProperty(TxLog.SumColumnsProp, "id")
      Seq((5L, 99.0), (500L, 70.0)).toDF("mid", "mx").createOrReplaceTempView("fsm_src")
      try {
        spark.sql("""MERGE INTO fsm.db.t AS tgt USING fsm_src AS src ON tgt.id = src.mid
                     WHEN MATCHED THEN UPDATE SET x = src.mx
                     WHEN NOT MATCHED THEN INSERT (id, s, x) VALUES (src.mid, 'new', src.mx)""")
        assert(t.history().head._2 === "replace")
        assertMatches(t, "copy-on-write MERGE")
        // merge-on-read: the delta writer stages the post-images
        t.setProperty(TxLog.MergeModeProp, TxLog.DeleteModeMor)
        spark.sql("""MERGE INTO fsm.db.t AS tgt USING fsm_src AS src ON tgt.id = src.mid
                     WHEN MATCHED THEN UPDATE SET x = src.mx + 1""")
        assert(t.snapshot().files.exists(_.dv.isDefined))
        assertMatches(t, "merge-on-read MERGE")
      } finally spark.catalog.dropTempView("fsm_src")
    }
  }

  test("a streaming epoch records the reference stats") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    withCatalog("fss") { wh =>
      val t = new GraftTable(s"$wh/db/sink")
      t.append(Seq((0L, "seed")).toDF("id", "payload"))
      t.setProperty(TxLog.NdvColumnsProp, "payload")
      t.setProperty(PartitionSpec.Prop, "bucket(2,id)")
      val ms = MemoryStream[(Long, String)]
      ms.addData((1L to 50L).map(i => i -> s"p${i % 9}"): _*)
      ms.toDF().toDF("id", "payload").writeStream
        .option("checkpointLocation", freshDir("fss_ckpt"))
        .trigger(Trigger.AvailableNow()).toTable("fss.db.sink")
        .awaitTermination()
      assert(t.history().head._2 === "streamingUpdate")
      val files = assertMatches(t, "streaming epoch")
      assert(files.exists(_.stats.get("payload").exists(_.hll.isDefined)))
    }
  }

  test("cdc staging rowcounts: each change file records its own row count") {
    // change files record the row counts their writing tasks counted:
    // each must equal the file's own rows, and the feed serves them all
    val t = new GraftTable(freshDir("cdc"))
    t.append(spark.range(0, 300).select(col("id"), (col("id") % 3).as("v")).repartition(2))
    t.setProperty(TxLog.CdfEnabledProp, "true")
    t.deleteRows(spark, "id % 5 = 1")
    t.upsert(spark.range(0, 30).select(col("id"), lit(9L).as("v"),
      lit(1L).as("_seq"), lit(false).as("_deleted")), "id", "_seq")
    val log = new java.io.File(t.tablePath, TxLog.LogDir)
    val refs = log.listFiles().filter(_.getName.endsWith(".json")).toSeq.flatMap { f =>
      scala.io.Source.fromFile(f).getLines().toSeq
        .map(org.json4s.jackson.JsonMethods.parse(_))
        .filter(j => (j \ "a").values == "cdc")
        .map(j => ((j \ "path").values.toString, (j \ "rows").values.toString.toLong))
    }
    assert(refs.nonEmpty, "cdf-enabled mutations stage change files")
    refs.foreach { case (path, rows) =>
      assert(spark.read.parquet(s"${t.tablePath}/$path").count() === rows,
        s"recorded rows of change file $path")
    }
    val feed = t.readChangeFeed(spark, 2)
    assert(feed.filter(col("_change_type") === "delete" &&
      col("_commit_version") === 3L).count() === 60L)
    assertMatches(t, "after cdc mutations")
  }
}
