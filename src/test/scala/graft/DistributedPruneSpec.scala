package graft

import java.nio.file.{Files, Paths}

import graft.medallion.{GraftTable, TxLog}
import org.apache.spark.sql.types._

/** The 100-TB driver-state ceiling, measured, and the distributed
  * planning-path prune that lifts it.
  *
  * Driver-side snapshot resolution parses the WHOLE checkpoint JSON on
  * the driver and holds every AddFile (stats, bloom/HLL base64, DV
  * refs) in memory — the exact wall Delta hit before parquet
  * checkpoints and Iceberg before manifest trees. This spec builds a
  * SYNTHETIC checkpoint with 2·10⁵ add entries (~10⁵–10⁶ is where a
  * 100 TB table lives), measures the driver path's per-add cost (the
  * documented ceiling), and proves the distributed path
  * ([[GraftTable.prunedSnapshotDistributed]]) returns byte-identical
  * pruning results while collecting only survivors. */
class DistributedPruneSpec extends SparkSpec {

  private val N = 200000
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("x", DoubleType)))

  /** A synthetic table whose v1 checkpoint carries `n` adds: file i
    * covers ids [i*100, i*100+99] — disjoint ranges, so a range bound
    * names its surviving files exactly. No data files exist; every
    * operation here is metadata-only. */
  private def synthTable(n: Int): GraftTable = {
    val dir = new java.io.File(
      s"target/tmp/distprune_${java.util.UUID.randomUUID().toString.take(8)}")
    val logDir = Paths.get(dir.getAbsolutePath, "_graft_log")
    Files.createDirectories(logDir)
    val adds = (0 until n).map { i =>
      TxLog.AddFile(
        path = f"part-synth-$i%07d.parquet", rows = 100L, bytes = 4096L,
        stats = Map(
          "id" -> TxLog.ColStats("num",
            (i * 100L).toString, (i * 100L + 99L).toString, Some(0L)),
          "x" -> TxLog.ColStats("num", "0.0", "1.0", Some(0L))))
    }
    val content = TxLog.renderCommit(
      "checkpoint", 1L, Some(schema.json), adds, Nil)
    Files.write(
      logDir.resolve(f"${1L}%020d.checkpoint.json"), content.getBytes("UTF-8"))
    new GraftTable(dir.getAbsolutePath)
  }

  /** Run `body` with the planning dispatch forced onto the distributed
    * path, whatever the checkpoint's size. */
  private def forcedDistributed[T](body: => T): T = {
    TxLog.distributedPruneMinBytes = 1L
    try body finally TxLog.distributedPruneMinBytes = TxLog.DistributedPruneMinBytes
  }

  private def fileSet(s: TxLog.Snapshot): Set[(String, Long, String, String)] =
    s.files.map(a => (a.path, s.addedIn.getOrElse(a.path, -1L),
      a.stats("id").min, a.stats("id").max)).toSet

  test("measured ceiling: driver-side resolution of a 200k-add checkpoint") {
    val t = synthTable(N)
    val t0 = System.nanoTime()
    val snap = t.snapshot()
    val ms = (System.nanoTime() - t0) / 1e6
    assert(snap.files.size === N)
    assert(snap.version === 1L)
    val perAddUs = ms * 1000 / N
    // the documented ceiling: single-threaded parse + full in-heap
    // materialization. At this measured rate a 10⁶-file table costs
    // ~5x this wall time and ~5x the heap; 10⁷ is where the driver
    // path stops being viable — which is what the distributed prune
    // below is for.
    info(f"driver path: $N adds in $ms%.0f ms ($perAddUs%.1f µs/add; " +
      f"extrapolated 10⁶ files ≈ ${ms * (1000000.0 / N) / 1000}%.1f s)")
    assert(ms < 120000, "driver resolution of 200k adds must stay seconds-scale")
  }

  test("distributed prune ≡ driver prune on the 200k checkpoint, survivors only") {
    val t = synthTable(N)
    // bounds covering exactly files 50_000..50_099 (10⁴ ids = 100 files)
    val constraints = Seq[(String, Option[Any], Option[Any])](
      ("id", Some(5000000L), Some(5009999L)))
    val driver = t.prunedSnapshot(constraints, -1L)
    assert(driver.files.size === 100)
    val dist = t.prunedSnapshotDistributed(spark, 1L, 1L, constraints)
    assert(fileSet(dist) === fileSet(driver))
    assert(dist.schemaJson === driver.schemaJson)
    assert(dist.version === driver.version)
    // the session-aware overload dispatches to the distributed path
    // past the size threshold — force it with a tiny threshold and
    // require identical results
    forcedDistributed {
      val viaOverload = t.prunedSnapshot(spark, constraints, -1L)
      assert(fileSet(viaOverload) === fileSet(driver))
    }
  }

  test("the DSv2 scan dispatches through the distributed prune on a real table") {
    import spark.implicits._
    val dir = new java.io.File(
      s"target/tmp/distprune_ds_${java.util.UUID.randomUUID().toString.take(8)}")
    val t = new GraftTable(dir.getAbsolutePath)
    t.append((0L until 1000L).map(i => (i, i * 2.0)).toDF("id", "x")
      .repartition(8))
    t.checkpoint()
    forcedDistributed {
      val df = spark.read.format("graft-table").load(dir.getAbsolutePath)
        .filter($"id" >= 100L && $"id" <= 199L)
      val rows = df.select("id", "x").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows === (100L to 199L).map(i => i -> i * 2.0).toMap,
        "distributed-pruned DSv2 scan must return exactly the range rows")
    }
  }

  test("distributed prune resolves LOGICAL names on a column-mapped table") {
    import spark.implicits._
    val dir = new java.io.File(
      s"target/tmp/distprune_map_${java.util.UUID.randomUUID().toString.take(8)}")
    val t = new GraftTable(dir.getAbsolutePath)
    // range-clustered files: disjoint per-file id ranges so the bound
    // genuinely prunes (round-robin would give every file [0,499])
    t.append((0L until 500L).map(i => (i, i * 3.0)).toDF("id", "x")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("id")))
    // rename makes the table column-mapped: logical `key`, physical `id`
    // (stats keys in the checkpoint stay physical)
    t.renameColumn("id", "key")
    t.checkpoint()
    val constraints = Seq[(String, Option[Any], Option[Any])](
      ("key", Some(100L), Some(149L)))
    val driver = t.prunedSnapshot(constraints, -1L)
    assert(driver.files.size < t.snapshot().files.size,
      "precondition: the bound must actually prune")
    val cv = t.lastCheckpointVersion().get
    val dist = t.prunedSnapshotDistributed(spark, cv, t.latestVersion(), constraints)
    assert(fileSet(dist) === fileSet(driver))
    // and through the DSv2 scan under a forced-low threshold
    forcedDistributed {
      val rows = spark.read.format("graft-table").load(dir.getAbsolutePath)
        .filter($"key" >= 100L && $"key" <= 149L)
        .select("key", "x").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows === (100L to 149L).map(i => i -> i * 3.0).toMap)
    }
  }

  test("checkpoint parse cache: repeat resolution hits; rebuilt-same-path content is never served stale") {
    val t = synthTable(50000)
    t.snapshot() // first: parses and caches
    val h0 = TxLog.checkpointCacheHits.get()
    val again = t.snapshot()
    assert(TxLog.checkpointCacheHits.get() >= h0 + 1,
      "the second resolution of unchanged bytes must hit the cache")
    assert(again.files.size === 50000)
    // content-addressed soundness: rebuild a table at the SAME path
    // with the SAME version number but different adds — the cache must
    // not serve the old parse (it is keyed by content, not path)
    val dir = new java.io.File(
      s"target/tmp/distprune_cc_${java.util.UUID.randomUUID().toString.take(8)}")
    def writeCp(addPath: String): Unit = {
      graft.core.Fs.rmTree(dir)
      val logDir = Paths.get(dir.getAbsolutePath, "_graft_log")
      Files.createDirectories(logDir)
      val add = TxLog.AddFile(addPath, 1L, 10L,
        stats = Map("id" -> TxLog.ColStats("num", "0", "0", Some(0L))))
      Files.write(logDir.resolve(f"${1L}%020d.checkpoint.json"),
        TxLog.renderCommit("checkpoint", 1L, Some(schema.json), Seq(add), Nil)
          .getBytes("UTF-8"))
    }
    writeCp("first.parquet")
    assert(new GraftTable(dir.getAbsolutePath).snapshot()
      .files.map(_.path) === Seq("first.parquet"))
    writeCp("second.parquet")
    assert(new GraftTable(dir.getAbsolutePath).snapshot()
      .files.map(_.path) === Seq("second.parquet"),
      "a rebuilt same-path same-version checkpoint must resolve to its NEW content")
  }

  test("DV-carrying adds (add-dv lines) survive the distributed prune intact") {
    val dir = new java.io.File(
      s"target/tmp/distprune_dv_${java.util.UUID.randomUUID().toString.take(8)}")
    val logDir = Paths.get(dir.getAbsolutePath, "_graft_log")
    Files.createDirectories(logDir)
    val bm = new org.roaringbitmap.RoaringBitmap(); bm.add(3); bm.add(7)
    val buf = java.nio.ByteBuffer.allocate(bm.serializedSizeInBytes())
    bm.serialize(buf)
    val dv64 = java.util.Base64.getEncoder.encodeToString(buf.array())
    // bloom/HLL/sum sketches ride along: the JSON checkpoint must
    // round-trip every stats field exactly, on both resolution paths
    val adds = (0 until 100).map { i =>
      TxLog.AddFile(f"part-dv-$i%04d.parquet", 100L, 4096L,
        stats = Map("id" -> TxLog.ColStats("num",
          (i * 10L).toString, (i * 10L + 9L).toString, Some(0L),
          bloom = Some("QUJDRA=="), hll = Some("SEZMTA=="),
          sum = Some((i * 100L + 45L).toString))),
        dv = if (i % 2 == 0) Some(dv64) else None,
        dvRows = if (i % 2 == 0) 2L else 0L)
    }
    Files.write(logDir.resolve(f"${1L}%020d.checkpoint.json"),
      TxLog.renderCommit("checkpoint", 1L, Some(schema.json), adds, Nil)
        .getBytes("UTF-8"))
    val t = new GraftTable(dir.getAbsolutePath)
    val constraints = Seq[(String, Option[Any], Option[Any])](
      ("id", Some(100L), Some(139L))) // files 10..13: two DV'd, two plain
    val dist = t.prunedSnapshotDistributed(spark, 1L, 1L, constraints)
    assert(fileSet(dist) === fileSet(t.prunedSnapshot(constraints, -1L)))
    assert(t.snapshot().files === adds, "driver resolution is exact")
    val byPath = dist.files.map(a => a.path -> a).toMap
    assert(dist.files.forall(a => adds.contains(a)), "distributed survivors are exact")
    assert(byPath(f"part-dv-${10}%04d.parquet").dv === Some(dv64))
    assert(byPath(f"part-dv-${10}%04d.parquet").effectiveRows === 98L)
    assert(byPath(f"part-dv-${11}%04d.parquet").dv === None)
  }

  test("suffix commits replay over the distributed checkpoint prune") {
    val t = synthTable(1000)
    val logDir = Paths.get(t.tablePath, "_graft_log")
    // v2: remove one in-range file, re-add another path with new
    // stats that move it INTO range, add a brand-new in-range file
    val moved = TxLog.AddFile("part-synth-0000900.parquet", 50L, 2048L,
      stats = Map("id" -> TxLog.ColStats("num", "10050", "10060", Some(0L))))
    val fresh = TxLog.AddFile("part-suffix-new.parquet", 10L, 1024L,
      stats = Map("id" -> TxLog.ColStats("num", "10000", "10010", Some(0L))))
    val v2 = TxLog.renderCommit("append", 1L, None,
      Seq(moved, fresh), Seq("part-synth-0000101.parquet"))
    Files.write(logDir.resolve(f"${2L}%020d.json"), v2.getBytes("UTF-8"))
    // range [10000, 10199]: checkpoint files 100,101; 101 removed in
    // v2; file 900 moved INTO range by v2; fresh added by v2
    val constraints = Seq[(String, Option[Any], Option[Any])](
      ("id", Some(10000L), Some(10199L)))
    val driver = t.prunedSnapshot(constraints, -1L)
    val dist = t.prunedSnapshotDistributed(spark, 1L, 2L, constraints)
    assert(fileSet(dist) === fileSet(driver))
    val paths = dist.files.map(_.path).toSet
    assert(paths.contains("part-synth-0000100.parquet"))
    assert(!paths.contains("part-synth-0000101.parquet"), "v2 remove must apply")
    assert(paths.contains("part-synth-0000900.parquet"), "v2 re-add must win")
    assert(paths.contains("part-suffix-new.parquet"))
    // provenance: suffix adds attribute their committing version
    assert(dist.addedIn("part-suffix-new.parquet") === 2L)
    assert(dist.addedIn("part-synth-0000100.parquet") === 1L)
  }

  test("distributed prune is exact across schema evolution after a checkpoint") {
    import spark.implicits._
    val t = new GraftTable(new java.io.File(
      s"target/tmp/distprune_evo_${java.util.UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath)
    t.create(StructType(Seq(StructField("a", LongType),
      StructField("b", LongType), StructField("c", LongType))))
    // one file per append. b's range [1000, 1005] never overlaps the
    // c-constraint [20, 30] below: a prune that read b's checkpoint
    // bounds as c's would silently exclude live files
    (0 until 6).foreach { i =>
      t.append(Seq((i.toLong, 1000L + i, i * 10L)).toDF("a", "b", "c")) }
    val cv = t.checkpoint()
    t.dropColumn("a") // c's field index shifts 2 -> 1 in the evolved schema
    t.append(Seq((1006L, 60L)).toDF("b", "c"))
    val target = t.latestVersion()
    val cons = Seq[(String, Option[Any], Option[Any])](
      ("c", Some(20L), Some(30L)))
    val driver = t.prunedSnapshot(cons, target)
    assert(driver.files.size === 2, "files with c in {20,30} survive")
    val dist = t.prunedSnapshotDistributed(spark, cv, target, cons)
    assert(dist.files.map(_.path).toSet === driver.files.map(_.path).toSet,
      "a post-checkpoint drop must not change the distributed survivor set")
    // a column ADDED after the checkpoint has no stats in it: every
    // checkpoint file survives a constraint on it, as on the driver
    t.addColumns(Seq(StructField("d", LongType)))
    val target2 = t.latestVersion()
    val consD = Seq[(String, Option[Any], Option[Any])](
      ("d", Some(1L), Some(2L)))
    val distD = t.prunedSnapshotDistributed(spark, cv, target2, consD)
    assert(distD.files.map(_.path).toSet ===
      t.prunedSnapshot(consD, target2).files.map(_.path).toSet)
    assert(distD.files.size >= 6, "pre-add files have no 'd' stats — all kept")
  }

  test("type widening before and after a checkpoint: distributed prune is exact") {
    import spark.implicits._
    val t = new GraftTable(new java.io.File(
      s"target/tmp/distprune_widen_${java.util.UUID.randomUUID().toString.take(8)}")
      .getAbsolutePath)
    t.create(StructType(Seq(
      StructField("id", IntegerType), StructField("pay", IntegerType))))
    t.setProperty(TxLog.TypeWideningProp, "true")
    (0 until 4).foreach(i => t.append(Seq((i * 10, 7)).toDF("id", "pay")))
    t.widenColumn("id", LongType) // BEFORE the checkpoint
    (4 until 8).foreach(i => t.append(Seq((i * 10L, 7)).toDF("id", "pay")))
    val cv = t.checkpoint()
    t.widenColumn("pay", LongType) // AFTER the checkpoint
    t.append(Seq((80L, 7L)).toDF("id", "pay"))
    val target = t.latestVersion()
    for (cons <- Seq(
      Seq[(String, Option[Any], Option[Any])](("id", Some(20L), Some(50L))),
      Seq[(String, Option[Any], Option[Any])](("pay", Some(7L), Some(7L))))) {
      val driver = t.prunedSnapshot(cons, target)
      val dist = t.prunedSnapshotDistributed(spark, cv, target, cons)
      assert(dist.files.map(_.path).toSet === driver.files.map(_.path).toSet,
        s"widen-straddling prune diverged for $cons")
    }
    // the mid-range id prune actually prunes (not vacuously equal)
    assert(t.prunedSnapshot(
      Seq(("id", Some(20L), Some(50L))), target).files.size === 4)
  }
}
