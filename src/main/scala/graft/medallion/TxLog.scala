package graft.medallion

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID


import scala.jdk.CollectionConverters.IteratorHasAsScala

import graft.streaming.GraftTableV2

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetWrites
import org.apache.spark.sql.types._

/** A minimal log-structured table format — the transactional layer the
  * reference's medallion pipeline assumes a managed lakehouse provides
  * (its north-star names Delta Lake; no table-format jar ships in this
  * container, so this is the from-scratch equivalent, following the
  * published designs: Delta Lake's ordered commit log of add/remove
  * actions [Armbrust et al., VLDB 2020] and Iceberg's snapshot+stats
  * model).
  *
  * Layout:
  * {{{
  * table/
  *   _graft_log/00000000000000000001.json   one commit = one JSON-lines file
  *   _graft_log/00000000000000000007.checkpoint.json
  *   _graft_log/_last_checkpoint            hint {"version":7}
  *   part-<uuid>-<i>.parquet                immutable data files
  * }}}
  *
  * Why this shape needs no rename (unlike every rename-based swap in
  * [[Maintenance]]):
  *
  *   - '''Commit = put-if-absent of one small file.''' The next
  *     version's log file is created atomically via a hard link from a
  *     fully-written temp file ([[TxLog.putIfAbsent]]) on the local
  *     filesystem — the only store this log supports. Exactly one of two
  *     racing writers wins. No rename of data ever happens — data files
  *     are immutable and uniquely named.
  *   - '''Readers never list data files.''' A snapshot is resolved purely
  *     from the log (checkpoint + suffix replay), so a crashed writer's
  *     orphan parquet is invisible — there is no torn-state window at
  *     all, rather than a recovered one.
  *   - '''Stats-based data skipping.''' Each `add` records per-column
  *     min/max ([[TxLog.ColStats]]); range reads and the upsert's
  *     copy-on-write both prune at FILE granularity, which is what keeps
  *     a point-ish MERGE from rewriting 100 TB.
  *
  * Concurrency model: optimistic, through ONE commit loop
  * (`GraftTable.transact`). A mutator builds its actions for a head; the
  * loop publishes them at head + 1 and, when another writer won that
  * version, applies the mutator's [[TxLog.OnConflict]] policy:
  *
  *   - '''Retry''' (appends, schema and property ops): re-build the
  *     actions at the new head and publish again, within the op's retry
  *     budget.
  *   - '''Rebase''' (compact, zorder, purge): re-publish the same
  *     actions when every interleaved commit is a blind append.
  *   - '''Abort''' (upsert, delete, row-level DML, restore,
  *     addConstraint, overwrite): throw
  *     [[TxLog.ConcurrentWriteException]] — a lost update there would
  *     silently drop the other writer's rows; the caller must re-read and
  *     re-merge.
  *
  * A commit that does not land deletes the data and change files it
  * staged.
  */
object TxLog {

  /** Per-column file statistics. `kind` picks the comparison domain:
    * "num" values are decimal strings compared numerically (timestamps
    * and dates are stored as epoch millis/days — Timestamp.toString has
    * variable fraction width and would mis-compare lexicographically at
    * boundaries), "str" compare as strings. Conservative by design: a
    * column with no stats never prunes.
    *
    * `nulls` is the file's null count for the column — `None` on files
    * written before null counting existed (readers must treat unknown
    * as "may contain nulls"). min/max say nothing about nulls, so this
    * is what lets a reader prove a file is SINGLE-VALUED on a column
    * (`min == max && nulls == Some(0)`) — the soundness key for
    * answering GROUP BY from the log — and makes `COUNT(col)` exact
    * (`rows - nulls`). */
  final case class ColStats(
      kind: String, min: String, max: String, nulls: Option[Long] = None,
      /** Optional per-file Bloom filter over the column's values
        * (base64 bitset, [[TxLog.BloomBits]] bits, [[TxLog.BloomK]]
        * xxhash64-pair probes) — what prunes POINT lookups on
        * high-cardinality columns whose min/max ranges overlap every
        * file (random ids, hashes). Absent ⇒ never prunes. */
      bloom: Option[String] = None,
      /** Optional per-file HyperLogLog registers (base64, 2^[[TxLog.HllP]]
        * one-byte registers) — mergeable by element-wise max, so the
        * snapshot's distinct count estimates from the LOG alone
        * ([[GraftTable.approxCountDistinct]]) and feeds the DSv2
        * column statistics the CBO's join estimation reads. */
      hll: Option[String] = None,
      /** Optional EXACT per-file column sum (decimal string; integral
        * source types only — order-independent and exact, unlike float
        * sums), opt-in via `sum.columns`: what lets an unfiltered
        * `SELECT SUM(col)` answer from the commit log with zero files
        * opened, like COUNT/MIN/MAX. */
      sum: Option[String] = None) {
    private def cmp(a: String, b: String): Int =
      if (kind == "num") BigDecimal(a).compare(BigDecimal(b))
      else TxLog.utf8Cmp(a, b)
    /** Could any value in [min,max] fall inside [lo,hi] (inclusive)? */
    def overlaps(lo: Option[String], hi: Option[String]): Boolean =
      lo.forall(l => cmp(max, l) >= 0) && hi.forall(h => cmp(min, h) <= 0)
    /** Exactly one distinct non-null value, and no nulls at all? */
    def singleValued: Boolean = nulls.contains(0L) && cmp(min, max) == 0
  }

  /** One live data file: path RELATIVE to the table root (tables stay
    * relocatable), row/byte counts, and optional per-column stats.
    *
    * `dv` is the file's DELETION VECTOR — a serialized RoaringBitmap
    * (base64) of the PHYSICAL row indexes within the file
    * deleted merge-on-read: the file's bytes are immutable, the bitmap
    * says which of its rows no longer exist. `dvRows` is its exact
    * cardinality, persisted so metadata-only row accounting
    * ([[effectiveRows]]) never deserializes a bitmap. A file whose DV
    * grows past the [[GraftTable.deleteRows]] thresholds is rewritten
    * instead — DVs stay metadata-sized by construction. */
  final case class AddFile(
      path: String, rows: Long, bytes: Long, stats: Map[String, ColStats],
      dv: Option[String] = None, dvRows: Long = 0L,
      /** Row-tracking: first row id of this file's VIRTUAL assignment
        * (row id = baseRowId + physical row index); None on files from
        * untracked tables or written before tracking was enabled. */
      baseRowId: Option[Long] = None,
      /** Row-tracking: the file carries a materialized
        * [[TxLog.RowIdPhysCol]] column (written by a rewrite); readers
        * prefer it, falling back to baseRowId + index where null. */
      ridMaterialized: Boolean = false) {
    /** Rows a reader actually sees: physical rows minus DV'd rows. */
    def effectiveRows: Long = rows - dvRows
  }

  /** Resolved table state at `version`: the live file set + schema +
    * the newest streaming batch id committed per writer app (the Delta
    * `txn` action's state — what makes foreachBatch restarts
    * exactly-once: a replayed batch id is detected here and skipped).
    *
    * `addedIn` maps each live file's path to the version whose commit
    * added it — the provenance that lets a scan tag rows with
    * `_commit_version`. Checkpoints persist it as a per-add `v` field,
    * so attribution survives log truncation; a file from a
    * pre-provenance checkpoint conservatively attributes the checkpoint
    * version itself. */
  final case class Snapshot(
      version: Long, schemaJson: String, files: Seq[AddFile],
      txns: Map[String, Long] = Map.empty,
      addedIn: Map[String, Long] = Map.empty,
      /** CHECK constraints by name → SQL boolean expression. Enforced on
        * every row-bearing write path; a row passes unless the
        * expression evaluates to FALSE (SQL CHECK: NULL passes). */
      constraints: Map[String, String] = Map.empty,
      /** Free-form table properties (e.g. [[TxLog.BloomColumnsProp]]);
        * full-replacement action like constraints, absent on tables
        * that never set one (no format bump). */
      props: Map[String, String] = Map.empty,
      /** Row-tracking high watermark: the first row id a future
        * assignment may use (monotone max over replayed commits' `hwm`
        * info fields; 0 on tables that never assigned one). */
      rowIdWatermark: Long = 0L) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  /** What [[GraftTable]]'s commit loop does when its publish loses the
    * race for the next version. */
  private[medallion] sealed trait OnConflict
  /** Re-run the body at the new head — appends and schema/property ops,
    * which re-derive everything they commit from the head they see. */
  private[medallion] case object Retry extends OnConflict
  /** Re-publish the same actions on top of interleaved blind appends —
    * row-preserving rewrites (compact, zorder, purge); any other
    * interleaved commit aborts. */
  private[medallion] case object Rebase extends OnConflict
  /** The head must still be the read version (CAS): the actions were
    * computed against that exact snapshot — upsert, delete, row-level
    * DML, restore, addConstraint, overwrite, create. */
  private[medallion] case object Abort extends OnConflict

  /** An append's staged identity values went stale (a racing allocator
    * moved the head's identity columns): restage, don't commit. */
  private[medallion] object IdentityRaced extends scala.util.control.ControlThrowable

  private[graft] val LogDir = "_graft_log"

  // ------------------------------------------------------ column mapping
  // Delta-style name mapping (column-mapping mode `name`, Delta protocol
  // §column-mapping): each field MAY carry the immutable PHYSICAL column
  // name its data files use in its StructField metadata, under
  // [[PhysicalKey]] — rename is then a schema-only commit (logical name
  // changes, physical stays), drop is a schema-only commit (the field
  // leaves the schema; file bytes are simply never read). The mapping
  // rides inside the existing schemaJson action — no new log action, and
  // unmapped tables (no field carries the key) behave byte-for-byte as
  // before. Everything below the schema boundary — file columns, stats
  // keys, pushdown — speaks PHYSICAL; translation happens exactly at
  // ingestion (logical frame → physical bytes) and read-out (physical
  // bytes → logical frame).

  private[graft] val PhysicalKey = "graft.physical"

  private[graft] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private[graft] def isMapped(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysicalKey))

  /** The schema of the BYTES: fields renamed to their physical names
    * (metadata kept — it is inert in a parquet read schema). */
  private[graft] def physicalSchema(schema: StructType): StructType =
    if (!isMapped(schema)) schema
    else StructType(schema.fields.map(f => f.copy(name = physicalName(f))))

  /** Physical name of logical column `name`; columns outside the schema
    * (metadata cols, genuinely new mergeSchema fields on unmapped
    * tables) pass through unchanged. */
  private[graft] def physicalOf(schema: StructType, name: String): String =
    schema.fields.find(_.name == name).map(physicalName).getOrElse(name)

  /** Rename an about-to-stage logical frame to physical column names. */
  private[graft] def toPhysical(df: DataFrame, schema: StructType): DataFrame =
    if (!isMapped(schema)) df
    else df.select(df.columns.toIndexedSeq.map(c =>
      col(c).as(physicalOf(schema, c))): _*)

  /** A fresh physical name for a new column on a MAPPED table: unique
    * across the table's whole lifetime (a re-added name must never
    * resurrect bytes a dropped column left in old files). */
  private[graft] def freshPhysical(logical: String): String =
    s"${logical}_p${UUID.randomUUID().toString.replace("-", "").take(12)}"

  private[graft] def withPhysical(f: StructField, physical: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysicalKey, physical).build())

  // ----------------------------------------------------- bloom skipping
  // Per-file Bloom filters (the Delta bloomFilterIndex / Iceberg puffin
  // shape) for POINT lookups: min/max stats cannot prune `WHERE id = x`
  // when ids are scattered (every file's range covers x), but a 1 KiB
  // per-file bitset answers "provably absent" for ~99% of files at any
  // table size. Opt-in per table via the `bloom.columns` property;
  // restricted to int/long/string columns (the point-lookup types, and
  // the ones whose write-side xxhash64 the probe can replay exactly).
  // 8192 bits / 6 probes ≈ 2% false positives at ~1k distinct values
  // per file; false positives only cost IO, never rows.

  /** Table property naming the comma-separated LOGICAL columns to bloom. */
  private[graft] val BloomColumnsProp = "bloom.columns"
  /** Table property sizing the per-file bitset (bits; default
    * [[BloomBits]]). Size to ~10 bits per expected distinct value per
    * file — a 128 MB file of ~2M ids wants `bloom.bits = 25000000`
    * (~3 MB of log per file; still metadata-sized next to the data).
    * The PROBE side reads m from the stored bitset's length, so files
    * written under different sizes coexist in one table. */
  private[graft] val BloomBitsProp = "bloom.bits"

  /** Table property naming the comma-separated LOGICAL columns to
    * sketch with per-file HLL registers for distinct-count stats
    * (int/long/string — the same hash-replayable set as blooms). */
  private[graft] val NdvColumnsProp = "ndv.columns"
  /** HLL precision: 2^11 = 2048 registers, 2 KiB per file×column,
    * ≈2.3% relative error — planning-grade. */
  private[graft] val HllP = 11
  /** Table property naming the comma-separated LOGICAL columns to keep
    * EXACT per-file sums for (integral types only) — the zero-scan
    * SUM-aggregate enabler. */
  private[graft] val SumColumnsProp = "sum.columns"

  /** Table property: max deleted fraction of a file before a
    * merge-on-read delete, update or upsert rewrites it instead (the
    * commit core's triage, see [[GraftTable.deleteRows]]). */
  private[graft] val DvMaxFractionProp = "dv.maxFraction"
  private[graft] val DvMaxFraction = 0.5
  /** Table property: max serialized deletion-vector bytes per file. */
  private[graft] val DvMaxBytesProp = "dv.maxBytes"
  private[graft] val DvMaxBytes = 65536
  /** Table property routing SQL `DELETE FROM` with an arbitrary
    * predicate to [[GraftTable.deleteRows]] when set to
    * `merge-on-read` (default: copy-on-write via the row-level
    * rewrite; exact one-column ranges stay metadata-only drops under
    * both modes). */
  private[graft] val DeleteModeProp = "delete.mode"
  private[graft] val DeleteModeMor = "merge-on-read"
  /** Table properties routing SQL `UPDATE` / `MERGE INTO` through the
    * DELTA-based row-level write ([[GraftTable.commitDeltaRowLevel]])
    * when set to `merge-on-read`: matched rows become deletion-vector
    * entries on their source files and the post-image rows append as
    * new files — ONE commit, zero data-file rewrites for DV-eligible
    * files (Delta's DV-backed DML shape). Default: copy-on-write via
    * the group-based rewrite. */
  private[graft] val UpdateModeProp = "update.mode"
  private[graft] val MergeModeProp = "merge.mode"
  /** Table property: auto-checkpoint the commit log every N commits
    * (Delta's every-10-commits shape; default [[CheckpointIntervalDefault]],
    * `0` disables). Checked best-effort after each successful commit —
    * a raced or failed checkpoint never fails the batch — so a
    * streaming ingest accumulating thousands of commits keeps snapshot
    * resolution at O(interval) log reads without an operator ever
    * running `CALL system.checkpoint`. */
  private[graft] val CheckpointIntervalProp = "checkpoint.interval"
  private[graft] val CheckpointIntervalDefault = 20
  /** Table property: OPT-IN commit-log truncation (Delta's
    * logRetentionDuration shape, version-counted like everything in
    * this log). When ≥ 1, each auto-checkpoint also best-effort drops
    * commit files a resolution inside the trailing window can never
    * need ([[GraftTable.truncateLog]]); absent/0 keeps history forever
    * (the prior behavior). Without truncation a streaming table's log
    * directory grows one file per commit FOREVER — 10⁷ commits is 10⁷
    * directory entries scanned by every `latestVersion()` listing, an
    * object-store LIST wall unrelated to data size. Keep this ≥ the
    * vacuum retention: vacuum resolves every snapshot in ITS window. */
  private[graft] val LogRetentionProp = "log.retention.versions"
  /** Table property: comma-separated LOGICAL column names every staged
    * file's rows are locally sorted by (Iceberg's `WRITE ORDERED BY`
    * shape, ascending nulls-first). Batch staging ([[GraftTable]]'s
    * `stageData` — appends, compaction output, COW/MOR rewrites through
    * it) sorts within each rolled file and stamps the file with a
    * [[SortedKey]] marker; the DSv2 fanout writers (streaming epochs,
    * row-level staging) write row-at-a-time and leave files unstamped.
    * The scan reports the marked order under storage-partitioned key
    * grouping ([[org.apache.spark.sql.connector.read.SupportsReportOrdering]]),
    * which is what turns a co-bucketed sort-merge join zero-SORT on top
    * of zero-exchange. Tighter parquet pages on the sorted columns are
    * the side benefit at any scale. */
  private[graft] val WriteOrderProp = "write.orderBy"
  /** Reserved stats key marking a file as locally sorted: min == max ==
    * the comma-joined PHYSICAL column list the writer sorted by. Same
    * `$`-reserved namespace trick as [[PartitionSpec.Prefix]] —
    * `freshPhysical` never emits `$`, so no data column collides. */
  private[graft] val SortedKey = "__s$order"

  /** [[WriteOrderProp]] resolved against a snapshot for the BATCH
    * staging path, as the PHYSICAL prefix the staged schema can honor.
    * Deliberately tolerant of a stale (post-rename) property value:
    * `physicalOf`'s identity fallback lets a stale logical name match
    * the column's stable physical name, and that is SOUND here because
    * `stageData` sorts by exactly this list before stamping it — the
    * stamp can never outrun the sort. Row-level commits must NOT use
    * this resolver (their sort happened in Spark's plan under the
    * write's DECLARED ordering — see [[writeOrderDeclaredPhys]]).
    * Stops at the first absent column: a sort by (c1, c3) is not a
    * (c1, c2, c3) prefix. */
  private[graft] def writeOrderPhys(
      snap: Snapshot, writeSchema: StructType): Seq[String] =
    snap.props.get(WriteOrderProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(c => physicalOf(snap.schema, c))
      .takeWhile(p => writeSchema.fieldNames.contains(p))

  /** The LOGICAL prefix of [[WriteOrderProp]] a row-level write
    * DECLARES via RequiresDistributionAndOrdering — current logical
    * names only, NO identity fallback: a stale post-rename property
    * declares nothing, so Spark adds no sort. */
  private[graft] def writeOrderDeclared(snap: Snapshot): Seq[String] =
    snap.props.get(WriteOrderProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .takeWhile(c => snap.schema.fieldNames.contains(c))

  /** [[writeOrderDeclared]] mapped to physical names and truncated to
    * what `writeSchema` carries — the ONLY list a row-level commit may
    * stamp. Stamp and sort are equal by construction: both derive from
    * the same declared prefix, so a write that declared nothing (stale
    * property, DELETE with no data columns) stamps nothing. Divergence
    * here was a real bug: `writeOrderPhys`'s identity fallback stamped
    * rewrite files the write never sorted after a column rename. */
  private[graft] def writeOrderDeclaredPhys(
      snap: Snapshot, writeSchema: StructType): Seq[String] =
    writeOrderDeclared(snap)
      .map(c => physicalOf(snap.schema, c))
      .takeWhile(p => writeSchema.fieldNames.contains(p))

  /** Columns that get min/max stats: primitive orderable types only. */
  private[graft] def statsColumns(schema: StructType): Seq[StructField] =
    schema.fields.toSeq
      .filter(_.name != RowIdPhysCol) // internal physical column: no stats
      .filter(f => f.dataType match {
        case _: NumericType | StringType | DateType | TimestampType => true
        case _ => false
      })

  /** The writer of `schema`'s files into the table directory `dir`
    * under snapshot `at` (None or version 0: a table not yet created):
    * each task writes its files under final, UUID-unique names where the
    * commit will reference them (see [[ParquetWrites]]), with everything
    * resolved from that one snapshot — the one the caller validated its
    * commit against: the bucket-spec split key
    * ([[PartitionSpec.tupleKeyFn]]) and the per-file stats its tasks
    * compute ([[FileStats]]) — min/max/nulls of the stats columns, the
    * partition-transform bounds under their `__p$` keys, and the opt-in
    * `bloom.columns` / `ndv.columns` / `sum.columns` sketches on the
    * physical columns `schema` carries. */
  private[graft] def writerFactory(
      spark: SparkSession, at: Option[Snapshot], schema: StructType,
      dir: String, ridMetaIdx: Option[Int] = None)
      : org.apache.spark.sql.graft.GraftParquetWriterFactory = {
    import FileStats.{Bloom, Bounds, Fold, Hll, Sum}
    val head = at.filter(_.version > 0L)
    def propCols(prop: String, types: DataType => Boolean): Seq[String] =
      head.toSeq.flatMap { h =>
        h.props.get(prop).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
          .map(c => physicalOf(h.schema, c))
          .filter(p => schema.fields.exists(f => f.name == p && types(f.dataType)))
      }
    val hashable = (dt: DataType) => dt == IntegerType || dt == LongType || dt == StringType
    lazy val bloomBits =
      head.flatMap(_.props.get(BloomBitsProp)).map(_.toInt).getOrElse(BloomBits)
    val transforms =
      head.toSeq.flatMap(h => PartitionSpec.resolved(h.props, h.schema, schema))
    def c(name: String): Column = col(s"`$name`")
    val folds: Seq[(Column, Fold)] =
      statsColumns(schema).map(f => c(f.name) -> Bounds(f.name, statsKind(f.dataType))) ++
        transforms.map { t =>
          val dt = schema(t.source).dataType
          PartitionSpec.column(t, dt) -> Bounds(t.statKey, PartitionSpec.statsKind(t, dt))
        } ++
        propCols(BloomColumnsProp, hashable).map(p => xxhash64(c(p)) -> Bloom(p, bloomBits)) ++
        // nulls map to NULL (not hashed): xxhash64(NULL) is the seed, a
        // phantom distinct value
        propCols(NdvColumnsProp, hashable).map(p =>
          when(c(p).isNotNull, xxhash64(c(p))) -> Hll(p)) ++
        propCols(SumColumnsProp, dt => dt == ByteType || dt == ShortType ||
          dt == IntegerType || dt == LongType).map(p =>
          c(p).cast(DecimalType(38, 0)) -> Sum(p))
    org.apache.spark.sql.graft.ParquetWrites.factory(spark, schema, dir,
      PartitionSpec.tupleKeyFn(transforms, schema), ridMetaIdx,
      FileStats.spec(spark, schema, folds))
  }
  /** Table property (`'true'`) opting in to metadata-only TYPE
    * WIDENING ([[GraftTable.widenColumn]] — Delta 3.2's typeWidening
    * shape). Off by default: a widened schema requires every reader to
    * up-cast old files at scan time, so the format bump is explicit. */
  private[graft] val TypeWideningProp = "type.widening"
  /** Table property (`'true'`) turning on the CHANGE DATA FEED: every
    * row-mutating commit (upsert / delete / deleteRows / SQL row-level
    * DML) additionally stages its net row changes as parquet under
    * [[ChangeDir]] and references them with `cdc` actions, so
    * [[GraftTable.readChangeFeed]] can serve deletes and updates — not
    * just appends — incrementally (Delta's
    * `delta.enableChangeDataFeed`). */
  private[graft] val CdfEnabledProp = "cdf.enabled"
  private[graft] val ChangeDir = "_change"
  /** Suffix of the bitmap manifests merge-on-read tasks spill into the
    * table root; the commit deletes them once folded, vacuum the rest. */
  private[graft] val DvManifestSuffix = ".dvmanifest"

  // -------------------------------------------------------- row tracking
  // Delta-style ROW TRACKING (opt-in via the `rowTracking` table
  // property): every row carries a STABLE 64-bit id that survives
  // compaction, z-order, and copy-on-write rewrites.
  //
  //   - Appends assign ids VIRTUALLY: each new AddFile records a
  //     `baseRowId`, and row id = base + physical row index — zero data
  //     bytes, the Delta "fresh row id" shape. The table-level high
  //     watermark rides each assigning commit's info line (`hwm`) and
  //     resolves as the max over replayed commits, so ranges are never
  //     reused even after the assigning files are compacted away.
  //   - Row-preserving rewrites (compact / z-order / DV purge) read the
  //     sources WITH their ids and MATERIALIZE them into the rewritten
  //     files as a physical `_graft_row_id` column (outside the table
  //     schema — explicit-schema readers never see it). Such rewrites
  //     allocate nothing, so the rebase-over-concurrent-appends path
  //     stays sound.
  //   - Copy-on-write row-level DML (SQL UPDATE) carries each row's id
  //     through Spark's rewrite plan as a preserved metadata column and
  //     materializes it into the replacement files; replacement adds
  //     ALSO get a fresh baseRowId, so rows whose materialized id is
  //     null (e.g. MERGE-inserted) fall back to base + index — fresh
  //     unique ids, the coalesce convention the scan implements.
  //   - Merge-on-read row-level DML preserves ids on the post-image
  //     plane too: the keyed upsert joins each updated key's base id
  //     into its post-image (min-id per key on duplicate-keyed bases),
  //     and SQL MOR UPDATE/MERGE threads `_row_id` through the delta
  //     plan as preserved metadata into update(meta, id, row) — so an
  //     id-keyed consumer sees an update as an UPDATE on both DML
  //     planes (Delta's row-tracking contract). NOT-MATCHED inserts
  //     stage a null id and coalesce to fresh base + index.
  //   - Readers serve `_row_id` = coalesce(materialized column,
  //     baseRowId + row index, null). Files with neither (written
  //     before tracking was enabled) read as null rather than
  //     failing: honest degradation, never wrong ids.
  //
  // The ONE rule every rewrite follows: with the property on, a
  // rewrite materializes each carried row's id — also when some
  // touched file has no id info (its rows materialize null and take
  // base + index where the commit assigns a base), so one untracked
  // file never costs the tracked rows their ids. The change-feed diff
  // keys by row id only when every pre-image file carries id info
  // (`ridKeyed`). Survivor rewrites share one body (`restage`).
  //
  // MOR deletes need no handling at all: the file's bytes are immutable
  // and DV'd rows still advance the row index, so surviving ids never
  // shift.
  private[graft] val RowTrackingProp = "rowTracking"
  /** The materialized row-id column's PHYSICAL name in data files. */
  private[graft] val RowIdPhysCol = "_graft_row_id"

  private[graft] def rowTrackingEnabled(snap: Snapshot): Boolean =
    snap.props.get(RowTrackingProp).contains("true")

  /** Assign base row ids to fresh adds from the watermark; returns the
    * assigned adds and the new watermark (= the commit's `hwm`). */
  private[graft] def assignBaseRowIds(
      adds: Seq[AddFile], watermark: Long): (Seq[AddFile], Long) = {
    var next = watermark
    val assigned = adds.map { a =>
      val withBase = a.copy(baseRowId = Some(next))
      next += a.rows
      withBase
    }
    (assigned, next)
  }
  // ---------------------------------------------------- generated columns
  // Delta-style GENERATED ALWAYS AS: the table property
  // `generated.<col> = <sql expr>` declares <col> computed from the
  // other columns. Batch writes that OMIT the column get it filled
  // (expr cast to the declared type, projected into schema order);
  // writes that PROVIDE it are validated value-by-value through the
  // same staged-bytes machinery as CHECK constraints (`col <=> expr` —
  // a mismatch refuses the commit). The classic pairing is a generated
  // day column under `partition.spec = id(day)`: ingest never computes
  // the partition value, queries on it prune.

  private[graft] val GeneratedPrefix = "generated."

  private[graft] def generatedCols(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(GeneratedPrefix) =>
      k.stripPrefix(GeneratedPrefix) -> v }

  /** The per-column consistency checks enforced when a writer PROVIDES
    * a generated column: null-safe equality with the defining
    * expression, under the constraint engine's CHECK semantics. */
  private[graft] def generatedChecks(props: Map[String, String]): Map[String, String] =
    generatedCols(props).map { case (c, e) =>
      s"$GeneratedPrefix$c" -> s"`$c` <=> ($e)" }

  // ----------------------------------------------------- identity columns
  // Delta-style GENERATED ALWAYS AS IDENTITY: the table property
  // `identity.<col> = <next>` declares <col> (a BIGINT) engine-assigned
  // and stores the NEXT unallocated value. An append that omits the
  // column gets monotonically-unique values at or above `next` (gaps
  // allowed, the Delta contract); the SAME commit advances the
  // property to max-assigned + 1, read from the staged files' own
  // stats — so allocation is transactional with the data, and a racing
  // allocator forces a restage instead of overlapping ranges. Appends
  // PROVIDING the column refuse (ALWAYS semantics); overwrite is the
  // documented escape hatch, after which [[GraftTable.syncIdentity]]
  // re-bases `next` above the live maximum from log stats alone.

  private[graft] val IdentityPrefix = "identity."

  private[graft] def identityCols(props: Map[String, String]): Map[String, Long] =
    props.collect { case (k, v) if k.startsWith(IdentityPrefix) =>
      k.stripPrefix(IdentityPrefix) -> v.trim.toLong }

  /** Min age (ms) before vacuum may delete an unreachable data or
    * change file (or spilled bitmap manifest) no commit in the log
    * removed. Writers write where the commit will reference them BEFORE
    * they publish, so a zero-age sweep racing an in-flight writer would
    * leave the winning commit naming deleted files: the guard must
    * exceed the longest write→commit gap. The key predates data files
    * being covered; tests set it to 0 via the table property. */
  private[graft] val VacuumCdcMinAgeProp = "vacuum.cdcMinAgeMs"
  private[graft] val VacuumCdcMinAge = 600000L
  /** Column carrying the change kind in CDF output: `insert` |
    * `delete`. Updates surface as a delete+insert pair (net-change
    * semantics — exactly what an incremental consumer folds; pre/post
    * pairing adds nothing a fold can use). */
  private[graft] val ChangeTypeCol = "_change_type"
  private[graft] val BloomBits = 8192
  private[graft] val BloomK = 6
  /** xxhash64's SQL default seed — h1 is the plain `xxhash64(col)`
    * the writer's codegen'd stats projection computes; h2 = XXH64(h1)
    * (double hashing with a derived second hash, the standard trick). */
  private[graft] val BloomSeed = 42L

  private[graft] def bloomH2(h1: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h1, BloomSeed)

  /** The k bit positions of a value from its two seed hashes
    * (Kirsch–Mitzenmacher double hashing: g_i = h1 + i·h2). */
  private[graft] def bloomBitsOf(h1: Long, h2: Long, m: Int): Array[Int] =
    Array.tabulate(BloomK)(i =>
      (((h1 + i * h2) % m + m) % m).toInt)

  /** Probe a serialized filter; true = the value MAY be present
    * (absence proof is the only sound pruning direction). The bit
    * count comes from the stored bitset itself, so differently-sized
    * filters (bloom.bits changed mid-table) all probe correctly. */
  private[graft] def bloomMightContain(b64: String, h1: Long, h2: Long): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    if (bytes.isEmpty) return true
    bloomBitsOf(h1, h2, bytes.length * 8).forall { bit =>
      (bytes(bit >>> 3) & (1 << (bit & 7))) != 0
    }
  }

  /** Write-side-identical hashes of a probe literal: evaluate Spark's
    * own XxHash64 over a typed literal with the same seeds the staging
    * aggregate used — the probe and the build hash the same bytes. */
  /** Normalize a stats value into its comparison-domain string (see
    * [[TxLog.ColStats]]): timestamps → epoch millis, dates → epoch days,
    * numerics → decimal string, strings as-is. */
  private[graft] def statsLiteral(v: Any): String = v match {
    case t: java.sql.Timestamp => t.getTime.toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case t: java.time.Instant => t.toEpochMilli.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    // scala.BigDecimal extends java.lang.Number, so this case also
    // covers it (toString is the plain decimal form either way)
    case n: java.lang.Number => new java.math.BigDecimal(n.toString).toPlainString
    case s: String => s
    case other => other.toString
  }

  /** Is "this file has NO stats entry for the column" proof the file is
    * all-null on it? Only for types the writer ALWAYS records when
    * non-null values exist: non-stats-able types (boolean, binary,
    * array, struct, map) never get entries, and float/double entries
    * are dropped when min/max lands on NaN/Infinity — for those,
    * absence proves nothing and null counts must stay unknown. */
  private[graft] def absenceMeansAllNull(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => false
    case _: NumericType | StringType | DateType | TimestampType => true
    case _ => false
  }

  /** Compare two strings in UTF-8 BYTE order — the order Spark's
    * UTF8String min/max aggregates use when the stats were written.
    * Java `String.compareTo` is UTF-16 code-unit order, which diverges
    * for supplementary characters (surrogates 0xD800–0xDFFF sort BELOW
    * BMP chars in 0xE000–0xFFFF, but their code points sort above all
    * of the BMP): comparing stored bounds with `compareTo` could prune
    * a file that actually overlaps. Code-point order == UTF-8 byte
    * order, so step by code point. */
  private[graft] def utf8Cmp(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return java.lang.Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    java.lang.Integer.compare(a.length - i, b.length - j)
  }

  private[graft] def statsKind(dt: DataType): String = dt match {
    case StringType => "str"
    case _ => "num"
  }

  /** False for NaN/±Infinity floats/doubles — values the decimal stats
    * domain cannot represent. */
  private[graft] def isFiniteStat(v: Any): Boolean = v match {
    case d: java.lang.Double => !d.isNaN && !d.isInfinite
    case f: java.lang.Float => !f.isNaN && !f.isInfinite
    case _ => true
  }

  /** `snap` with only the files whose stats overlap EVERY per-column
    * [lo, hi] bound. Columns without stats never prune; NaN/Infinity
    * bounds are dropped (decimal stats cannot answer them) — both
    * conservative, row semantics stay with the caller's residual
    * filter. */
  private[graft] def pruned(
      snap: Snapshot, constraints: Seq[(String, Option[Any], Option[Any])]): Snapshot = {
    val usable = constraints.filter { case (_, lo, hi) =>
      lo.forall(isFiniteStat) && hi.forall(isFiniteStat)
    }
    if (usable.isEmpty) return snap
    snap.copy(files = snap.files.filter { f =>
      usable.forall { case (c, lo, hi) =>
        val phys = physicalOf(snap.schema, c)
        f.stats.get(phys).forall(_.overlaps(
          lo.map(statsLiteral), hi.map(statsLiteral))) &&
          PartitionSpec.admits(snap.schema, f, phys, lo, hi)
      }
    })
  }


  private[graft] def bloomHashes(value: Any, dt: DataType): Option[(Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    if (value == null) return None
    // coerce the filter literal to the COLUMN's native type — the
    // write-side aggregate hashed the column's own representation
    val coerced: Option[Any] = (dt, value) match {
      case (LongType, n: java.lang.Number) => Some(n.longValue())
      case (IntegerType, n: java.lang.Number)
          if n.longValue() == n.intValue().toLong => Some(n.intValue())
      case (StringType, s: String) => Some(s)
      case (StringType, u: org.apache.spark.unsafe.types.UTF8String) =>
        Some(u.toString)
      case _ => None
    }
    coerced.map { v =>
      val h1 = new XxHash64(Seq(Literal.create(v, dt)), BloomSeed)
        .eval(null).asInstanceOf[Long]
      (h1, bloomH2(h1))
    }
  }

  /** Atomic put-if-absent with full content: hard-link a fully-written
    * temp file to the target name. Link creation is a single atomic
    * metadata operation that FAILS if the target exists — unlike
    * `Files.move`, whose POSIX rename silently overwrites. Returns true
    * if this writer won the name. */
  private[graft] def putIfAbsent(content: String, target: Path): Boolean =
    putIfAbsentLines(Iterator.single(content), target)

  /** Streaming [[putIfAbsent]]: lines write through a buffered writer
    * (separator-joined, no trailing newline — byte-identical to the
    * string path), then the atomic hard-link publish. A million-add
    * checkpoint streams to disk without a monolithic driver string. */
  private[graft] def putIfAbsentLines(
      lines: Iterator[String], target: Path): Boolean = {
    val tmp = target.getParent.resolve(s".tmp-${UUID.randomUUID()}")
    // one try/finally spans render+write+link: the lazily-rendered
    // lines iterator can throw mid-write, and the partial tmp file
    // must be reclaimed on EVERY exit path, not only after the link
    try {
      val w = Files.newBufferedWriter(tmp, java.nio.charset.StandardCharsets.UTF_8)
      try {
        var first = true
        lines.foreach { l =>
          if (!first) w.write("\n")
          w.write(l); first = false
        }
      } finally w.close()
      try { Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally { Files.deleteIfExists(tmp); () }
  }

  // ---------------------------------------------------------------- JSON
  // json4s (ships with Spark) — hand-navigated, no reflection extraction.

  private[medallion] def statsToJson(s: Map[String, ColStats]): JObject =
    JObject(s.toList.map { case (c, cs) =>
      c -> (JObject(List("k" -> (JString(cs.kind): JValue),
        "min" -> JString(cs.min), "max" -> JString(cs.max)) ++
        cs.nulls.map(n => "nulls" -> (JLong(n): JValue)).toList ++
        cs.bloom.map(b => "b" -> (JString(b): JValue)).toList ++
        cs.hll.map(h => "h" -> (JString(h): JValue)).toList ++
        cs.sum.map(x => "sm" -> (JString(x): JValue)).toList): JValue)
    })

  private def addToJson(a: AddFile, addedIn: Option[Long] = None): JObject =
    JObject(List(
      // a DV-carrying add uses its own action tag: a pre-DV reader that
      // silently ignored the bitmap would RESURRECT deleted rows, so it
      // must fail loudly instead ("unknown action") — the same format-
      // bump-confined-to-users gating as constraints/props (only commits
      // and checkpoints actually referencing a DV'd file carry the tag)
      "a" -> (JString(if (a.dv.isDefined) "add-dv" else "add"): JValue),
      "path" -> JString(a.path),
      "rows" -> JLong(a.rows), "bytes" -> JLong(a.bytes),
      "stats" -> statsToJson(a.stats)) ++
      a.dv.map(b => "dv" -> (JString(b): JValue)).toList ++
      (if (a.dv.isDefined) List("dvn" -> (JLong(a.dvRows): JValue)) else Nil) ++
      // row tracking: extra FIELDS on the add action, not a new action
      // — readers that ignore them simply serve no _row_id, never
      // wrong rows (the same confinement as the info line's ts)
      a.baseRowId.map(b => "rid" -> (JLong(b): JValue)).toList ++
      (if (a.ridMaterialized) List("ridm" -> (JBool(true): JValue)) else Nil) ++
      // provenance: which commit originally added the file. Always in
      // checkpoints; in LIVE commits only when the commit re-adds a path
      // it did not originate (a DV update must not re-attribute the
      // file's surviving rows to the delete's version).
      addedIn.map(v => "v" -> (JLong(v): JValue)).toList)

  private[medallion] def str(j: JValue): String = j match {
    case JString(s) => s
    case other => throw new IllegalStateException(s"txlog: expected string, got $other")
  }
  private[medallion] def lng(j: JValue): Long = j match {
    case JLong(v) => v
    case JInt(v) => v.toLong
    case other => throw new IllegalStateException(s"txlog: expected long, got $other")
  }

  /** Inverse of [[statsToJson]]. */
  private def parseStats(j: JValue): Map[String, ColStats] = j match {
    case JObject(fields) => fields.map { case (c, v) =>
      val sm = v.asInstanceOf[JObject].obj.toMap
      c -> ColStats(str(sm("k")), str(sm("min")), str(sm("max")),
        sm.get("nulls").map(lng), sm.get("b").map(str),
        sm.get("h").map(str), sm.get("sm").map(str))
    }.toMap
    case _ => Map.empty[String, ColStats]
  }

  private def parseAdd(o: JObject): (AddFile, Option[Long]) = {
    val m = o.obj.toMap
    val stats = m.get("stats").map(parseStats).getOrElse(Map.empty[String, ColStats])
    (AddFile(str(m("path")), lng(m("rows")), lng(m("bytes")), stats,
      m.get("dv").map(str), m.get("dvn").map(lng).getOrElse(0L),
      m.get("rid").map(lng),
      m.get("ridm").exists { case JBool(b) => b; case _ => false }),
      m.get("v").map(lng))
  }

  // ------------------------------------------------- deletion vectors
  // Merge-on-read DELETE (the Delta deletion-vector / Iceberg v2
  // position-delete shape): a sparse DELETE that touches every file is
  // a full-table rewrite under copy-on-write; recording the deleted
  // ROW INDEXES per file as a compressed bitmap in the log makes it a
  // metadata-sized commit at any table size. Bitmaps are RoaringBitmaps
  // (ships with Spark) over parquet row indexes; int-indexed is
  // sufficient — a single parquet file beyond 2^31 rows does not
  // happen under any sane target file size, and the build guards it.

  /** `bm` run-optimized, in the RoaringBitmap portable format — the
    * bytes [[graft.functions.DvAgg]], the delta writers and the log's
    * base64 DVs share. */
  private[graft] def dvBytes(bm: org.roaringbitmap.RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val buf = java.nio.ByteBuffer.allocate(bm.serializedSizeInBytes())
    bm.serialize(buf)
    buf.array()
  }

  /** The bitmap [[dvBytes]] wrote. */
  private[graft] def dvFromBytes(bytes: Array[Byte]): org.roaringbitmap.RoaringBitmap = {
    val bm = new org.roaringbitmap.RoaringBitmap()
    bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
    bm
  }

  private[graft] def dvSerialize(bm: org.roaringbitmap.RoaringBitmap): String =
    java.util.Base64.getEncoder.encodeToString(dvBytes(bm))

  /** `a` with `bm` as its deletion vector. */
  private[graft] def withDv(a: AddFile, bm: org.roaringbitmap.RoaringBitmap): AddFile =
    a.copy(dv = Some(dvSerialize(bm)), dvRows = bm.getLongCardinality)

  private[graft] def dvDeserialize(b64: String): org.roaringbitmap.RoaringBitmap =
    dvFromBytes(java.util.Base64.getDecoder.decode(b64))

  /** Fold `(__file, __idx)` match pairs into per-file deletion bitmaps
    * EXECUTOR-SIDE via the mergeable [[graft.functions.DvAgg]]
    * aggregator — the bitmaps [[GraftTable.deleteRows]] and the
    * merge-on-read [[GraftTable.upsert]] hand to the commit core. Output
    * is one row per file: (`__file` string, `dv` binary) — `dv` is null
    * when the optimized bitmap exceeds `maxBytes`. The driver therefore
    * collects one compressed bitmap per file, never row indexes. */
  private[graft] def dvAggregate(pairs: DataFrame, maxBytes: Int): DataFrame = {
    val dvFn = org.apache.spark.sql.functions.udaf(new graft.functions.DvAgg(maxBytes))
    pairs.groupBy("__file").agg(dvFn(col("__idx")).as("dv"))
  }

  /** Reader features this build understands. A commit that uses a gated
    * capability carries a `protocol` line naming the features required
    * to read it (Delta's minReaderVersion/readerFeatures shape) — so a
    * pre-feature reader that knows the protocol action fails with a
    * NAMED missing capability ("requires reader feature 'x'") instead
    * of a generic unknown-action error, and tables using no gated
    * feature never grow a protocol line at all (format-bump
    * confinement, same policy as the feature actions themselves). */
  private[graft] val SupportedReaderFeatures: Set[String] = Set(
    "deletionVectors", "changeDataFeed", "checkConstraints",
    "tableProperties", "columnMapping", "typeWidening", "rowTracking")

  /** The reader features a commit's CONTENT requires — derived, not
    * declared, so the protocol line can never drift from the actions it
    * gates. Deterministic (sorted emission) for checkpoint bytes. */
  private[graft] def requiredFeatures(
      op: String, schemaJson: Option[String], adds: Iterable[AddFile],
      constraints: Option[Map[String, String]],
      props: Option[Map[String, String]],
      cdc: Seq[(String, Long)], cdcFull: Seq[String]): Seq[String] =
    (Seq(
      // the widen commit is the first point a reader MUST up-cast old
      // parquet bytes into the widened schema — gate it by name there
      // (the one op-derived feature: the widened schema json alone is
      // indistinguishable from a table created wide)
      if (op == "widen") Some("typeWidening") else None,
      if (adds.exists(_.dv.isDefined)) Some("deletionVectors") else None,
      if (cdc.nonEmpty || cdcFull.nonEmpty) Some("changeDataFeed") else None,
      // feature follows the ACTION's presence: an empty full-replacement
      // set (UNSET-all) still renders the action, so it still gates
      if (constraints.isDefined) Some("checkConstraints") else None,
      if (props.isDefined) Some("tableProperties") else None,
      if (schemaJson.exists(_.contains(PhysicalKey))) Some("columnMapping")
      else None,
      // row-id bases/materialization flags and the hwm watermark are
      // SILENTLY droppable by a pre-tracking writer's checkpoint (they
      // are extra fields on known actions, not new actions) — which
      // would discard the watermark and every materialization flag,
      // corrupting rid-based CDF pairing downstream. Gate by name on
      // the property-enable commit (Delta gates rowTracking as a table
      // feature for the same reason): every replay serving `_row_id`
      // must cross either that commit or a checkpoint carrying the
      // property, so pre-tracking code fails loudly there. Content
      // (rid/hwm) canNOT be the trigger — appends assign virtual ids
      // on every table, and gating on them would grow a protocol line
      // on tables that never opted into any feature.
      if (props.exists(_.get(RowTrackingProp).contains("true")))
        Some("rowTracking")
      else None).flatten).sorted

  /** One commit file = JSON lines: an `info` line (op + readVersion, for
    * history/debugging), optional `protocol` + `schema` lines, then
    * add/remove lines. */
  private[graft] def renderCommit(
      op: String, readVersion: Long, schemaJson: Option[String],
      adds: Iterable[AddFile], removes: Seq[String],
      txns: Map[String, Long] = Map.empty,
      addVersions: Map[String, Long] = Map.empty,
      constraints: Option[Map[String, String]] = None,
      tsMillis: Option[Long] = None,
      props: Option[Map[String, String]] = None,
      cdc: Seq[(String, Long)] = Nil,
      cdcFull: Seq[String] = Nil,
      mergeKey: Option[String] = None,
      rowIdWatermark: Option[Long] = None): String =
    renderCommitLines(op, readVersion, schemaJson, adds, removes, txns,
      addVersions, constraints, tsMillis, props, cdc, cdcFull, mergeKey,
      rowIdWatermark)
      .mkString("\n")

  private def metaJsons(
      op: String, readVersion: Long, schemaJson: Option[String],
      adds: Iterable[AddFile], txns: Map[String, Long],
      constraints: Option[Map[String, String]],
      tsMillis: Option[Long],
      props: Option[Map[String, String]],
      cdc: Seq[(String, Long)],
      cdcFull: Seq[String],
      mergeKey: Option[String],
      rowIdWatermark: Option[Long] = None): List[JObject] =
      JObject(("a" -> JString("info")) :: ("op" -> JString(op)) ::
        ("readVersion" -> JLong(readVersion)) ::
        // wall-clock commit time, for TIMESTAMP AS OF resolution. An
        // extra info FIELD, not a new action: every reader of any
        // version only looks at "op" here, so old logs (no ts) and old
        // readers (ignore ts) both keep working. Checkpoint files omit
        // it — racing checkpointers must produce byte-identical content
        // (lost put race == same content).
        (tsMillis.toList.map(ms => "ts" -> (JLong(ms): JValue)) ++
          // the upsert's merge key (logical name at commit time) — same
          // extra-info-field confinement as ts. Lets the change feed
          // re-pair a commit's delete+insert rows into
          // update_preimage/update_postimage on request.
          mergeKey.toList.map(k => "key" -> (JString(k): JValue)) ++
          // row-id high watermark after this commit's assignments —
          // same extra-info-field confinement; checkpoints carry the
          // snapshot's watermark so truncation never loses it
          rowIdWatermark.toList.map(w => "hwm" -> (JLong(w): JValue)))) ::
      // protocol line FIRST among actions: a reader missing a feature
      // fails on the NAME before tripping over the gated action itself
      { val req = requiredFeatures(op, schemaJson, adds, constraints, props,
          cdc, cdcFull)
        if (req.isEmpty) Nil
        else List(JObject("a" -> JString("protocol"),
          "readerFeatures" -> (JArray(req.toList.map(JString(_): JValue)): JValue))) } :::
      schemaJson.toList.map(s => JObject("a" -> JString("schema"), "json" -> JString(s))) :::
      // FULL-replacement semantics like the schema line (an empty set
      // present clears); sorted for deterministic checkpoint bytes
      constraints.toList.map(cs => JObject("a" -> JString("constraints"),
        "set" -> (JObject(cs.toList.sortBy(_._1).map {
          case (n, e) => n -> (JString(e): JValue) }): JValue))) :::
      // FULL-replacement table properties, same contract as constraints
      props.toList.map(ps => JObject("a" -> JString("props"),
        "set" -> (JObject(ps.toList.sortBy(_._1).map {
          case (n, v) => n -> (JString(v): JValue) }): JValue))) :::
      // sorted for deterministic checkpoint bytes (lost put race == same content)
      txns.toList.sortBy(_._1).map { case (app, b) =>
        JObject("a" -> JString("txn"), "appId" -> JString(app), "batchId" -> JLong(b)) }

  /** The commit document as an ITERATOR of rendered lines: meta
    * actions ([[metaJsons]] — a handful) eagerly, add/remove/cdc lines
    * LAZILY one at a time — so writing a million-add checkpoint streams
    * to disk without materializing the whole document (JSON AST or
    * string) on the driver. The protocol line derives from the REAL
    * adds (an O(n) dv-existence scan, no JSON). [[renderCommit]] is
    * exactly these lines joined — racing checkpointers must produce
    * byte-identical content, so there is ONE rendering code path. */
  private[graft] def renderCommitLines(
      op: String, readVersion: Long, schemaJson: Option[String],
      adds: Iterable[AddFile], removes: Seq[String],
      txns: Map[String, Long] = Map.empty,
      addVersions: Map[String, Long] = Map.empty,
      constraints: Option[Map[String, String]] = None,
      tsMillis: Option[Long] = None,
      props: Option[Map[String, String]] = None,
      cdc: Seq[(String, Long)] = Nil,
      cdcFull: Seq[String] = Nil,
      mergeKey: Option[String] = None,
      rowIdWatermark: Option[Long] = None): Iterator[String] = {
    val meta: List[JObject] = metaJsons(op, readVersion, schemaJson, adds,
      txns, constraints, tsMillis, props, cdc, cdcFull, mergeKey,
      rowIdWatermark)
    def line(j: JObject): String = JsonMethods.compact(JsonMethods.render(j))
    meta.iterator.map(line) ++
      adds.iterator.map(a => line(addToJson(a, addVersions.get(a.path)))) ++
      removes.iterator.map(p =>
        line(JObject("a" -> JString("remove"), "path" -> JString(p)))) ++
      // change-data-feed files of this commit (NOT live data — snapshot
      // replay ignores them; readChangeFeed reads them). A new action,
      // so pre-CDF readers fail loudly on CDF-bearing commits only —
      // the same format-bump confinement as constraints/props/add-dv.
      cdc.iterator.map { case (p, n) => line(JObject("a" -> JString("cdc"),
        "path" -> JString(p), "rows" -> JLong(n))) } ++
      // a removed DATA file whose entire pre-state content (DV applied)
      // is deletes in this commit's feed — the change rows are served by
      // reading the file itself, so a metadata-only file drop stays
      // zero-write even with the feed on. Same format-bump confinement
      // as `cdc`.
      cdcFull.iterator.map(p => line(JObject("a" -> JString("cdcfull"),
        "path" -> JString(p))))
  }

  /** One commit's actions — what [[parseCommit]] reads back, and what a
    * [[GraftTable]] mutator hands its commit loop to publish. */
  private[medallion] final case class Commit(
      op: String, schemaJson: Option[String] = None, adds: Seq[AddFile] = Nil,
      removes: Seq[String] = Nil, txns: Map[String, Long] = Map.empty,
      /** per-add provenance versions, present only in checkpoint files */
      addVersions: Map[String, Long] = Map.empty,
      /** full-replacement constraint set, when this commit changed it */
      constraints: Option[Map[String, String]] = None,
      /** wall-clock commit time (epoch millis); absent in pre-ts logs */
      tsMillis: Option[Long] = None,
      /** full-replacement table properties, when this commit changed them */
      props: Option[Map[String, String]] = None,
      /** change-data-feed files (path, rows) this commit staged */
      cdc: Seq[(String, Long)] = Nil,
      /** removed data files whose whole pre-state content is this
        * commit's deletes (metadata-only drops under cdf.enabled) */
      cdcFull: Seq[String] = Nil,
      /** the upsert's merge-key column (logical name at commit time) */
      mergeKey: Option[String] = None,
      /** row-id high watermark AFTER this commit's assignments (info
        * line `hwm`); absent on commits that allocate no row ids */
      rowIdWatermark: Option[Long] = None)

  private[medallion] def parseCommit(content: String): Commit = {
    var op = "unknown"; var schema: Option[String] = None
    val adds = Seq.newBuilder[AddFile]; val removes = Seq.newBuilder[String]
    var txns = Map.empty[String, Long]
    var addVs = Map.empty[String, Long]
    var cons: Option[Map[String, String]] = None
    var ts: Option[Long] = None
    var prp: Option[Map[String, String]] = None
    val cdc = Seq.newBuilder[(String, Long)]
    val cdcFull = Seq.newBuilder[String]
    var mk: Option[String] = None
    var hwm: Option[Long] = None
    content.linesIterator.filter(_.nonEmpty).foreach { line =>
      val o = JsonMethods.parse(line).asInstanceOf[JObject]
      val m = o.obj.toMap
      str(m("a")) match {
        case "info" =>
          op = str(m("op"))
          ts = m.get("ts").map(lng)
          mk = m.get("key").map(str)
          hwm = m.get("hwm").map(lng)
        case "schema" => schema = Some(str(m("json")))
        case "add" | "add-dv" =>
          val (a, v) = parseAdd(o)
          adds += a
          v.foreach(ver => addVs += (a.path -> ver))
        case "remove" => removes += str(m("path"))
        case "txn" => txns += (str(m("appId")) -> lng(m("batchId")))
        case "constraints" =>
          cons = Some(m("set").asInstanceOf[JObject].obj.map {
            case (n, e) => n -> str(e) }.toMap)
        case "props" =>
          prp = Some(m("set").asInstanceOf[JObject].obj.map {
            case (n, v) => n -> str(v) }.toMap)
        case "cdc" => cdc += ((str(m("path")), lng(m("rows"))))
        case "cdcfull" => cdcFull += str(m("path"))
        case "protocol" =>
          val req = m("readerFeatures").asInstanceOf[JArray].arr.map(str)
          val missing = req.filterNot(SupportedReaderFeatures.contains)
          if (missing.nonEmpty) throw new IllegalStateException(
            s"txlog: this commit requires reader feature" +
              s"${if (missing.size > 1) "s" else ""} " +
              missing.sorted.mkString("'", "', '", "'") +
              " which this reader does not support — upgrade to read " +
              "this table (supported: " +
              SupportedReaderFeatures.toSeq.sorted.mkString(", ") + ")")
        case other => throw new IllegalStateException(
          s"txlog: unknown action '$other' — refusing to read a log written by a newer format")
      }
    }
    Commit(op, schema, adds.result(), removes.result(), txns, addVs, cons, ts,
      prp, cdc.result(), cdcFull.result(), mk, hwm)
  }

  // ------------------------------------------- parsed-commit caches (JVM)

  /** A bounded LRU of PARSED commit documents — what keeps snapshot
    * resolution from re-parsing immutable log files: a checkpoint's
    * parse costs ~10 µs/add on 10⁴+-file tables and every plan and
    * every commit's read phase resolves one; the suffix replay re-parses
    * O(K²/2) commit documents over K commits between checkpoints (and
    * `autoCheckpointIfDue` resolves after EVERY commit). Bounded three
    * ways: ≤ `maxEntries` entries, ≤ `maxAdds` cached adds in total (a
    * million-file Commit is the working set, not a leak), LRU on
    * access — and the values are SoftReferences, so a JVM under memory
    * pressure reclaims the parsed adds instead of OOMing (a driver that
    * relies on the distributed prune to AVOID million-add heap is never
    * pinned by one stray snapshot() call). A cleared reference is a
    * miss (re-parse), never an error. The parse runs OUTSIDE the lock
    * (concurrent appendSlices commits resolve snapshots from worker
    * threads); a racing double-parse of the same key is benign — last
    * put wins with an identical value. `hits` counts avoided parses,
    * `parses` (when given) the real ones. */
  private[medallion] final class ParseCache[K](
      maxEntries: Int, maxAdds: Long,
      hits: java.util.concurrent.atomic.AtomicLong,
      parses: Option[java.util.concurrent.atomic.AtomicLong] = None) {
    private val lru =
      new java.util.LinkedHashMap[K, java.lang.ref.SoftReference[Commit]](
        16, 0.75f, true)

    def apply(key: K)(parse: => Commit): Commit = {
      lru.synchronized {
        val ref = lru.get(key)
        val hit = if (ref == null) null else ref.get()
        if (hit != null) { hits.incrementAndGet(); return hit }
        if (ref != null) lru.remove(key) // GC-cleared: drop slot
      }
      parses.foreach(_.incrementAndGet())
      val parsed = parse
      lru.synchronized {
        lru.put(key, new java.lang.ref.SoftReference(parsed))
        // drop GC-cleared slots first, then LRU-evict by entry/add caps
        lru.values().removeIf(r => r.get() == null)
        var totalAdds = 0L
        val it = lru.values().iterator()
        while (it.hasNext) {
          val c = it.next().get()
          if (c != null) totalAdds += c.adds.size
        }
        val eldest = lru.entrySet().iterator()
        while ((lru.size() > maxEntries || totalAdds > maxAdds) &&
            lru.size() > 1 && eldest.hasNext) {
          val c = eldest.next().getValue.get()
          if (c != null) totalAdds -= c.adds.size
          eldest.remove()
        }
      }
      parsed
    }
  }

  /** Content key of a document already read whole for parsing: the md5
    * of its bytes — it can never serve a stale parse, not even when a
    * test or bench rebuilds a table at the same path and version. */
  private def contentKey(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("MD5").digest(bytes))

  private val MaxCachedAdds = 2000000L
  /** Avoided checkpoint parses. */
  private[graft] val checkpointCacheHits = new java.util.concurrent.atomic.AtomicLong
  /** Avoided / real parses of live (suffix) commit files — the
    * deterministic evidence pair (hits = parses the pre-cache code
    * performed in the same run). */
  private[graft] val liveCommitCacheHits = new java.util.concurrent.atomic.AtomicLong
  private[graft] val liveCommitParses = new java.util.concurrent.atomic.AtomicLong

  /** JSON checkpoints, content-addressed: ≤ 8 entries. */
  private val checkpointCache =
    new ParseCache[String](8, MaxCachedAdds, checkpointCacheHits)
  /** Live commit files, content-addressed: ≤ 64 entries (3× the
    * checkpoint interval, so one table's working suffix plus
    * neighbours fit). */
  private val liveCommitCache = new ParseCache[String](
    64, MaxCachedAdds, liveCommitCacheHits, Some(liveCommitParses))

  private[medallion] def parseCheckpointCached(bytes: Array[Byte]): Commit =
    checkpointCache(contentKey(bytes))(parseCommit(new String(bytes, "UTF-8")))

  private[medallion] def parseLiveCommitCached(bytes: Array[Byte]): Commit =
    liveCommitCache(contentKey(bytes))(parseCommit(new String(bytes, "UTF-8")))

  // --------------------------- distributed checkpoint pruning (planning)

  /** Checkpoint size past which the PLANNING path reads the checkpoint
    * distributively instead of parsing it whole on the driver. Below
    * it the driver path is faster (no job overhead); above it (~2·10⁵
    * adds), driver JSON parse time and — on million-file tables —
    * driver heap become the binding constraint (the wall Delta hit
    * before parquet checkpoints, Iceberg before manifest trees). */
  private[graft] val DistributedPruneMinBytes: Long = 64L * 1024 * 1024

  /** Test-only seam: the threshold [[GraftTable.prunedSnapshot]]
    * dispatches on, so a spec can force the distributed path on a
    * small table. [[DistributedPruneMinBytes]] in production. */
  @volatile private[graft] var distributedPruneMinBytes: Long =
    DistributedPruneMinBytes

  /** Is this rendered log line an add action? EXACT for this log's own
    * renderer: [[addToJson]] emits the action tag first, so every add /
    * add-dv line starts with `{"a":"add` and no other action name has
    * that prefix (info, schema, remove, txn, constraints, props, cdc,
    * cdcfull, protocol). Only this engine writes these files. */
  private[medallion] def isAddLine(line: String): Boolean =
    line.startsWith("{\"a\":\"add")

  /** Parse one checkpoint line into its add action, or None for any
    * non-add line — the per-line unit the distributed prune maps over
    * executors. The prefix fast-path mirrors [[isAddLine]]; the JSON
    * parse confirms. */
  private[medallion] def parseAddLine(line: String): Option[(AddFile, Option[Long])] =
    if (!isAddLine(line)) None
    else {
      val o = JsonMethods.parse(line).asInstanceOf[JObject]
      o.obj.headOption.collect {
        case ("a", JString("add")) | ("a", JString("add-dv")) => parseAdd(o)
      }
    }

  /** The distributed half of [[GraftTable.prunedSnapshotDistributed]]:
    * a Spark job over the checkpoint's JSON-lines (text splits are
    * line-aligned and offset-ordered, so a multi-hundred-MB checkpoint
    * parses at cluster parallelism), each executor parsing add lines
    * and applying EXACTLY the driver path's overlap predicate
    * ([[ColStats.overlaps]] + [[PartitionSpec.admits]] — shared code,
    * no semantic fork). Only SURVIVOR lines return to the driver, so
    * driver state is O(files matching the scan's bounds), not O(files
    * in the table).
    *
    * Static (object) method on purpose: the closure captures only the
    * serializable arguments, never a GraftTable handle. */
  private[medallion] def distributedPruneSurvivors(
      spark: SparkSession, checkpointPath: String, schemaJson: String,
      excluded: Set[String],
      constraints: Seq[(String, Option[String], Option[String],
        Option[Any], Option[Any])]): Seq[(AddFile, Option[Long])] = {
    import spark.implicits._
    spark.read.textFile(checkpointPath)
      .mapPartitions { it =>
        val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        it.filter { line =>
          parseAddLine(line) match {
            case Some((a, _)) =>
              !excluded.contains(a.path) && constraints.forall {
                case (phys, loS, hiS, loR, hiR) =>
                  a.stats.get(phys).forall(_.overlaps(loS, hiS)) &&
                    PartitionSpec.admits(schema, a, phys, loR, hiR)
              }
            case None => false
          }
        }
      }
      .collect().toSeq
      .map(l => parseAddLine(l).getOrElse(throw new IllegalStateException(
        s"txlog: survivor line stopped parsing as an add: ${l.take(200)}")))
  }
}

/** Handle on one log-structured table rooted at `tablePath`. Thread-safe
  * across PROCESSES via the commit protocol; a single handle is cheap and
  * stateless (every operation re-resolves the head).
  *
  * Scale notes: the log is driver-side metadata — O(files touched per
  * commit), never O(rows) — and checkpointing keeps snapshot resolution
  * O(files live + commits since checkpoint). Data moves only through
  * Spark jobs (staged parquet writes at full parallelism); the driver
  * never holds row data.
  */
final class GraftTable(val tablePath: String) {
  import TxLog._

  private val root = Paths.get(new java.io.File(tablePath).getAbsolutePath)
  private def logDir: Path = root.resolve(LogDir)
  private def versionFile(v: Long): Path = logDir.resolve(s"${("%020d").format(v)}.json")
  private def checkpointFile(v: Long): Path =
    logDir.resolve(s"${("%020d").format(v)}.checkpoint.json")

  /** Read + parse the live commit file at `f` through the JVM-wide
    * content-addressed parse cache ([[TxLog.parseLiveCommitCached]]) —
    * every suffix-replay site routes here so an immutable commit
    * document parses once per JVM, not once per resolution. */
  private def readCommitFileCached(f: Path): Commit =
    TxLog.parseLiveCommitCached(Files.readAllBytes(f))

  private def ensureDirs(): Unit = { Files.createDirectories(logDir); () }

  /** Newest committed version, or 0 if the table has none. One bounded
    * directory listing of the LOG (not the data). Checkpoint files count
    * too: a checkpoint AT v proves v committed, so a truncated log whose
    * newest artifact is the checkpoint itself (every commit ≤ checkpoint
    * dropped) still resolves its head instead of reporting empty.
    *
    * A columnar checkpoint left by an older build fails here, by its
    * reader feature's name: this build cannot read it, and skipping it
    * would read a truncated log as an empty or partial table. */
  def latestVersion(): Long =
    if (!Files.exists(logDir)) 0L
    else {
      val it = Files.list(logDir)
      try it.iterator().asScala.map(_.getFileName.toString)
        .filter { n =>
          if (n.endsWith(".checkpoint.parquet")) throw new IllegalStateException(
            s"txlog: $tablePath/$LogDir/$n requires reader feature " +
              "'parquetCheckpoint', which this reader does not support")
          n.endsWith(".json") && !n.startsWith(".")
        }
        .map(_.stripSuffix(".json").stripSuffix(".checkpoint"))
        .filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong).foldLeft(0L)(math.max)
      finally it.close()
    }

  // -------------------------------------------------------- snapshot read

  /** Latest checkpoint version ≤ `atMost`: try the `_last_checkpoint`
    * hint first (one small read), fall back to listing — the hint is
    * best-effort and may lag; a stale hint is always safe. */
  private def checkpointAtOrBefore(atMost: Long): Option[Long] = {
    val hinted =
      try {
        val h = logDir.resolve("_last_checkpoint")
        if (Files.exists(h)) {
          val m = JsonMethods.parse(new String(Files.readAllBytes(h), "UTF-8"))
            .asInstanceOf[JObject].obj.toMap
          val v = m.get("version").map {
            case JLong(x) => x; case JInt(x) => x.toLong; case _ => 0L
          }.getOrElse(0L)
          if (v <= atMost && Files.exists(checkpointFile(v))) Some(v) else None
        } else None
      } catch { case scala.util.control.NonFatal(_) => None }
    hinted.orElse {
      if (!Files.exists(logDir)) None
      else {
        val it = Files.list(logDir)
        val vs =
          try it.iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".checkpoint.json"))
            .map(_.stripSuffix(".checkpoint.json"))
            .filter(n => n.nonEmpty && n.forall(_.isDigit))
            .map(_.toLong).filter(_ <= atMost).toSeq
          finally it.close()
        if (vs.isEmpty) None else Some(vs.max)
      }
    }
  }

  /** Resolve the table state at `version` (default: head) purely from
    * the log: start at the newest checkpoint ≤ version, replay the
    * commit suffix in order. Uncommitted data files do not exist as far
    * as this is concerned. */
  def snapshot(version: Long = -1L): Snapshot = {
    val head = latestVersion()
    val target = if (version < 0) head else version
    require(target <= head, s"txlog: version $target does not exist (head=$head)")
    val cp = checkpointAtOrBefore(target)
    // insertion-ordered like ListMap (deterministic file order for
    // scans/checkpoints), but O(1) update — immutable ListMap.updated
    // is O(n), which made snapshot resolution O(n²): ~hours at the
    // 2·10⁵-add checkpoint DistributedPruneSpec measures, a wall long
    // before driver heap becomes one
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    var schemaJson: String = null
    var txns = Map.empty[String, Long]
    var addedIn = Map.empty[String, Long]
    var cons = Map.empty[String, String]
    var prps = Map.empty[String, String]
    var hwm = 0L
    cp.foreach { cv =>
      // parse cache: the same checkpoint parses once per JVM — repeated
      // resolution against an unchanged table costs one read + cache hit
      // instead of the full parse
      val c = parseCheckpointCached(Files.readAllBytes(checkpointFile(cv)))
      c.schemaJson.foreach(schemaJson = _)
      c.adds.foreach { a =>
        live += (a.path -> a)
        // per-add provenance from the checkpoint; a pre-provenance
        // checkpoint attributes its own version (conservative upper bound)
        addedIn += (a.path -> c.addVersions.getOrElse(a.path, cv))
      }
      txns ++= c.txns
      c.constraints.foreach(cons = _)
      c.props.foreach(prps = _)
      c.rowIdWatermark.foreach(w => hwm = math.max(hwm, w))
    }
    var v = cp.getOrElse(0L) + 1
    while (v <= target) {
      val f = versionFile(v)
      require(Files.exists(f),
        s"txlog: commit $v missing (vacuumed past a checkpoint?) — cannot resolve $target")
      val c = readCommitFileCached(f)
      c.schemaJson.foreach(schemaJson = _)
      c.removes.foreach { p => live -= p; addedIn -= p }
      // a live commit may carry explicit provenance for a path it
      // re-adds without originating (a DV update replaces the AddFile
      // but the surviving rows still belong to their original commit)
      c.adds.foreach { a =>
        live += (a.path -> a)
        addedIn += (a.path -> c.addVersions.getOrElse(a.path, v))
      }
      // monotonic max: an out-of-order replayed txn must never LOWER the
      // high-water mark (that would re-admit its duplicates later)
      c.txns.foreach { case (app, b) =>
        if (txns.get(app).forall(_ < b)) txns += (app -> b) }
      c.constraints.foreach(cons = _)
      c.props.foreach(prps = _)
      c.rowIdWatermark.foreach(w => hwm = math.max(hwm, w))
      v += 1
    }
    require(schemaJson != null || live.isEmpty,
      s"txlog: no schema action found resolving version $target")
    Snapshot(target, Option(schemaJson).getOrElse(new StructType().json),
      live.values.toSeq, txns, addedIn, cons, prps, hwm)
  }

  /** Read the table at `version` (default head) through the table's
    * DSv2 scan ([[GraftTableV2.frame]]) over exactly the live files —
    * deletion vectors, pushdown, pruning and codegen all apply as on a
    * SQL read. */
  def read(spark: SparkSession, version: Long = -1L): DataFrame =
    GraftTableV2.frame(spark, this, snapshot(version))

  /** Stats-pruned range read: only files whose [min,max] for `column`
    * overlaps [lower,upper] are scanned (both bounds inclusive; pass
    * None for open ends). The residual filter is still applied — stats
    * prune FILES, the scan prunes rows. */
  def readRange(
      spark: SparkSession, column: String,
      lower: Option[Any], upper: Option[Any], version: Long = -1L): DataFrame = {
    // the range/admits half goes through the session-aware prune, so a
    // million-file checkpoint prunes on executors (driver state =
    // survivors); pointAdmits (bloom probes) applies on the survivor
    // set — file-count-bounded by then
    val snap = prunedSnapshot(
      spark, Seq((column, lower, upper)), version)
    val physCol = physicalOf(snap.schema, column)
    val df = GraftTableV2.frame(spark, this, snap.copy(files = snap.files.filter(a =>
      pointAdmits(snap.schema, a, physCol, column, lower, upper))))
    val c = col(column)
    (lower, upper) match {
      case (Some(l), Some(u)) => df.filter(c >= lit(l) && c <= lit(u))
      case (Some(l), None) => df.filter(c >= lit(l))
      case (None, Some(u)) => df.filter(c <= lit(u))
      case (None, None) => df
    }
  }

  /** The snapshot with only the files whose stats overlap EVERY
    * per-column [lo, hi] bound ([[TxLog.pruned]]), for scan planners
    * that build their own reads. */
  private[graft] def prunedSnapshot(
      constraints: Seq[(String, Option[Any], Option[Any])],
      version: Long = -1L): Snapshot =
    pruned(snapshot(version), constraints)

  /** Planning-path [[prunedSnapshot]] that BOUNDS DRIVER STATE on
    * million-file tables. The driver path parses the whole checkpoint
    * JSON and holds every AddFile (min/max, bloom/HLL base64, DV refs)
    * in memory — measured ~1 KiB heap and ~3 µs parse per add (see
    * DistributedPruneSpec), i.e. fine at 10⁴–10⁵ files, multi-GB heap
    * and minutes of single-threaded parse at the 10⁶–10⁷ files a
    * 100 TB table carries. Past [[TxLog.DistributedPruneMinBytes]]
    * (64 MiB ≈ 2·10⁵ adds) with at least one usable bound,
    * checkpoint adds are parsed and pruned BY EXECUTORS
    * ([[TxLog.distributedPruneSurvivors]]); the driver holds the
    * commit SUFFIX (O(checkpoint interval)) plus survivors only.
    * Below the threshold, or with no prunable bound (every file would
    * return anyway), the driver path stays — it is faster there. */
  private[graft] def prunedSnapshot(
      spark: SparkSession,
      constraints: Seq[(String, Option[Any], Option[Any])],
      version: Long): Snapshot = {
    val head = latestVersion()
    val target = if (version < 0) head else version
    require(target <= head,
      s"txlog: version $target does not exist (head=$head)")
    val usable = constraints.filter { case (_, lo, hi) =>
      (lo.nonEmpty || hi.nonEmpty) &&
        lo.forall(isFiniteStat) && hi.forall(isFiniteStat)
    }
    checkpointAtOrBefore(target) match {
      case Some(cv) if usable.nonEmpty &&
          Files.size(checkpointFile(cv)) >= distributedPruneMinBytes =>
        prunedSnapshotDistributed(spark, cv, target, usable)
      case _ => prunedSnapshot(constraints, version)
    }
  }

  /** The distributed resolution itself (callers go through the
    * threshold dispatch above; specs drive this directly). Three
    * phases, each with bounded driver state:
    *
    *  1. checkpoint NON-add actions (schema/txn/constraints/props/
    *     protocol — a handful of lines) stream through the driver
    *     line-by-line; add lines are skipped by the exact
    *     [[TxLog.isAddLine]] prefix, so driver memory here is O(meta).
    *     The protocol feature check still runs (parseCommit on the
    *     meta lines).
    *  2. the commit suffix since the checkpoint replays driver-side as
    *     usual — O(commits since checkpoint) = O(checkpoint interval).
    *  3. checkpoint adds parse + prune on EXECUTORS; survivors (and
    *     only survivors) collect. Suffix adds, already driver-side,
    *     take the same predicate there.
    *
    * Equivalent to `prunedSnapshot(constraints, version)` by
    * construction: same overlap predicate (shared code), same
    * live-set replay semantics (last action per path wins). */
  private[graft] def prunedSnapshotDistributed(
      spark: SparkSession, cv: Long, target: Long,
      usable: Seq[(String, Option[Any], Option[Any])]): Snapshot = {
    // phase 1: checkpoint meta, streamed — add lines never touch the driver
    val metaSb = new StringBuilder
    val linesIt = Files.lines(checkpointFile(cv))
    try linesIt.iterator().asScala.foreach { line =>
      if (line.nonEmpty && !isAddLine(line)) {
        metaSb.append(line).append('\n'); ()
      }
    } finally linesIt.close()
    val metaCp = parseCommit(metaSb.toString)
    var schemaJson: String = metaCp.schemaJson.orNull
    var txns = metaCp.txns
    var cons = metaCp.constraints.getOrElse(Map.empty[String, String])
    var prps = metaCp.props.getOrElse(Map.empty[String, String])
    var hwm = metaCp.rowIdWatermark.getOrElse(0L)
    // phase 2: suffix replay — per-path LAST action wins
    // (LinkedHashMap: insertion-ordered, O(1) update — see snapshot())
    val delta = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[(AddFile, Long)]]
    var v = cv + 1
    while (v <= target) {
      val f = versionFile(v)
      require(Files.exists(f),
        s"txlog: commit $v missing (vacuumed past a checkpoint?) — " +
          s"cannot resolve $target")
      val c = readCommitFileCached(f)
      c.schemaJson.foreach(schemaJson = _)
      c.removes.foreach(p => delta += (p -> None))
      c.adds.foreach(a =>
        delta += (a.path -> Some((a, c.addVersions.getOrElse(a.path, v)))))
      c.txns.foreach { case (app, b) =>
        if (txns.get(app).forall(_ < b)) txns += (app -> b) }
      c.constraints.foreach(cons = _)
      c.props.foreach(prps = _)
      c.rowIdWatermark.foreach(w => hwm = math.max(hwm, w))
      v += 1
    }
    require(schemaJson != null,
      s"txlog: no schema action found resolving version $target")
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val ser = usable.map { case (c0, lo, hi) =>
      (physicalOf(schema, c0), lo.map(statsLiteral), hi.map(statsLiteral),
        lo, hi) }
    def passes(a: AddFile): Boolean = ser.forall {
      case (phys, loS, hiS, loR, hiR) =>
        a.stats.get(phys).forall(_.overlaps(loS, hiS)) &&
          PartitionSpec.admits(schema, a, phys, loR, hiR)
    }
    // phase 3: executor-side prune of checkpoint adds; suffix-touched
    // paths are excluded there and re-resolved from the delta below
    val survivors = distributedPruneSurvivors(
      spark, checkpointFile(cv).toString, schemaJson, delta.keySet.toSet, ser)
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    var addedIn = Map.empty[String, Long]
    survivors.foreach { case (a, vOpt) =>
      live += (a.path -> a)
      addedIn += (a.path -> vOpt.getOrElse(cv))
    }
    // safety net: a checkpoint add line the prefix filter somehow
    // routed to the meta parse (impossible for our renderer) must not
    // be lost — take the same predicate driver-side
    metaCp.adds.foreach { a =>
      if (!delta.contains(a.path) && passes(a)) {
        live += (a.path -> a)
        addedIn += (a.path -> metaCp.addVersions.getOrElse(a.path, cv))
      }
    }
    delta.foreach {
      case (_, None) => ()
      case (p, Some((a, av))) => if (passes(a)) {
        live += (p -> a); addedIn += (p -> av)
      }
    }
    Snapshot(target, schemaJson, live.values.toSeq, txns, addedIn, cons, prps,
      hwm)
  }

  /** Absolute path of a live file (add paths are table-root-relative). */
  private[graft] def absoluteDataPath(a: AddFile): String =
    root.resolve(a.path).toString

  /** Could `a` contain a value of `column` within [lo, hi]? The
    * single-file overlap test behind [[prunedSnapshot]], exposed so scan
    * planners can prune with filter shapes the constraint list can't
    * express (e.g. IN-lists from runtime/join filters: a file survives
    * if ANY member overlaps). Conservative: no stats, or a NaN/Infinity
    * bound, never prunes. */
  private[graft] def statsOverlap(
      schema: StructType, a: AddFile, column: String,
      lo: Option[Any], hi: Option[Any]): Boolean =
    if (!lo.forall(isFiniteStat) || !hi.forall(isFiniteStat)) true
    else a.stats.get(column).forall(_.overlaps(
      lo.map(statsLiteral), hi.map(statsLiteral))) &&
      PartitionSpec.admits(schema, a, column, lo, hi)

  /** Zero-scan approximate distinct count of `column`, merged from the
    * log's per-file HLL sketches (`ndv.columns` property): register-max
    * union across live files, file-count × 2 KiB on the driver, no data
    * read at any table size. `None` when any live file with values in
    * the column lacks a sketch (written pre-property — a partial union
    * would under-count); all-null files carry no entry and contribute
    * nothing; rows hidden by deletion vectors remain counted (sketches
    * are additive-only — planning-grade, like every NDV). */
  def approxCountDistinct(column: String, version: Long = -1L): Option[Long] = {
    val snap = snapshot(version)
    val phys = physicalOf(snap.schema, column)
    val entries = snap.files.flatMap(_.stats.get(phys))
    if (entries.isEmpty) return Some(0L) // no file has a value
    if (entries.exists(_.hll.isEmpty)) return None
    val acc = new Array[Byte](1 << HllP)
    entries.foreach { cs =>
      graft.functions.HllAgg.mergeInto(acc,
        java.util.Base64.getDecoder.decode(cs.hll.get))
    }
    Some(graft.functions.HllAgg.estimate(acc))
  }

  /** Re-base an identity column's `next` above the LIVE maximum — the
    * Delta `ALTER TABLE ... SYNC IDENTITY` shape, needed after an
    * overwrite that brought its own values. Zero-scan: the maximum
    * comes from per-file min/max stats (exact for BIGINT); a file with
    * no stats entry is all-null and contributes nothing. Returns the
    * committed `next`. */
  def syncIdentity(column: String): Long = {
    val snap = snapshot()
    require(identityCols(snap.props).contains(column),
      s"txlog: '$column' is not an identity column " +
        s"(no $IdentityPrefix$column property)")
    val phys = physicalOf(snap.schema, column)
    val mx = snap.files.flatMap(_.stats.get(phys))
      .map(cs => BigDecimal(cs.max).toLongExact)
    val next = math.max(identityCols(snap.props)(column),
      if (mx.isEmpty) Long.MinValue + 1 else mx.max + 1L)
    setProperty(IdentityPrefix + column, next.toString)
    next
  }

  /** Number of files `readRange` would scan — the data-skipping metric. */
  def filesForRange(column: String, lower: Option[Any], upper: Option[Any]): Int = {
    val lo = lower.map(statsLiteral); val hi = upper.map(statsLiteral)
    val snap = snapshot()
    val physCol = physicalOf(snap.schema, column)
    snap.files.count(a =>
      a.stats.get(physCol).forall(_.overlaps(lo, hi)) &&
        PartitionSpec.admits(snap.schema, a, physCol, lower, upper) &&
        pointAdmits(snap.schema, a, physCol, column, lower, upper))
  }

  /** Bloom admission for a POINT range (`lower == upper`): false only
    * when the file carries a filter that provably excludes the value —
    * the extra pruning min/max cannot give on scattered ids. Ranges,
    * bloom-less files, and un-bloomable types always admit. */
  private def pointAdmits(
      schema: StructType, a: AddFile, physCol: String, column: String,
      lower: Option[Any], upper: Option[Any]): Boolean =
    (lower, upper) match {
      case (Some(l), Some(u)) if l == u =>
        bloomAdmits(schema, a, physCol, column, l)
      case _ => true
    }

  private[graft] def bloomAdmits(
      schema: StructType, a: AddFile, physCol: String, column: String,
      value: Any): Boolean =
    a.stats.get(physCol).flatMap(_.bloom) match {
      case None => true
      case Some(b64) =>
        schema.fields.find(_.name == column).map(_.dataType)
          .flatMap(dt => bloomHashes(value, dt)) match {
          case Some((h1, h2)) => bloomMightContain(b64, h1, h2)
          case None => true
        }
    }

  /** The rows of `files` for a rewrite, under PHYSICAL names ready to
    * stage, read through the table's one scan ([[GraftTableV2.frame]])
    * so deletion vectors apply exactly as on every read. With `rowIds`
    * each row also carries its stable id as [[TxLog.RowIdPhysCol]],
    * which the rewrite materializes instead of allocating new ids. */
  private def rewriteRows(
      spark: SparkSession, snap: Snapshot, files: Seq[AddFile],
      rowIds: Boolean = false): DataFrame =
    toPhysical(GraftTableV2.frame(spark, this, snap.copy(files = files),
        if (rowIds) Seq(GraftTableV2.RowIdCol) else Nil), snap.schema)
      .withColumnRenamed(GraftTableV2.RowIdCol, RowIdPhysCol)

  /** The one survivor rewrite behind the range [[delete]] and
    * [[overwriteRange]] straddlers, the commit core's over-threshold
    * leg, [[purgeDeletes]], [[compact]], [[compactRange]],
    * [[compactSmall]] and [[optimizeZorder]]: `files`' rows (deletion
    * vectors applied), shaped by the caller's `layout` (a survivor
    * filter, a repartition, a clustering), staged under `snap`'s spec.
    * Row tracking: with `rowTracking` on every row carries its id into
    * the new files, marked materialized (see [[TxLog.RowTrackingProp]]). */
  private def restage(spark: SparkSession, snap: Snapshot, files: Seq[AddFile])(
      layout: DataFrame => DataFrame): Seq[AddFile] = {
    val tracked = rowTrackingEnabled(snap)
    val adds = stageData(layout(rewriteRows(spark, snap, files, rowIds = tracked)),
      Some(snap))
    if (tracked) adds.map(_.copy(ridMaterialized = true)) else adds
  }

  /** The change-feed half of the row-id rule: a rewrite's change rows
    * key by row id only when its new files materialized ids (`tracked`)
    * and every pre-image file carries id info — a rid-less pre copy
    * against a materialized post copy would fail to cancel and surface
    * phantom change rows. */
  private def ridKeyed(tracked: Boolean, pre: Seq[AddFile]): Boolean =
    tracked && pre.forall(a => a.ridMaterialized || a.baseRowId.isDefined)

  // ------------------------------------------------- change data feed

  private def cdfEnabled(snap: Snapshot): Boolean =
    snap.props.get(CdfEnabledProp).contains("true")

  /** Write a change frame (PHYSICAL column names + [[ChangeTypeCol]])
    * as parquet straight into [[ChangeDir]] and return (relative path,
    * rows) refs for the commit's `cdc` actions — rows as counted by the
    * tasks that wrote the files. Invisible until a commit references
    * them; a commit that does not land deletes them ([[transact]]), and
    * a crashed writer's are orphans for [[vacuum]]. An empty frame
    * writes nothing. */
  private def stageChanges(snap: Snapshot, changes: DataFrame): Seq[(String, Long)] = {
    require(!snap.schema.fieldNames.contains(ChangeTypeCol),
      s"txlog: cdf.enabled tables must not have a '$ChangeTypeCol' column")
    ParquetWrites.write(changes, ParquetWrites.factory(changes.sparkSession,
        changes.schema, root.resolve(ChangeDir).toString))
      .sorted.map(f => (s"$ChangeDir/${f.name}", f.rows))
  }

  /** Net row changes of a rewrite, as a stageable PHYSICAL-named frame:
    * multiset difference pre-vs-post — rows only in the pre state are
    * `delete`, rows only in the post state are `insert` (an UPDATE is
    * the pair; unchanged rows carried through a rewrite cancel out).
    * Exactly what an incremental consumer folds, and derived from the
    * SAME bytes the commit removes/adds — the feed can never disagree
    * with the table. Cost: one exceptAll over the TOUCHED files only,
    * and only on `cdf.enabled` tables. `tracked`: the post files
    * materialized row ids. */
  private def cdcDiff(
      spark: SparkSession, snap: Snapshot,
      preFiles: Seq[AddFile], postFiles: Seq[AddFile],
      tracked: Boolean): Seq[(String, Long)] = {
    val ridAware = ridKeyed(tracked, preFiles)
    val phys = physicalSchema(snap.schema)
    // ROW-TRACKING-aware diff ([[ridKeyed]]): the diff keys by
    // (content, row id), so each change row carries its stable id as a
    // trailing `__cdc_rid` column — what lets updateImages pair an
    // UPDATE's pre/post rows WITHOUT a recorded merge key. Carried rows
    // still cancel (same content, same id); an UPDATE x=x cancels too.
    // Default feed consumers never see the column (the feed read's
    // explicit schema selects by name).
    def side(fs: Seq[AddFile]): DataFrame =
      rewriteRows(spark, snap, fs, rowIds = ridAware)
        .withColumnRenamed(RowIdPhysCol, "__cdc_rid")
    val (pre, post) = (side(preFiles), side(postFiles))
    // ONE signed-count aggregate computes the whole symmetric multiset
    // difference (pre rows weigh +1, post rows -1; surviving copies
    // cancel to 0) — where a two-sided exceptAll would shuffle the
    // touched bytes twice and scan each state twice. Rows re-inflate to
    // their multiplicity with a bounded sequence-explode. groupBy's
    // null-safe grouping matches exceptAll's row-equality exactly.
    val cols = phys.fields.toIndexedSeq.map(f => col(s"`${f.name}`")) ++
      (if (ridAware) Seq(col("`__cdc_rid`")) else Nil)
    // double-underscore names: reserved, cannot collide with a data
    // column (same convention as the __file/__idx tags elsewhere)
    require(!phys.fieldNames.exists(_.startsWith("__cdc_")),
      "txlog: '__cdc_*' column names are reserved")
    stageChanges(snap,
      pre.withColumn("__cdc_w", lit(1L))
        .unionAll(post.withColumn("__cdc_w", lit(-1L)))
        .groupBy(cols: _*).agg(sum(col("__cdc_w")).as("__cdc_d"))
        .filter(col("__cdc_d") =!= 0L)
        .withColumn(ChangeTypeCol,
          when(col("__cdc_d") > 0L, lit("delete")).otherwise(lit("insert")))
        .withColumn("__cdc_i",
          explode(sequence(lit(1L), abs(col("__cdc_d")))))
        .drop("__cdc_d", "__cdc_i"))
  }

  /** The CHANGE DATA FEED: every row change in versions
    * `(sinceVersion, until]`, tagged `_change_type` (`insert` |
    * `delete`; updates are the pair) and `_commit_version` — the full
    * generalization of [[appendsSince]] to tables that UPDATE and
    * DELETE. Each commit serves its changes from the cheapest exact
    * source:
    *
    *   - append-family commits: their add-files read as inserts (no
    *     extra bytes stored);
    *   - mutating commits under `cdf.enabled`: the `cdc` change files
    *     they staged (the net pre-vs-post diff of the touched files)
    *     plus `cdcfull` refs — removed data files whose whole
    *     DV-applied pre-state is deletes, served by reading the file
    *     itself (metadata-only drops and truncate stay zero-write);
    *   - `overwrite` / `restore` / remove-only deletes: served exactly
    *     from the commit's own add/remove lists regardless of
    *     enablement (delete the pre-state of removed/replaced files,
    *     insert the post-state) — these ops are self-describing;
    *   - row-neutral commits (compact / zorder / purge / checkpoint /
    *     schema-only): nothing.
    *
    * Only a REWRITING mutation written without `cdf.enabled` fails the
    * read loudly (its adds mix surviving copies with real changes —
    * unrecoverable post-hoc; silently skipping would hand the consumer
    * a feed missing real changes). O(changes in range) reads at any
    * table size; same vacuum-retention caveat as [[appendsSince]]; an
    * `overwrite` that changed the physical schema refuses (the
    * pre-state rows cannot be expressed in the until-schema) —
    * re-seed from a snapshot read.
    *
    * Invariant (spec-enforced): for any window, folding the feed into
    * the `since` snapshot reproduces the `until` snapshot exactly.
    *
    * `updateImages = true` re-tags an upsert commit's paired rows: a
    * key (the commit's RECORDED merge key) carrying both a delete and
    * an insert within one commit surfaces as `update_preimage` /
    * `update_postimage` instead (the Delta CDF consumer shape).
    * Unpaired rows keep their net tags; commits without a recorded key
    * (non-upsert mutations, pre-key logs) are left untouched. Cost: ONE
    * extra hash-partition window over the O(changes) feed — never
    * O(table).
    *
    * `commitTimestamps = true` appends a `_commit_ts` column — each
    * row's commit wall-clock stamp (the Delta `_commit_timestamp`
    * consumer shape; null for pre-stamp logs). Opt-in so default feed
    * schemas stay stable for existing consumers; a per-version literal,
    * zero extra IO. */
  def readChangeFeed(
      spark: SparkSession, sinceVersion: Long,
      untilVersion: Long = -1L, updateImages: Boolean = false,
      commitTimestamps: Boolean = false): DataFrame = {
    val head = latestVersion()
    require(sinceVersion <= head,
      s"txlog: readChangeFeed($sinceVersion) is ahead of head $head")
    val until = if (untilVersion < 0) head else math.min(untilVersion, head)
    val untilSnap = snapshot(until)
    val schema = untilSnap.schema
    val phys = physicalSchema(schema)
    // updateImages: the feed is built with an INTERNAL `__cdc_rid`
    // column (the stable row id a rid-aware cdcDiff staged; null for
    // every other slice kind and for pre-rid change files, which the
    // explicit read schema null-fills) — the pairing key for commits
    // WITHOUT a recorded merge key; dropped before the feed returns,
    // so the consumer schema never changes
    val withRid = updateImages
    def logical(df: DataFrame): DataFrame =
      df.select(schema.fields.toIndexedSeq.map(f =>
        col(s"`${physicalName(f)}`").as(f.name, f.metadata)) ++
        (col(ChangeTypeCol) +:
          (if (withRid) Seq(col("`__cdc_rid`")) else Nil)): _*)
    // pre-state entries (with their DVs as of v-1) read as deletes,
    // post-state entries as inserts — both through the table's scan, at
    // the until-schema
    def tagged(fs: Seq[AddFile], v: Long, kind: String): Option[DataFrame] =
      if (fs.isEmpty) None
      else {
        fs.foreach(a => require(Files.exists(root.resolve(a.path)),
          s"txlog: data file ${a.path} of commit $v was vacuumed — " +
            "readChangeFeed is behind the retention window; re-seed from " +
            "a snapshot read"))
        val base = GraftTableV2.frame(spark, this, untilSnap.copy(files = fs))
          .withColumn(ChangeTypeCol, lit(kind))
        Some(if (withRid)
          base.withColumn("__cdc_rid", lit(null).cast(LongType)) else base)
      }
    val empty0a = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .withColumn(ChangeTypeCol, lit("")).limit(0)
    val empty0b = if (!withRid) empty0a
      else empty0a.withColumn("__cdc_rid", lit(null).cast(LongType)).limit(0)
    val empty0 = empty0b.withColumn("_commit_version", lit(0L)).limit(0)
    val empty = if (!commitTimestamps) empty0
      else empty0.withColumn("_commit_ts",
        lit(null).cast(TimestampType)).limit(0)
    val slices = ((sinceVersion + 1) to until).map(v => v -> changeFeedSlice(v))
    val feed = slices.foldLeft(empty) { case (acc, (v, slice)) =>
      val stagedSchema =
        if (withRid) phys.add(ChangeTypeCol, StringType)
          .add("__cdc_rid", LongType)
        else phys.add(ChangeTypeCol, StringType)
      val staged = if (slice.cdc.isEmpty) None else
        Some(logical(spark.read
          .schema(stagedSchema)
          .parquet(slice.cdc.map(_.toString): _*)))
      val parts: Seq[DataFrame] =
        staged.toSeq ++ tagged(slice.deletes, v, "delete").toSeq ++
          tagged(slice.inserts, v, "insert").toSeq
      parts.reduceOption(_ unionAll _)
        .fold(acc) { b0 =>
          val b1 = b0.withColumn("_commit_version", lit(v))
          val b = if (!commitTimestamps) b1
            else b1.withColumn("_commit_ts", slice.tsMillis
              .map(ms => lit(new java.sql.Timestamp(ms)))
              .getOrElse(lit(null).cast(TimestampType)))
          acc.unionAll(b)
        }
    }
    if (!updateImages) return feed
    // versions whose recorded merge key still exists under the
    // until-schema's logical names (a since-renamed key cannot pair —
    // those commits keep net tags rather than mis-joining). Versions
    // WITHOUT a usable key fall back to the stable ROW ID the rid-aware
    // cdcDiff staged (`__cdc_rid` — non-null exactly when the commit
    // was a row-tracked COW rewrite): the row-tracking payoff — UPDATE
    // images pair with NO merge key recorded at all. Null keys (plain
    // appends, untracked rewrites, pre-rid change files) stay untouched.
    val keyed = slices.flatMap { case (v, s) => s.mergeKey.map(v -> _) }
      .filter { case (_, k) => schema.fieldNames.contains(k) }
    // a non-null __cdc_rid can only come from a commit's STAGED change
    // files (the tagged pre/post slices literal-null it) — so a window
    // with no keyed commit and no staged cdc anywhere provably retags
    // nothing: skip the shuffle entirely
    if (keyed.isEmpty && slices.forall(_._2.cdc.isEmpty))
      return feed.drop("__cdc_rid")
    val keyExpr = keyed.foldLeft(col("`__cdc_rid`").cast(StringType)) {
      case (acc, (v, k)) =>
        when(col("_commit_version") === lit(v), col(s"`$k`").cast(StringType))
          .otherwise(acc)
    }
    // null-key rows (plain appends/deletes, pre-rid change files) are
    // never retagged — but partitioning them all into ONE null group
    // per commit would funnel a large keyless feed through a single
    // skewed task. Spread exactly those rows by a deterministic row
    // hash in a THIRD partition column (constant 0 for real-keyed
    // rows, so their pairing groups are untouched).
    val spread = when(keyExpr.isNull,
        xxhash64(schema.fieldNames.toIndexedSeq.map(n => col(s"`$n`")) :+
          col(ChangeTypeCol): _*))
      .otherwise(lit(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_commit_version"), keyExpr, spread)
    val hasDel = max(when(col(ChangeTypeCol) === "delete", 1).otherwise(0)).over(w)
    val hasIns = max(when(col(ChangeTypeCol) === "insert", 1).otherwise(0)).over(w)
    feed.withColumn(ChangeTypeCol,
      when(keyExpr.isNotNull && hasDel === 1 && hasIns === 1,
        when(col(ChangeTypeCol) === "delete", lit("update_preimage"))
          .otherwise(lit("update_postimage")))
        .otherwise(col(ChangeTypeCol)))
      .drop("__cdc_rid")
  }

  /** Feed slice of ONE commit: staged change files (rows already carry
    * [[TxLog.ChangeTypeCol]]) + AddFile entries to serve as all-deletes
    * (their DV-applied pre-state) + entries to serve as all-inserts. */
  private[graft] final case class FeedSlice(
      cdc: Seq[Path], deletes: Seq[AddFile], inserts: Seq[AddFile],
      /** the commit's recorded merge key, when it was an upsert */
      mergeKey: Option[String] = None,
      /** the commit's wall-clock stamp (absent in pre-ts logs) */
      tsMillis: Option[Long] = None)

  /** Classify commit `v` for the change feed — the single source of
    * truth behind [[readChangeFeed]] and the streaming CDF source (see
    * readChangeFeed's Scaladoc for the serving rules). One
    * checkpoint+suffix log read per PRE-STATE-serving commit; pure
    * metadata otherwise. */
  private[graft] def changeFeedSlice(v: Long): FeedSlice = {
    val f = versionFile(v)
    require(Files.exists(f),
      s"txlog: commit $v missing — the change feed window is " +
        "behind the vacuum retention window; re-seed from a snapshot read")
    val c = readCommitFileCached(f)
    // resolved only for ops that serve from the pre-state
    lazy val prevSnap: Snapshot = snapshot(v - 1)
    lazy val prevByPath: Map[String, AddFile] =
      prevSnap.files.map(a => a.path -> a).toMap
    def prevEntries(paths: Seq[String]): Seq[AddFile] =
      paths.map(p => prevByPath.getOrElse(p, throw new IllegalStateException(
        s"txlog: commit $v removes '$p' which version ${v - 1} does not " +
          "hold — corrupt log")))
    val slice = if (c.cdc.nonEmpty || c.cdcFull.nonEmpty) {
      val paths = c.cdc.map { case (p, _) => root.resolve(p) }
      paths.foreach(p => require(Files.exists(p),
        s"txlog: change file $p of commit $v was vacuumed — " +
          "the change feed is behind the retention window"))
      FeedSlice(paths, prevEntries(c.cdcFull), Nil, c.mergeKey)
    } else c.op match {
      case "append" | "streamingUpdate" | "clone" =>
        FeedSlice(Nil, Nil, c.adds)
      case "overwrite" =>
        // guard only when pre-rows exist to serve: an overwrite of an
        // empty table is pure inserts whatever the schema did
        if (c.removes.nonEmpty) {
          val prevPhys = physicalSchema(prevSnap.schema)
          val postPhys = physicalSchema(
            c.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
              .getOrElse(prevSnap.schema))
          require(prevPhys.fields.map(f => (f.name, f.dataType)).toSeq ==
              postPhys.fields.map(f => (f.name, f.dataType)).toSeq,
            s"txlog: commit $v is an overwrite that changed the physical " +
              "schema — its pre-state rows cannot be expressed in the " +
              "current schema. Re-seed from a snapshot read.")
        }
        FeedSlice(Nil, prevEntries(c.removes), c.adds)
      case "restore" =>
        // removed paths: their whole pre-state deletes; a re-added
        // path live in BOTH versions (a reverted deletion vector)
        // replaces: delete(pre entry) + insert(restored entry)
        val (replaced, fresh) = c.adds.partition(a => prevByPath.contains(a.path))
        FeedSlice(Nil, prevEntries(c.removes ++ replaced.map(_.path)),
          replaced ++ fresh)
      case "delete" if c.adds.isEmpty =>
        // remove-only delete (truncate / pure metadata drops written
        // before cdf.enabled): every removed row is a delete — exact
        // from the removed files alone
        FeedSlice(Nil, prevEntries(c.removes), Nil)
      case "compact" | "zorder" | "checkpoint" | "create" | "addColumns"
         | "addConstraint" | "dropConstraint" | "renameColumn"
         | "dropColumn" | "setProps" | "purge" | "widen" =>
        FeedSlice(Nil, Nil, Nil)
      case mutating =>
        // a cdf.enabled rewrite stages its diff at commit time; no
        // cdc actions then means the NET change was empty (e.g.
        // UPDATE SET x = x) — nothing to serve. Only a rewrite
        // written while the feed was OFF is unrecoverable.
        if (prevSnap.props.get(CdfEnabledProp).contains("true"))
          FeedSlice(Nil, Nil, Nil)
        else throw new IllegalStateException(
          s"txlog: commit $v is a '$mutating' rewrite with no change " +
            s"data — it was written without '$CdfEnabledProp'. Re-seed " +
            "from a snapshot read, or enable the feed before mutating.")
    }
    slice.copy(tsMillis = c.tsMillis)
  }

  // ------------------------------------------------------------- writes

  /** Write `df` as uniquely-named parquet files straight into the table
    * root and return their add-actions. The table's one writer
    * ([[ParquetWrites]]) runs inside the tasks of `df`'s own plan, and
    * each task computes the exact stats of the files it writes — one
    * Spark job, nothing read back or moved. Files only become visible
    * when a later commit references them; a crash here leaves invisible
    * orphans for [[vacuum]].
    *
    * `at` is the CALLER's read snapshot (None for a not-yet-created
    * table): partition.spec / write.orderBy / the stats sketches resolve
    * from it, not from a re-read of HEAD — a concurrent setProperty
    * between the caller's read and this staging must not split/sort
    * files under a spec the commit never validated against (the sorted
    * stamp would stay sound — it stamps what it sorted — but the files
    * would silently lose SPJ/ordering eligibility under the committed
    * spec). */
  private def stageData(df: DataFrame, at: Option[Snapshot]): Seq[AddFile] = {
    ensureDirs()
    val head: Option[Snapshot] = at.filter(_.version > 0L)
    // Bucket-spec FILE INTEGRITY (the storage-partitioned-join
    // precondition): under a bucket transform every staged file must be
    // SINGLE-VALUED on the full transform tuple — a file straddling two
    // bucket values poisons the whole scan's KeyGroupedPartitioning and
    // silently re-enables both join-side shuffles. No repartitioning
    // scheme guarantees this (range boundaries come from sampling; hash
    // mod n collides distinct bucket values into one task), so the
    // guarantee lives at the WRITER: its fanout opens one file per tuple
    // key. Leading the task-local sort with the tuple keeps that at
    // exactly one file per tuple per task even past the fanout cap.
    // Non-bucket specs (days/months/trunc/id) keep the plain write:
    // their pruning wants tight RANGES per file (cluster() provides
    // that), not exactness, and skipping the split avoids per-value
    // file fanout on higher-cardinality transforms.
    val transforms = head.toSeq.flatMap(h =>
      PartitionSpec.resolved(h.props, h.schema, df.schema))
    val tupleLead: Seq[Column] =
      if (!transforms.exists(_.kind == "bucket")) Nil
      else transforms.map(t => PartitionSpec.column(t, df.schema(t.source).dataType))
    // write.orderBy: the longest physical sort prefix this staged
    // schema can honor — stop at the first ABSENT column (a sort by
    // (c1, c3) is not a (c1, c2, c3) prefix). Each FILE gets locally
    // sorted: a task-local sort leaves every file's rows in order.
    val orderPhys: Seq[String] = head.toSeq.flatMap(h => writeOrderPhys(h, df.schema))
    val lead = tupleLead ++ orderPhys.map(col)
    adoptStaged(ParquetWrites.write(
      if (lead.isEmpty) df else df.sortWithinPartitions(lead: _*),
      writerFactory(df.sparkSession, head, df.schema, root.toString)),
      sortedBy = orderPhys)
  }

  /** Adopt written root files: the stats their writing tasks recorded
    * become the add-actions, in commit order (task partition, file
    * sequence), and a write that sorted its files stamps the
    * locally-sorted marker. The files already lie in the root under
    * their final names; nothing moves. */
  private[graft] def adoptStaged(
      staged: Seq[ParquetWrites.StagedFile],
      sortedBy: Seq[String] = Nil): Seq[AddFile] = {
    // locally-sorted marker: min == max == the physical sort list;
    // read-side ordering reports require EVERY scanned file to carry an
    // identical one
    val sStat =
      if (sortedBy.isEmpty) Map.empty[String, ColStats]
      else Map(SortedKey -> ColStats(
        "str", sortedBy.mkString(","), sortedBy.mkString(","), Some(0L)))
    staged.sorted.map(f =>
      AddFile(f.name, f.rows, Files.size(root.resolve(f.name)), f.stats ++ sStat))
  }

  /** Group-replace commit for the SQL row-level operations (copy-on-write
    * UPDATE / MERGE / rewritten DELETE): adopt the parquet files a DSv2
    * write staged, drop `removePaths` (the file groups the row-level scan
    * planned), one serializable commit against `readVersion`. A head
    * that moved since the scan fails loudly — the replacement rows were
    * computed from that exact snapshot, and committing them over a
    * concurrent writer's commit would silently drop its rows. */
  private[graft] def replaceFiles(
      spark: SparkSession, readVersion: Long, removePaths: Seq[String],
      staged: Seq[ParquetWrites.StagedFile],
      /** the COW writer's own materialization bit (its ridMetaIdx was
        * defined, so the staged bytes really carry the trailing id
        * column); None = legacy callers, fall back to the pinned
        * snapshot's property. Threaded from GraftReplaceWrite so the
        * flag can never claim a column the bytes don't carry (e.g.
        * when Spark's metadataSchema omitted `_row_id`). */
      writerRid: Option[Boolean] = None): Long = {
    val snap = snapshot(readVersion)
    // staged bytes carry PHYSICAL names (the row-level writer factory is
    // built over physicalSchema) and their stats were computed under
    // this snapshot; constraints validate logically. The sorted stamp is sound because GraftReplaceWrite DECLARED this
    // exact ordering (writeOrderDeclared over the same snapshot) via
    // RequiresDistributionAndOrdering, so every task — and hence every
    // tuple-rolled file's subsequence — arrived sorted; a write that
    // declared nothing stamps nothing.
    val adds = adoptStaged(staged,
      sortedBy = writeOrderDeclaredPhys(snap, physicalSchema(snap.schema)))
    // SQL UPDATE/MERGE can write constraint-violating values; check the
    // replacement rows (adopted parquet — one columnar scan) pre-commit
    enforceOnStaged(spark, snap.schema, adds,
      snap.constraints ++ generatedChecks(snap.props))
    if (adds.isEmpty && removePaths.isEmpty) return snap.version
    // cdf.enabled: diff the replaced group against its replacement —
    // O(touched groups), the same bytes the row-level rewrite moved
    // row tracking: the COW writer materialized each carried row's id
    // (tracking on); replacement adds ALSO take a fresh baseRowId so
    // rows with a null materialized id (MERGE inserts) coalesce to
    // base + index — fresh unique ids. `replace` is never rebased, so
    // the allocation cannot collide with a concurrent assigner.
    val tracked = writerRid.getOrElse(rowTrackingEnabled(snap))
    val cdc = if (cdfEnabled(snap)) {
      val want = removePaths.toSet
      cdcDiff(spark, snap, snap.files.filter(a => want.contains(a.path)), adds, tracked)
    } else Nil
    val (ridAdds, newHwm) = assignBaseRowIds(
      if (tracked) adds.map(_.copy(ridMaterialized = true)) else adds,
      snap.rowIdWatermark)
    commitRewrite(snap, "replace", None, ridAdds, removePaths, cdc = cdc,
      rowIdWatermark = Some(newHwm))
  }

  /** The ONE commit loop — the shape of Delta's `OptimisticTransaction`
    * [Armbrust et al., VLDB 2020]. A mutator hands it a body that builds
    * its actions for a given head; the loop owns the rest: read the head
    * (or start from the caller's `read` version), publish `head + 1` by
    * put-if-absent, auto-checkpoint a won commit, and on a lost race
    * apply `onConflict` ([[TxLog.OnConflict]]) within `maxRetries`
    * publish attempts. A body returning None has nothing left to commit
    * at that head (a streaming batch the txn ledger already covers): the
    * loop returns that head. `staged` names the commit's own temporaries
    * — data and change files, relative to the root — deleted whenever it
    * does not commit: a throwing body, an abort or an exhausted budget. */
  private def transact(
      onConflict: OnConflict, read: Long = -1L, staged: Seq[String] = Nil,
      maxRetries: Int = 20)(body: Long => Option[Commit]): Long = {
    def dropStaged(): Unit = staged.foreach(p => Files.deleteIfExists(root.resolve(p)))
    def build(head: Long): Option[Commit] =
      try body(head) catch { case e: Throwable => dropStaged(); throw e }
    def publish(v: Long, read: Long, c: Commit): Boolean =
      putIfAbsent(
        renderCommit(c.op, read, c.schemaJson, c.adds, c.removes, c.txns,
          addVersions = c.addVersions, constraints = c.constraints,
          // every real commit carries wall-clock time (TIMESTAMP AS OF
          // resolves against it); checkpoints bypass this loop and stay
          // deterministic-bytes
          tsMillis = Some(System.currentTimeMillis()),
          props = c.props, cdc = c.cdc, cdcFull = c.cdcFull,
          mergeKey = c.mergeKey, rowIdWatermark = c.rowIdWatermark),
        versionFile(v))
    var base = if (read >= 0L) read else latestVersion() // what the body read
    var at = base // the version the next publish must follow
    var next = build(base)
    ensureDirs()
    var attempt = 0
    while (next.isDefined) {
      val c = next.get
      def conflict(why: String): ConcurrentWriteException = {
        dropStaged()
        new ConcurrentWriteException(s"txlog: ${c.op} on $tablePath $why — " +
          "nothing was committed; re-read and re-run")
      }
      beforePublishHook()
      // a body built on an earlier read re-checks the head first: a lone
      // put-if-absent at at + 1 would also succeed over a truncated log
      // whose checkpoint already covers that version. Retry bodies were
      // built on a head read just before them, so they skip the listing.
      if ((onConflict == Retry || latestVersion() == at) && publish(at + 1, base, c)) {
        autoCheckpointIfDue(at + 1)
        return at + 1
      }
      attempt += 1
      val head = latestVersion()
      if (onConflict == Abort || (onConflict == Rebase && !rebasable(c, at, head)))
        throw conflict(s"read version $base but the head moved to $head")
      if (attempt >= maxRetries) throw conflict(s"lost $attempt commit races")
      if (onConflict == Retry) { base = head; next = build(head) }
      at = head
    }
    dropStaged()
    base
  }

  /** Test-only seam: runs before every publish attempt of [[transact]] —
    * after the body built its actions, before the put-if-absent — so a
    * spec can land an interloping commit exactly where a real race
    * lands one. No-op in production. */
  private[graft] var beforePublishHook: () => Unit = () => ()

  /** Fail loudly if any row of `df` VIOLATES a constraint (evaluates it
    * to FALSE — a NULL result passes, the SQL CHECK contract). One
    * scan-parallel job over the batch for ALL constraints at once
    * (`coalesce` of per-constraint violation tags picks the first
    * violated name per row); O(batch), never O(table). */
  private def enforceConstraints(
      df: DataFrame, cons: Map[String, String]): Unit =
    enforceConstraintsImpl(df, cons)

  /** Fill ABSENT generated columns of a batch frame from their defining
    * expressions (cast to the declared type) and project into table
    * schema order; frames already carrying every generated column pass
    * through untouched (their values are then VALIDATED on the staged
    * bytes via [[TxLog.generatedChecks]]). With `nullsOmitted` a
    * provided NULL counts as omitted and is computed too (the SQL
    * `INSERT` door, see [[append]]). */
  private def fillGenerated(
      df: DataFrame, schema: StructType, props: Map[String, String],
      nullsOmitted: Boolean = false): DataFrame = {
    val fill = generatedCols(props).filter { case (c, _) =>
      schema.fieldNames.contains(c) && (nullsOmitted || !df.columns.contains(c)) }
    if (fill.isEmpty) df
    else {
      val filled = fill.foldLeft(df) { case (d, (c, e)) =>
        val v = expr(e).cast(schema(c).dataType)
        d.withColumn(c, if (d.columns.contains(c)) coalesce(col(c), v) else v) }
      projectSchemaOrder(filled, schema)
    }
  }

  /** Project a filled frame into table-schema column order, KEEPING any
    * columns outside the schema (a mergeSchema batch's new trailing
    * fields must survive the fill — dropping them here would silently
    * un-widen the append). */
  private def projectSchemaOrder(
      df: DataFrame, schema: StructType): DataFrame = {
    val inSchema = schema.fieldNames.filter(df.columns.contains)
    val extras = df.columns.filterNot(schema.fieldNames.contains)
    df.select((inSchema ++ extras).toIndexedSeq.map(col): _*)
  }

  /** Validate the STAGED parquet of `adds` against `cons`; on violation
    * delete the staged files and rethrow — nothing commits. Reading back
    * the written bytes (one cheap columnar scan) rather than
    * re-evaluating the source frame is load-bearing twice over: the
    * rows validated ARE the rows committed (a non-deterministic source
    * expression re-evaluated for validation could pass while the
    * written rows violate), and the batch's expensive upstream lineage
    * is never computed a second time. */
  private def enforceOnStaged(
      spark: SparkSession, schema: StructType, adds: Seq[AddFile],
      cons: Map[String, String]): Unit =
    if (cons.nonEmpty && adds.nonEmpty) {
      // `schema` is the LOGICAL commit schema (constraint expressions
      // speak logical names); the staged bytes carry physical names
      try enforceConstraintsImpl(
        GraftTableV2.frame(spark, this, Snapshot(0L, schema.json, adds)), cons)
      catch { case e: Throwable =>
        adds.foreach(a => Files.deleteIfExists(root.resolve(a.path)))
        throw e
      }
    }

  private def enforceConstraintsImpl(
      df: DataFrame, cons: Map[String, String]): Unit =
    if (cons.nonEmpty) {
      val tags = cons.toList.sortBy(_._1).map { case (n, e) =>
        when(expr(e) === lit(false), lit(n)) }
      val hit = df.select(coalesce(tags: _*).as("_violated"))
        .filter(col("_violated").isNotNull)
        .take(1)
      hit.headOption.foreach { r =>
        val n = r.getString(0)
        throw new IllegalStateException(
          s"txlog: CHECK constraint '$n' (${cons(n)}) violated by the " +
            s"incoming batch at $tablePath — nothing was committed")
      }
    }

  /** Blind append: new files, no removes — logically conflict-free, so a
    * lost race just retries at the next version number. Returns the
    * committed version. */
  def append(df: DataFrame, maxRetries: Int = 20): Long =
    append(df, mergeSchema = false, maxRetries)

  /** Append with optional schema evolution. With `mergeSchema = false`
    * (the default) the batch schema must match the table's exactly.
    * With `mergeSchema = true`, NEW columns widen the table schema —
    * they become nullable trailing fields, and rows from older files
    * read back as null there (the explicit-schema parquet scan fills
    * absent columns) — while a same-name column with a DIFFERENT type
    * still fails: silent type coercion corrupts readers (the Delta
    * `mergeSchema` contract). Dropping or retyping columns remains an
    * `overwrite()`. */
  def append(df0: DataFrame, mergeSchema: Boolean, maxRetries: Int): Long =
    append(df0, mergeSchema, maxRetries, txn = None, nullsOmitted = false)

  /** The append every DataFrame door commits through (the two above,
    * `df.write.format`, catalog `INSERT`, [[appendIdempotent]] and the
    * streaming sinks). Generated columns the batch omits are computed
    * BEFORE the schema check; provided ones validate on the staged
    * bytes. Identity columns fill with monotonically-unique values at
    * or above the property's `next` (gaps allowed — the Delta
    * contract), and a batch PROVIDING one refuses: ALWAYS semantics.
    * `txn` = (appId, batchId) is the streaming ledger entry. With
    * `nullsOmitted` (the SQL `INSERT` door: Spark fills every column an
    * INSERT omits with NULL) a NULL identity or generated value counts
    * as omitted, and a non-NULL identity value fails the staging job. */
  private[graft] def append(
      df0: DataFrame, mergeSchema: Boolean, maxRetries: Int,
      txn: Option[(String, Long)], nullsOmitted: Boolean): Long =
    appendCommit(df0.sparkSession, df0.schema, mergeSchema, maxRetries, txn) {
      (snap0, idBase) =>
        if (!nullsOmitted) idBase.keys.foreach(c =>
          require(!df0.columns.contains(c), identityProvided(c)))
        val idFilled = idBase.foldLeft(
            fillGenerated(df0, snap0.schema, snap0.props, nullsOmitted)) {
          case (d, (c, next)) if snap0.schema.fieldNames.contains(c) =>
            val id = (lit(next) + monotonically_increasing_id())
              .cast(snap0.schema(c).dataType)
            d.withColumn(c,
              if (!d.columns.contains(c)) id
              else when(col(c).isNull, id).otherwise(raise_error(lit(identityProvided(c)))))
          case (d, _) => d
        }
        val df = if (idBase.isEmpty) idFilled else projectSchemaOrder(idFilled, snap0.schema)
        // mapped tables: the staged bytes carry the commit schema's PHYSICAL
        // names (a rename/drop racing this append is detected per attempt)
        val stagedUnder = DataType.fromJson(commitSchemaFor(snap0, df.schema, mergeSchema))
          .asInstanceOf[StructType]
        // hidden partitioning: cluster the batch by the spec's transform
        // tuple (one range exchange) so files cover tight transform ranges —
        // see [[PartitionSpec.cluster]]; no-op on spec-less tables
        val physDf = toPhysical(df, stagedUnder)
        (df.schema, stagedUnder, stageData(PartitionSpec.cluster(physDf,
          PartitionSpec.resolved(snap0.props, snap0.schema, physDf.schema)), Some(snap0)))
    }

  /** The `writeStream.toTable` door: the files a DSv2 streaming epoch
    * already wrote (under `schema`'s physical names, sorted by
    * `sortedBy`) commit through [[appendCommit]] under the txn ledger.
    * [[refuseEngineAssigned]] runs while planning and again here,
    * against a head that may have moved since. */
  private[graft] def appendStaged(
      spark: SparkSession, schema: StructType,
      staged: Seq[ParquetWrites.StagedFile], sortedBy: Seq[String],
      txn: (String, Long)): Long =
    appendCommit(spark, schema, mergeSchema = false, maxRetries = 20, Some(txn)) {
      (snap0, _) =>
        refuseEngineAssigned(snap0, schema)
        (schema, schema, adoptStaged(staged, sortedBy))
    }

  /** Bytes written before the commit cannot take engine-assigned
    * values: an identity column of `snap`, or a generated column a
    * write of `schema` omits, refuses, naming the column. */
  private[graft] def refuseEngineAssigned(snap: Snapshot, schema: StructType): Unit =
    (identityCols(snap.props).keys ++ generatedCols(snap.props).keys.filter(c =>
      snap.schema.fieldNames.contains(c) && !schema.fieldNames.contains(c)))
      .foreach(c => throw new IllegalArgumentException(s"txlog: column '$c' " +
        "is engine-assigned (GENERATED ALWAYS AS IDENTITY, or generated and " +
        "omitted), but writeStream.toTable writes its epochs before the " +
        s"commit — stream into $tablePath with writeStream.format(\"graft-table\")"))

  private def identityProvided(c: String): String =
    s"txlog: column '$c' is GENERATED ALWAYS AS IDENTITY — the engine " +
      "assigns it (overwrite() is the reshape escape hatch, then syncIdentity)"

  private def txnCovered(snap: Snapshot, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, id) => snap.txns.get(app).exists(_ >= id) }

  /** The one append commit. A batch the txn ledger already covers
    * stages nothing. `stage` validates BEFORE writing (a type conflict
    * must not cost a complete data write) against the head read here
    * and the identity bases to allocate from; it returns the staged
    * bytes' logical schema, the schema whose physical names they carry,
    * and the files, which [[appendBody]] commits. A racing identity
    * allocator re-runs the whole append, restaging. */
  private def appendCommit(
      spark: SparkSession, schema0: StructType, mergeSchema: Boolean,
      maxRetries: Int, txn: Option[(String, Long)])(
      stage: (Snapshot, Map[String, Long]) => (StructType, StructType, Seq[AddFile])
  ): Long = {
    require(txn.forall(_._1.nonEmpty), "txlog: appId must be non-empty")
    val head0 = latestVersion()
    val snap0 =
      if (head0 == 0L) Snapshot(0L, schema0.json, Nil) else snapshot(head0)
    if (txnCovered(snap0, txn)) return head0
    val idBase = identityCols(snap0.props)
    val (batch, stagedUnder, adds) = stage(snap0, idBase)
    val body = appendBody(spark, batch, mergeSchema, adds, stagedUnder, idBase, txn)
    var attempts = 0
    try transact(Retry, staged = adds.map(_.path), maxRetries = maxRetries) { head =>
      attempts += 1
      body(head)
    } catch { case IdentityRaced =>
      if (maxRetries - attempts <= 0) throw new ConcurrentWriteException(
        s"txlog: identity allocation kept racing at $tablePath")
      appendCommit(spark, schema0, mergeSchema, maxRetries - attempts, txn)(stage)
    }
  }

  /** The per-attempt body [[appendCommit]] hands [[transact]] (`Retry`),
    * from ONE snapshot resolution per attempt. At each head it skips a
    * batch the txn ledger covers; refuses an identity column the engine
    * did not allocate (also one a concurrent setProperty made identity
    * mid-flight) and restages (IdentityRaced) when the identity columns
    * moved since `idBase`; re-derives the schema line
    * ([[commitSchemaFor]]) and refuses a column mapping that moved under
    * the staged bytes; validates them against a constraint set they have
    * not yet passed; drops hash sketches of narrow-staged columns;
    * assigns row ids and advances each allocated `next` past the
    * committed max. `batch` is the staged bytes' logical schema,
    * `stagedUnder` the schema whose physical names they carry. */
  private def appendBody(
      spark: SparkSession, batch: StructType, mergeSchema: Boolean,
      adds: Seq[AddFile], stagedUnder: StructType, idBase: Map[String, Long],
      txn: Option[(String, Long)]): Long => Option[Commit] = {
    val op = if (txn.isEmpty) "append" else "streamingUpdate"
    val stagedPhysical = physicalSchema(stagedUnder).fieldNames.toSeq
    val stagedTypes = batch.fields.map(f => physicalOf(stagedUnder, f.name) -> f.dataType)
    var validated = Map.empty[String, String]
    head => {
      val snap = if (head == 0L) Snapshot(0L, batch.json, Nil) else snapshot(head)
      if (txnCovered(snap, txn)) None
      else {
        val ids = identityCols(snap.props)
        batch.fieldNames.filter(c => ids.contains(c) && !idBase.contains(c))
          .foreach(c => throw new IllegalArgumentException(identityProvided(c)))
        if (ids != idBase) throw IdentityRaced
        val schemaJson = commitSchemaFor(snap, batch, mergeSchema)
        val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        // PREFIX compare: physical names are immutable for surviving
        // columns (rename re-points the logical name only) and a
        // concurrent widen APPENDS fields — both leave the staged bytes'
        // binding intact. What this catches is a concurrent overwrite /
        // drop+re-add changing the physical identity of a column this
        // batch already staged bytes for
        if (physicalSchema(schema).fieldNames.take(stagedPhysical.length).toSeq !=
            stagedPhysical)
          throw new ConcurrentWriteException(
            s"txlog: the column mapping of $tablePath changed while this " +
              s"$op was staging (concurrent overwrite or drop/re-add) — the " +
              "staged bytes carry stale physical names; re-run it")
        // constraints validate the STAGED bytes (see enforceOnStaged: the
        // rows checked are the rows committed, and the source lineage
        // never runs twice), read under the head's LOGICAL commit schema:
        // mapped bytes carry physical names, and a mergeSchema batch
        // omitting a constrained column reads NULL there — which PASSES
        // (SQL semantics). Only a constraint set that moved since the
        // last pass costs another read.
        val cur = snap.constraints ++ generatedChecks(snap.props)
        if (cur != validated) {
          enforceOnStaged(spark, schema, adds, cur)
          validated = cur
        }
        // upcast-on-write: when the commit schema is WIDER than the staged
        // bytes (an integral-narrow batch on a widened table), the narrow
        // column's hash-keyed stats artifacts — bloom bitsets, HLL
        // sketches, bucket-transform keys — were hashed over the NARROW
        // representation and must drop (probes hash the table's type; a
        // stale hash prunes wrongly, a missing one only costs pruning).
        // min/max/null/sum strings are value-identical in the integral
        // domain and stay. Re-derived per attempt: a concurrent widen can
        // move the commit schema mid-race.
        val physTypes = physicalSchema(schema).fields.map(f => f.name -> f.dataType).toMap
        val narrowed = stagedTypes.collect {
          case (p, t) if physTypes.get(p).exists(_ != t) => p }.toSet
        val commitAdds =
          if (narrowed.isEmpty) adds
          else adds.map { a =>
            val drop = a.stats.keysIterator.filter(k =>
              PartitionSpec.fromStatKey(k).exists(t =>
                t.kind == "bucket" && narrowed(t.source))).toSet
            a.copy(stats = (a.stats -- drop).map {
              case (k, st) if narrowed(k) => k -> st.copy(bloom = None, hll = None)
              case kv => kv
            })
          }
        // row tracking: every append assigns VIRTUAL row ids from the
        // head's watermark — log metadata only
        val (ridAdds, hwm) = assignBaseRowIds(commitAdds, snap.rowIdWatermark)
        Some(Commit(op, Some(schemaJson), ridAdds,
          txns = txn.toMap, rowIdWatermark = Some(hwm),
          props = if (idBase.isEmpty) None else Some(snap.props ++ idBase.map {
            case (name, next) =>
              val mx = adds.flatMap(_.stats.get(physicalOf(schema, name)))
                .map(st => BigDecimal(st.max).toLongExact)
              (IdentityPrefix + name) ->
                (if (mx.isEmpty) next else math.max(next, mx.max + 1L)).toString
          })))
      }
    }
  }

  /** The schema line an append at `head` must commit: the CURRENT head
    * schema, widened by the batch schema only under
    * `mergeSchema = true`. Recomputed per commit attempt — committing a
    * schema captured before a lost race would silently ERASE a
    * concurrent widening append's new columns from the table (snapshot
    * replay takes the last schema action). A STRICT append whose head
    * diverged mid-race (concurrent widen/retype/overwrite) fails loudly
    * here rather than silently merging; type conflicts under merge mode
    * fail inside [[mergedSchema]]. */
  private def commitSchemaFor(
      head: Snapshot, batch: StructType, mergeSchema: Boolean): String =
    if (head.version == 0L) batch.json
    else {
      val existing = head.schema
      if (upcastCompatible(existing, batch)) existing.json
      else if (!mergeSchema) throw new IllegalArgumentException(
        s"txlog: append schema ${batch.simpleString} does not match table " +
          s"schema ${existing.simpleString}; pass mergeSchema = true to add " +
          "columns, or overwrite() to change schema")
      else mergedSchema(existing, batch).json
    }

  /** Table schema ∪ batch schema: existing fields keep their order and
    * type (batch must agree on type where names overlap), genuinely new
    * batch fields append as nullable. */
  private def mergedSchema(table: StructType, batch: StructType): StructType = {
    val tableTypes = table.fields.map(f => f.name -> f.dataType).toMap
    batch.fields.foreach { f =>
      tableTypes.get(f.name).foreach { t =>
        // an integral NARROWING of the table type is accepted — the
        // table field wins and the staged narrow bytes up-cast at scan
        // time (see upcastCompatible); widening the TABLE type is the
        // explicit widenColumn commit, everything else overwrite()
        require(t == f.dataType || integralWidens(f.dataType, t),
          s"txlog: mergeSchema cannot retype column '${f.name}' from " +
            s"${t.simpleString} to ${f.dataType.simpleString} — widen " +
            "with widenColumn (ALTER COLUMN ... TYPE), or overwrite()")
      }
    }
    val newFields = batch.fields.filterNot(f => tableTypes.contains(f.name))
      .map(_.copy(nullable = true))
    // a MAPPED table assigns new columns fresh physical names inside a
    // single schema-only commit (addColumns) — assigning them here, in a
    // staging path that re-derives the schema per commit attempt, could
    // commit a physical name the already-staged bytes don't carry
    require(newFields.isEmpty || !isMapped(table),
      s"txlog: mergeSchema cannot add columns " +
        s"(${newFields.map(_.name).mkString(", ")}) to a column-mapped " +
        "table — run addColumns / ALTER TABLE ADD COLUMNS first, then append")
    StructType(table.fields ++ newFields)
  }

  /** Idempotent append for streaming writers: the commit records
    * (`appId`, `batchId`) as a txn action, and a batch at or below the
    * recorded high-water mark is SKIPPED (returns the current head
    * unchanged). This is what turns foreachBatch's at-least-once replay
    * into exactly-once: after a crash between commit and offset-log
    * update, Structured Streaming re-runs the batch with the SAME id,
    * and the replay lands here as a no-op — the Delta `txn` protocol
    * [Armbrust et al., VLDB 2020 §3.1]. Any other batch is a plain
    * strict [[append]] — a sink must not silently evolve the table.
    *
    * The txn check re-runs on every lost commit race: two executors of
    * the same restarted query racing the same batch resolve to exactly
    * one append. Returns the committed (or already-covering) version. */
  def appendIdempotent(
      df: DataFrame, appId: String, batchId: Long, maxRetries: Int = 20): Long =
    append(df, mergeSchema = false, maxRetries, Some(appId -> batchId), nullsOmitted = false)

  /** Is `from` → `to` an INTEGRAL-family widening (byte→short→int→long)?
    * The subset of type widening where the stats comparison domain is
    * value-identical (exact integer strings), so a NARROWER batch can
    * commit against the wider table schema with its staged bytes read
    * through parquet type promotion — the upstream-still-writes-INT
    * shape after an id column widened to BIGINT. Float is excluded:
    * float-derived stats strings understate the double domain. */
  private[graft] def integralWidens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case _ => false
    }

  /** `batch` equals `table` field-for-field, allowing each batch field
    * to be an integral NARROWING of the table's type (see
    * [[integralWidens]]); such a batch commits under the table schema
    * unchanged. */
  private def upcastCompatible(table: StructType, batch: StructType): Boolean =
    table.fields.length == batch.fields.length &&
      table.fields.zip(batch.fields).forall { case (t, b) =>
        t.name == b.name &&
          (t.dataType == b.dataType || integralWidens(b.dataType, t.dataType))
      }

  /** Replace the whole table content (and possibly schema) in one
    * commit. Conflict-checked against the snapshot read at entry: a
    * concurrent commit of ANY kind aborts this one (its rows would be
    * silently dropped otherwise). `expectedVersion` makes the check
    * CAS-style against a version the CALLER read earlier (compute
    * outside, commit conditionally — the shape long-running jobs need:
    * stage an hour-long rewrite, then refuse to clobber anything that
    * landed meanwhile). */
  def overwrite(df0: DataFrame, expectedVersion: Long = -1L): Long =
    overwrite(df0, expectedVersion, nullsOmitted = false)

  /** [[overwrite]] for SQL `INSERT OVERWRITE`: `nullsOmitted` as in
    * [[append]]'s `INSERT` door. */
  private[graft] def overwrite(
      df0: DataFrame, expectedVersion: Long, nullsOmitted: Boolean): Long = {
    val snap = if (Files.exists(logDir)) snapshot() else Snapshot(0L, df0.schema.json, Nil)
    if (expectedVersion >= 0 && snap.version != expectedVersion)
      throw new ConcurrentWriteException(
        s"txlog: overwrite expected version $expectedVersion but head is " +
          s"${snap.version} — re-read and re-derive before committing")
    // an overwrite that omits a generated column keeps the table shape
    // (the column is computed, like append); reshaping overwrites unset
    // the `generated.` property first
    val df = fillGenerated(df0, snap.schema, snap.props, nullsOmitted)
    // the committed schema is df's OWN (overwrite may change schema —
    // and with it the mapping: a metadata-free frame resets the table
    // to unmapped); the staged bytes must match whatever that schema
    // declares as physical
    val adds = stageData(toPhysical(df, df.schema), Some(snap))
    // CAS commit — no constraint race to re-check: a head moved since
    // `snap` aborts the commit itself
    enforceOnStaged(df.sparkSession, df.schema, adds,
      snap.constraints ++ generatedChecks(snap.props))
    // row tracking: an overwrite's rows are all new — fresh virtual
    // ids continuing the table's watermark (never reusing a range)
    val (ridAdds, newHwm) = assignBaseRowIds(adds, snap.rowIdWatermark)
    commitRewrite(snap, "overwrite", Some(df.schema.json), ridAdds,
      snap.files.map(_.path), rowIdWatermark = Some(newHwm))
  }

  /** File-granular copy-on-write MERGE ([[Medallion.applyCdc]] semantics:
    * latest change per key by `seqCol` wins, winning `_deleted` drops the
    * key, new keys insert). Only files whose key-range stats overlap the
    * change batch's key range are read and rewritten; every other live
    * file is carried over untouched — at 100 TB a point-ish CDC batch
    * rewrites a handful of files, not the table. */
  def upsert(changes: DataFrame, key: String, seqCol: String): Long = {
    val spark = changes.sparkSession
    val snap = snapshot()
    val bounds = changes.agg(min(col(key)), max(col(key))).head()
    if (bounds.isNullAt(0)) return snap.version // empty batch: no-op, no commit
    val lo = Some(statsLiteral(bounds.get(0))); val hi = Some(statsLiteral(bounds.get(1)))
    // conservative: a file with no stats for the key column must be
    // treated as overlapping
    val physKey = physicalOf(snap.schema, key)
    val (touched, _) = snap.files.partition(
      _.stats.get(physKey).forall(_.overlaps(lo, hi)))
    // merge-on-read upsert (`update.mode = merge-on-read`): matched
    // rows become deletion-vector entries on their files and the
    // batch's latest upsert images append as new files — the streaming
    // CDC-replication shape where copy-on-write re-stages every row of
    // every key-overlapping file per micro-batch. The DV triage and
    // rewrite leg ride [[commitDeltaRowLevelAdds]]; untouched keys
    // never move.
    if (touched.nonEmpty && snap.schema.fields.nonEmpty &&
        snap.props.get(UpdateModeProp).contains(DeleteModeMor))
      return upsertMor(spark, snap, changes, key, seqCol, touched)
    val base =
      if (touched.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          changes.drop("_deleted", "_op", seqCol).schema)
      else GraftTableV2.frame(spark, this, snap.copy(files = touched))
    val merged0 = Medallion.applyCdc(base, changes, key, seqCol)
    // row tracking: an UPDATED key keeps its base row's id, joined back
    // by key after the merge (the upsert contract treats `key` as a
    // primary key; a duplicate-keyed base degrades to min-id per key
    // rather than fanning rows out); new keys, and keys whose file has
    // no id info, stage a null id and take fresh base + index through
    // the coalesce convention
    val tracked = rowTrackingEnabled(snap) && touched.nonEmpty
    val merged =
      if (!tracked) merged0
      else merged0.join(rowIdsByKey(spark, snap, touched, key), Seq(key), "left")
    val adds0 = stageData(toPhysical(merged, snap.schema), Some(snap))
    val adds = if (tracked) adds0.map(_.copy(ridMaterialized = true)) else adds0
    // constraints check the WRITTEN rows (the merged file content), read
    // back from the staged parquet — no second CDC-merge computation; a
    // violation drops the staged files and nothing commits
    enforceOnStaged(spark,
      if (snap.schema.isEmpty) merged0.schema else snap.schema,
      adds, snap.constraints ++ generatedChecks(snap.props))
    // first commit on a schema-less table MUST write the schema action —
    // committing only adds would leave every later snapshot() unable to
    // resolve ("no schema action found"), bricking the table
    val schemaJson = if (snap.schema.isEmpty) Some(merged0.schema.json) else None
    // cdf.enabled: the feed batch is the pre-vs-post diff of the TOUCHED
    // files only — O(rewrite), never O(table)
    val cdc = if (cdfEnabled(snap)) cdcDiff(spark, snap, touched, adds, tracked) else Nil
    val (ridAdds, newHwm) = assignBaseRowIds(adds, snap.rowIdWatermark)
    val v = commitRewrite(snap, "upsert", schemaJson, ridAdds,
      touched.map(_.path), cdc = cdc, mergeKey = Some(key),
      rowIdWatermark = Some(newHwm))
    // untouched files are never staged or referenced by the commit —
    // no post-commit existence sweep (O(#files) stat() calls, and a
    // concurrent vacuum hiccup would blame this committed upsert)
    v
  }

  /** Each `key` of `files` with its row's stable id as [[RowIdPhysCol]]
    * — how an upsert's post-image keeps the id of the row it updates
    * (min id per key on a duplicate-keyed base, never a fan-out). */
  private def rowIdsByKey(
      spark: SparkSession, snap: Snapshot, files: Seq[AddFile],
      key: String): DataFrame =
    GraftTableV2.frame(spark, this, snap.copy(files = files),
        Seq(GraftTableV2.RowIdCol))
      .groupBy(col(s"`$key`"))
      .agg(min(col(GraftTableV2.RowIdCol)).as(RowIdPhysCol))

  /** The merge-on-read leg of [[upsert]]: ONE tagged pass over the
    * touched files finds the matched positions (existing DVs applied —
    * an already-deleted row can never match again), the mergeable
    * [[graft.functions.DvAgg]] folds them into per-file bitmaps
    * executor-side (unbounded here — the commit core's triage decides
    * rewrite legs from the MERGED bitmaps), and the batch's latest
    * non-deleted images stage as the only new bytes. CDF note: unlike
    * the copy-on-write leg's net diff, this stages every matched
    * pre-image + every post-image (the Delta DV-DML feed shape — an
    * identity update pairs instead of netting out; folds agree either
    * way), with the merge key recorded for image re-pairing. */
  private def upsertMor(
      spark: SparkSession, snap: Snapshot, changes: DataFrame,
      key: String, seqCol: String, touched: Seq[AddFile]): Long = {
    val keyVals = changes.select(col(key).as("__k")).distinct()
    val bitmaps = matchedBitmaps(
      GraftTableV2.frame(spark, this, snap.copy(files = touched),
          Seq(GraftTableV2.FileCol, GraftTableV2.PosCol))
        .join(keyVals, col(s"`$key`") === col("__k"), "left_semi"))
    // the batch's own latest images ARE the post-state for matched and
    // brand-new keys alike (changes carry full rows — the applyCdc
    // contract); base rows of untouched keys never move
    val emptyBase = changes.drop("_deleted", "_op", seqCol).limit(0)
    val inserts0 = Medallion.applyCdc(emptyBase, changes, key, seqCol)
    // row tracking: an UPDATED key's post-image keeps its base row's id
    // (Delta's row-tracking contract holds on BOTH DML planes — a
    // MOR update is an update, not delete+insert, to an id-keyed
    // consumer). Same keyed join-back as the COW leg: min-id per key
    // on duplicate-keyed bases, null for brand-new keys and keys whose
    // file has no id info (they coalesce to fresh base + index).
    val tracked = rowTrackingEnabled(snap)
    val inserts =
      if (!tracked) inserts0
      else inserts0.join(rowIdsByKey(spark, snap, touched, key), Seq(key), "left")
    // spec-cluster the image files like any append — post-images keep
    // tight transform ranges (day pruning, bucket single-valuedness for
    // storage-partitioned joins) instead of straddling every tuple
    val physInserts = toPhysical(inserts, snap.schema)
    val insertAdds0 = stageData(PartitionSpec.cluster(physInserts,
      PartitionSpec.resolved(snap.props, snap.schema, physInserts.schema)),
      Some(snap))
    val insertAdds =
      if (tracked) insertAdds0.map(_.copy(ridMaterialized = true))
      else insertAdds0
    commitDeltaRowLevelAdds(spark, snap, bitmaps, insertAdds,
      op = "upsert", mergeKey = Some(key))._3
  }

  /** Create an EMPTY table: commit v1 carries the schema and no files.
    * The catalog's `CREATE TABLE` — fails if anything ever committed
    * here (concurrent creators race on the same put-if-absent commit,
    * one wins). */
  def create(schema: StructType): Long =
    transact(Abort, read = 0L)(_ => Some(Commit("create", Some(schema.json))))

  /** Widen the table by `cols` in ONE schema-only commit — the catalog's
    * `ALTER TABLE ADD COLUMNS`. New columns append as nullable trailing
    * fields and existing rows read back as null there (the
    * explicit-schema parquet scan fills absent columns), exactly the
    * `append(mergeSchema = true)` widening without the data write. A
    * column name already on the table fails loudly (SQL contract), as
    * does a non-nullable column (no backfill value exists). Row-neutral
    * for tailing consumers — a stream skips it like `compact`. Retries
    * lost commit races: widening by disjoint column sets composes. */
  def addColumns(cols: Seq[StructField], maxRetries: Int = 20): Long = {
    require(cols.nonEmpty, "txlog: addColumns needs at least one column")
    // intra-call duplicates would commit a schema no reader can resolve
    // (ambiguous column) — validate the batch against itself first,
    // case-insensitively (Spark's default resolution is)
    val lowered = cols.map(_.name.toLowerCase(java.util.Locale.ROOT))
    require(lowered.distinct.size == cols.size,
      s"txlog: addColumns batch repeats a column name (case-insensitive): " +
        cols.map(_.name).mkString(", "))
    transact(Retry, maxRetries = maxRetries) { head =>
      require(head > 0L, s"txlog: no table at $root to alter")
      val existing = snapshot(head).schema
      val existingLower =
        existing.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      cols.foreach { f =>
        require(!existingLower.contains(f.name.toLowerCase(java.util.Locale.ROOT)),
          s"txlog: column '${f.name}' already exists on $root " +
            "(names compare case-insensitively, as Spark resolves them)")
        require(f.nullable,
          s"txlog: new column '${f.name}' must be nullable — existing " +
            "rows have no value to backfill")
      }
      // on a MAPPED table every new column takes a FRESH physical name:
      // a previously-dropped column of the same logical name may have
      // left bytes under it in old files, and re-reading those as the
      // new column would resurrect deleted data
      val stamped =
        if (!isMapped(existing)) cols
        else cols.map(f => withPhysical(f, freshPhysical(f.name)))
      Some(Commit("addColumns", Some(StructType(existing.fields ++ stamped).json)))
    }
  }

  /** `ALTER TABLE … RENAME COLUMN old TO new` as ONE schema-only commit:
    * the field's LOGICAL name changes; its physical name — the one the
    * immutable data files carry — is pinned first if absent, so no data
    * file is read or rewritten at any table size (Delta column-mapping
    * `name` mode). Every later read/write translates at the schema
    * boundary; old snapshots keep their old schemaJson, so time travel
    * sees the old name. */
  def renameColumn(oldName: String, newName: String, maxRetries: Int = 20): Long = {
    require(oldName != newName, "txlog: rename to the same name is a no-op")
    transact(Retry, maxRetries = maxRetries) { head =>
      require(head > 0L, s"txlog: no table at $root to alter")
      val snap = snapshot(head)
      val existing = snap.schema
      require(existing.fieldNames.contains(oldName),
        s"txlog: no column '$oldName' on $root to rename")
      require(!existing.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
          .contains(newName.toLowerCase(java.util.Locale.ROOT)),
        s"txlog: column '$newName' already exists on $root " +
          "(names compare case-insensitively, as Spark resolves them)")
      constraintsReferencing(snap.constraints, oldName).foreach { n =>
        throw new IllegalArgumentException(
          s"txlog: cannot rename '$oldName' — CHECK constraint '$n' " +
            "references it; drop the constraint first and re-add it " +
            "against the new name")
      }
      locally {
        val gens = generatedCols(snap.props)
        require(!identityCols(snap.props).contains(oldName),
          s"txlog: cannot rename '$oldName' — it is an identity column; " +
            s"unset '$IdentityPrefix$oldName' first and re-declare it")
        require(!gens.contains(oldName),
          s"txlog: cannot rename '$oldName' — it is a generated column; " +
            s"unset '$GeneratedPrefix$oldName' first and re-declare it")
        constraintsReferencing(gens, oldName).foreach { g =>
          throw new IllegalArgumentException(
            s"txlog: cannot rename '$oldName' — generated column '$g' " +
              "derives from it; unset its property first")
        }
      }
      val renamed = StructType(existing.fields.map { f =>
        if (f.name != oldName) f
        else withPhysical(f, physicalName(f)).copy(name = newName)
      })
      Some(Commit("renameColumn", Some(renamed.json)))
    }
  }

  /** TYPE WIDENING as a metadata-only schema commit (opt-in via
    * `type.widening = true`; Delta 3.2's typeWidening shape): retype a
    * column to a strictly WIDER type — byte→short→int→long,
    * float→double, decimal precision growth at the same scale — with
    * no data file read or rewritten at any table size. Old files
    * up-cast at scan time: Spark's parquet reader promotes the
    * physical INT32/FLOAT/decimal bytes into the wider read schema.
    *
    * The commit re-emits affected live AddFiles with the column's
    * stats RE-TYPED, not re-derived: integral/decimal comparison
    * strings are already exact in the wider domain; float bounds
    * re-render as the widened double's own comparison string (the
    * value is exactly `f.toDouble` — so future double probes compare
    * in one consistent domain). Hash-keyed artifacts — Bloom bitsets,
    * HLL sketches, and bucket-transform stats — DROP for the column:
    * their write-side hashes bound the OLD type's bytes, and a stale
    * hash prunes wrongly where a missing one only costs pruning.
    * Narrowing (or any unlisted retype) still refuses — that remains
    * `overwrite()`. */
  def widenColumn(name: String, to: DataType, maxRetries: Int = 20): Long = {
    def widens(from: DataType, t: DataType): Boolean = (from, t) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (fd: DecimalType, td: DecimalType) =>
        td.scale == fd.scale && td.precision > fd.precision
      case _ => false
    }
    transact(Retry, maxRetries = maxRetries) { head =>
      require(head > 0L, s"txlog: no table at $root to alter")
      val snap = snapshot(head)
      require(snap.props.get(TypeWideningProp).contains("true"),
        s"txlog: type widening is opt-in — set table property " +
          s"'$TypeWideningProp' = 'true' first")
      val idx = snap.schema.fieldNames.indexOf(name)
      require(idx >= 0, s"txlog: unknown column '$name' on $root")
      val f = snap.schema.fields(idx)
      require(widens(f.dataType, to),
        s"txlog: ${f.dataType.simpleString} -> ${to.simpleString} is not " +
          "a supported widening (byte/short/int up to long, " +
          "float -> double, decimal precision growth at the same " +
          "scale); narrowing or reshaping is overwrite()")
      require(!identityCols(snap.props).contains(name) &&
          !generatedCols(snap.props).contains(name),
        s"txlog: cannot widen '$name' — identity/generated columns pin " +
          "their declared type; unset the property first")
      constraintsReferencing(generatedCols(snap.props), name).foreach { g =>
        throw new IllegalArgumentException(
          s"txlog: cannot widen '$name' — generated column '$g' derives " +
            "from it and its declared type is pinned; unset its " +
            "property first")
      }
      val phys = physicalName(f)
      val widened = StructType(
        snap.schema.fields.updated(idx, f.copy(dataType = to)))
      def retype(cs: ColStats): ColStats = f.dataType match {
        case FloatType =>
          // exact: the file's bytes read back as f.toDouble, whose
          // comparison string is what future double probes render
          def d(s: String): String =
            statsLiteral(java.lang.Double.valueOf(
              java.lang.Float.parseFloat(s).toDouble))
          cs.copy(min = d(cs.min), max = d(cs.max), bloom = None, hll = None)
        case _ => cs.copy(bloom = None, hll = None)
      }
      def staleBucketKey(k: String): Boolean =
        PartitionSpec.fromStatKey(k).exists(t =>
          t.kind == "bucket" && t.source == phys)
      val changed = snap.files.flatMap { a =>
        val drop = a.stats.keysIterator.filter(staleBucketKey).toSet
        val entry = a.stats.get(phys)
        val needsRetype = entry.exists(cs => f.dataType == FloatType ||
          cs.bloom.isDefined || cs.hll.isDefined)
        if (drop.isEmpty && !needsRetype) None
        else Some(a.copy(stats = (a.stats -- drop).map {
          case (k, cs) if k == phys => k -> retype(cs)
          case kv => kv
        }))
      }
      // provenance of re-emitted entries stays with the ORIGINAL commit
      val addVersions = changed.map(a =>
        a.path -> snap.addedIn.getOrElse(a.path, head)).toMap
      Some(Commit("widen", Some(widened.json), changed, addVersions = addVersions))
    }
  }

  /** `ALTER TABLE … DROP COLUMN` as ONE schema-only commit: the field
    * leaves the logical schema; the bytes stay in the immutable files,
    * simply never read again (and physically gone at the next full
    * rewrite — compact/zorder stage only live columns). Dropping turns
    * column mapping ON for every surviving field: a future ADD COLUMNS
    * of the same name must take a fresh physical name, or it would
    * resurrect this column's bytes from pre-drop files. */
  def dropColumn(name: String, maxRetries: Int = 20): Long =
    transact(Retry, maxRetries = maxRetries) { head =>
      require(head > 0L, s"txlog: no table at $root to alter")
      val snap = snapshot(head)
      val existing = snap.schema
      require(existing.fieldNames.contains(name),
        s"txlog: no column '$name' on $root to drop")
      require(existing.fields.length > 1,
        s"txlog: cannot drop '$name' — it is the only column")
      constraintsReferencing(snap.constraints, name).foreach { n =>
        throw new IllegalArgumentException(
          s"txlog: cannot drop '$name' — CHECK constraint '$n' references " +
            "it; drop the constraint first")
      }
      // a partition transform reading this column would silently stop
      // applying to new files — refuse, like constraints (the spec is
      // one `setProperty` away from dropping the transform first)
      snap.props.get(PartitionSpec.Prop).foreach { spec =>
        if (PartitionSpec.parse(spec).exists(t => t.source == name ||
            t.source == physicalOf(existing, name)))
          throw new IllegalArgumentException(
            s"txlog: cannot drop '$name' — ${PartitionSpec.Prop} " +
              s"('$spec') partitions on it; update the spec first")
      }
      locally {
        val gens = generatedCols(snap.props)
        require(!identityCols(snap.props).contains(name),
          s"txlog: cannot drop '$name' — it is an identity column; " +
            s"unset '$IdentityPrefix$name' first")
        require(!gens.contains(name),
          s"txlog: cannot drop '$name' — it is a generated column; " +
            s"unset '$GeneratedPrefix$name' first")
        constraintsReferencing(gens, name).foreach { g =>
          throw new IllegalArgumentException(
            s"txlog: cannot drop '$name' — generated column '$g' derives " +
              "from it; unset its property first")
        }
      }
      val remaining = StructType(existing.fields.filterNot(_.name == name)
        .map(f => withPhysical(f, physicalName(f))))
      Some(Commit("dropColumn", Some(remaining.json)))
    }

  /** Names of constraints whose SQL expression mentions `column` —
    * conservative word-boundary text match (no SQL parse): renames and
    * drops refuse rather than silently breaking an enforcement rule. */
  private def constraintsReferencing(
      cons: Map[String, String], column: String): Option[String] = {
    val p = java.util.regex.Pattern.compile(
      "(?i)(^|[^A-Za-z0-9_`])" + java.util.regex.Pattern.quote(column) +
        "($|[^A-Za-z0-9_])")
    cons.collectFirst { case (n, e) if p.matcher(e).find() => n }
  }

  /** ADD CONSTRAINT: register a named CHECK expression, enforced on
    * every subsequent row-bearing write (append, streaming append,
    * overwrite, upsert, SQL DML rewrite). Validates ALL existing rows
    * first — one scan — and commits CAS-style against the validated
    * version: a concurrent write landing mid-validation aborts the add
    * (its rows were never checked), the Delta ADD CONSTRAINT contract.
    * A row violates only when the expression evaluates to FALSE; NULL
    * passes (SQL CHECK semantics). */
  def addConstraint(spark: SparkSession, name: String, sqlExpr: String): Long = {
    require(name.nonEmpty, "txlog: constraint name must be non-empty")
    val snap = snapshot()
    require(snap.version > 0L, s"txlog: no table at $root to constrain")
    require(!snap.constraints.contains(name),
      s"txlog: constraint '$name' already exists " +
        s"(${snap.constraints(name)}) — drop it first")
    enforceConstraints(GraftTableV2.frame(spark, this, snap), Map(name -> sqlExpr))
    // CAS: a commit landing mid-validation brought rows never validated
    transact(Abort, read = snap.version)(_ => Some(Commit("addConstraint",
      constraints = Some(snap.constraints + (name -> sqlExpr)))))
  }

  /** DROP CONSTRAINT: one metadata commit removes the named check.
    * Retries lost races (dropping is conflict-free — later writes just
    * stop enforcing). Fails loudly on an unknown name. */
  def dropConstraint(name: String, maxRetries: Int = 20): Long =
    transact(Retry, maxRetries = maxRetries) { head =>
      val snap = snapshot(head)
      require(snap.constraints.contains(name),
        s"txlog: no constraint '$name' on $root " +
          s"(have: ${snap.constraints.keys.toSeq.sorted.mkString(", ")})")
      Some(Commit("dropConstraint", constraints = Some(snap.constraints - name)))
    }

  /** Current CHECK constraints (name → SQL expression). */
  def constraints: Map[String, String] = snapshot().constraints

  /** Set a table property as ONE schema-less commit (full-replacement
    * `props` action). Setting [[TxLog.BloomColumnsProp]] validates the
    * named columns exist and are bloom-able; blooms then build for
    * every SUBSEQUENT write (existing files prune by min/max only
    * until a compact rewrites them with filters). */
  def setProperty(name: String, value: String, maxRetries: Int = 20): Long =
    setProperties(Map(name -> value), maxRetries)

  /** Set SEVERAL table properties in ONE commit (the `CREATE TABLE …
    * TBLPROPERTIES` / multi-key `ALTER TABLE … SET TBLPROPERTIES`
    * shape): every key validates against the same head snapshot, then
    * one full-replacement props commit carries them all — a validation
    * failure commits nothing. */
  def setProperties(
      kvs: Map[String, String], maxRetries: Int = 20): Long = {
    require(kvs.nonEmpty, "txlog: setProperties needs at least one property")
    kvs.keys.foreach(n =>
      require(n.nonEmpty, "txlog: property name must be non-empty"))
    transact(Retry, maxRetries = maxRetries) { head =>
      require(head > 0L, s"txlog: no table at $root to set properties on")
      val snap = snapshot(head)
      kvs.foreach { case (name, value) => validateProperty(name, value, snap) }
      Some(Commit("setProps", props = Some(snap.props ++ kvs)))
    }
  }

  private def validateProperty(
      name: String, value: String, snap: Snapshot): Unit = {
      if (name == BloomBitsProp) {
        val bits = try value.trim.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"txlog: $BloomBitsProp must be an integer bit count, got '$value'")
        }
        require(bits >= 64 && bits % 8 == 0 && bits <= (1 << 28),
          s"txlog: $BloomBitsProp must be a multiple of 8 in [64, 2^28], got $bits")
      }
      if (name == PartitionSpec.Prop) PartitionSpec.validate(value, snap.schema)
      if (name == RowTrackingProp)
        require(value == "true" || value == "false",
          s"txlog: $RowTrackingProp must be true or false, got '$value'")
      if (name == CheckpointIntervalProp) {
        val n = try value.trim.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"txlog: $CheckpointIntervalProp must be an integer commit " +
              s"count (0 disables), got '$value'")
        }
        require(n >= 0,
          s"txlog: $CheckpointIntervalProp must be >= 0, got $n")
      }
      if (name == LogRetentionProp) {
        val n = try value.trim.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"txlog: $LogRetentionProp must be an integer version " +
              s"count (0 disables truncation), got '$value'")
        }
        require(n >= 0,
          s"txlog: $LogRetentionProp must be >= 0, got $n")
      }
      if (name == SumColumnsProp) {
        val schema = snap.schema
        value.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
          val f = schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"txlog: $SumColumnsProp names unknown column '$c'"))
          require(f.dataType == ByteType || f.dataType == ShortType ||
            f.dataType == IntegerType || f.dataType == LongType,
            s"txlog: $SumColumnsProp column '$c' is " +
              s"${f.dataType.simpleString} — exact sums need integral " +
              "types (float sums are order-dependent)")
        }
      }
      if (name.startsWith(IdentityPrefix)) {
        val c = name.stripPrefix(IdentityPrefix)
        val f = snap.schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"txlog: $name names unknown column '$c'"))
        require(f.dataType == LongType,
          s"txlog: identity column '$c' must be BIGINT, is " +
            f.dataType.simpleString)
        require(!snap.props.contains(s"$GeneratedPrefix$c"),
          s"txlog: '$c' is already a generated column")
        try { value.trim.toLong; () } catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"txlog: $name needs an integer start value, got '$value'")
        }
      }
      if (name.startsWith(GeneratedPrefix)) {
        val c = name.stripPrefix(GeneratedPrefix)
        require(snap.schema.fieldNames.contains(c),
          s"txlog: $name names unknown column '$c'")
        require(!snap.props.contains(s"$IdentityPrefix$c"),
          s"txlog: '$c' is already an identity column")
        val parsed =
          try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(value)
          catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
            throw new IllegalArgumentException(
              s"txlog: $name expression does not parse: ${e.getMessage}")
          }
        val refs = parsed.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name }
        refs.foreach { r =>
          require(r != c, s"txlog: $name expression references the " +
            "generated column itself")
          require(snap.schema.fieldNames.contains(r),
            s"txlog: $name expression references unknown column '$r'")
          require(!generatedCols(snap.props).contains(r),
            s"txlog: $name expression references generated column '$r' — " +
              "generated columns cannot derive from each other (fill " +
              "order would be ambiguous)")
        }
      }
      if (name == BloomColumnsProp || name == NdvColumnsProp) {
        val schema = snap.schema
        value.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
          val f = schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"txlog: $name names unknown column '$c'"))
          require(f.dataType == IntegerType || f.dataType == LongType ||
            f.dataType == StringType,
            s"txlog: $name column '$c' is " +
              s"${f.dataType.simpleString} — supported types are " +
              "int/long/string (the hash-replayable set)")
        }
      }
      ()
  }

  def unsetProperty(name: String, maxRetries: Int = 20): Long =
    transact(Retry, maxRetries = maxRetries) { head =>
      val snap = snapshot(head)
      require(snap.props.contains(name),
        s"txlog: no property '$name' on $root " +
          s"(have: ${snap.props.keys.toSeq.sorted.mkString(", ")})")
      Some(Commit("setProps", props = Some(snap.props - name)))
    }

  /** Current table properties. */
  def properties: Map[String, String] = snapshot().props

  /** RESTORE TABLE TO VERSION: one commit makes `targetVersion`'s live
    * file set (and schema) current again — re-adding files later
    * commits removed, removing files they added. Data files must still
    * exist ([[vacuum]] retention bounds how far back a restore reaches;
    * a vacuumed target fails loudly BEFORE committing). Retained files
    * keep their original provenance; re-added ones attribute the
    * restore commit. Tailing consumers see a rewrite (rows changed
    * non-append-wise), so `appendsSince` fails unless `skipRewrites` —
    * the correct contract: restored rows cannot be attributed as
    * appends. */
  def restore(targetVersion: Long): Long = {
    val snap = snapshot()
    // version 0 is "before the table existed" — restoring to it would
    // commit the empty-struct schema and brick every later append
    require(targetVersion >= 1,
      s"txlog: cannot restore to $targetVersion — the earliest committed " +
        "version is 1 (use truncate() to empty the table)")
    require(targetVersion <= snap.version,
      s"txlog: cannot restore to $targetVersion — head is ${snap.version}")
    if (targetVersion == snap.version) return snap.version
    val target = snapshot(targetVersion)
    val headByPath = snap.files.map(a => a.path -> a).toMap
    val wanted = target.files.map(_.path).toSet
    // a path live in BOTH versions still re-adds when its AddFile
    // differs — a deletion vector acquired since the target version
    // must revert with the data (the bytes are identical, so only the
    // dv fields can diverge for a same-path file)
    val readds = target.files.filterNot(a => headByPath.get(a.path).contains(a))
    readds.foreach(a => require(Files.exists(root.resolve(a.path)),
      s"txlog: data file ${a.path} of version $targetVersion was vacuumed — " +
        "restore target is behind the retention window"))
    val removes = snap.files.map(_.path).filterNot(wanted.contains)
    // nothing staged: the re-adds are live HISTORICAL data files, never
    // temporaries an abort may delete. The constraint set reverts WITH
    // the data (restoring to a pre-constraint version must not keep
    // enforcing a rule whose clean-table validation no longer holds).
    // Re-adds carry the TARGET version's provenance: after a restore,
    // rows attribute exactly as they did at the restored version.
    transact(Abort, read = snap.version)(_ => Some(Commit("restore",
      Some(target.schemaJson), readds, removes,
      constraints = Some(target.constraints), props = Some(target.props),
      addVersions = readds.map(a =>
        a.path -> target.addedIn.getOrElse(a.path, targetVersion)).toMap)))
  }

  /** Zero-copy snapshot CLONE (the `CREATE TABLE ... CLONE` shape): hard-
    * link every live data file of `version` (default head) into a fresh
    * table at `destPath` and write its v1 commit with the same schema,
    * per-file stats, and CHECK constraints. No data bytes move — links
    * are metadata operations (an object store maps them to server-side
    * copies). Unlike Delta's shallow clone, the result is SELF-CONTAINED:
    * the link has its own name in the destination, so vacuuming or
    * dropping either table never breaks the other (asserted in
    * CloneSpec). History does not carry over — the clone's version 1 is
    * its creation; the txn ledger resets too (a streaming writer's
    * exactly-once high-water marks belong to the SOURCE's checkpoint
    * lineage, replaying them against a fork would wrongly no-op). Falls
    * back to a real copy when the filesystem refuses links. */
  def cloneTo(destPath: String, version: Long = -1L): GraftTable = {
    val snap = snapshot(version)
    require(snap.version > 0L,
      s"txlog: no committed table at $root to clone (a typo'd source " +
        "path would otherwise manufacture an empty-schema table)")
    val dest = new GraftTable(destPath)
    require(dest.latestVersion() == 0L,
      s"txlog: clone destination $destPath is already a table")
    Files.createDirectories(dest.root)
    snap.files.foreach { a =>
      val src = root.resolve(a.path)
      require(Files.exists(src),
        s"txlog: data file ${a.path} of version ${snap.version} was " +
          "vacuumed — clone source is behind the retention window")
      val dst = dest.root.resolve(a.path)
      // links fail as IOException on link-capable filesystems (cross-
      // device, EMLINK) but as UnsupportedOperationException where the
      // store has no hard links at all, and as SecurityException under a
      // manager — the copy fallback must cover every refusal class
      try Files.createLink(dst, src)
      catch {
        case _: java.io.IOException | _: UnsupportedOperationException |
             _: SecurityException =>
          Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // constraints line only when the source actually has constraints —
    // same gating as checkpoint(): an unconditional line would bump the
    // format for every clone and break pre-constraint readers on tables
    // that never used the feature (restore keeps its unconditional line
    // for clear-on-revert semantics)
    dest.transact(Abort, read = 0L)(_ => Some(Commit("clone",
      Some(snap.schemaJson), snap.files,
      constraints = if (snap.constraints.nonEmpty) Some(snap.constraints)
                    else None,
      props = if (snap.props.nonEmpty) Some(snap.props) else None,
      // row tracking: the clone carries the source's id WATERMARK with
      // its files — a fresh-watermark clone would hand its first append
      // the cloned rows' own id range (silent duplicates)
      rowIdWatermark =
        if (snap.rowIdWatermark > 0L) Some(snap.rowIdWatermark) else None)))
    dest
  }

  /** Unconditional TRUNCATE: one commit removes every live file (data
    * files stay on disk for time travel until [[vacuum]]). Unlike a
    * full-range [[delete]] this drops null-keyed rows too — it is the
    * `DELETE FROM t` with no predicate. */
  def truncate(): Long = {
    val snap = snapshot()
    if (snap.files.isEmpty) return snap.version
    // cdf.enabled: every live file is a zero-write `cdcfull` delete ref —
    // truncate stays a metadata-only commit with the feed on
    commitRewrite(snap, "delete", None, Nil, snap.files.map(_.path),
      cdcFull = if (cdfEnabled(snap)) snap.files.map(_.path) else Nil)
  }

  /** Transactional range DELETE (`DELETE WHERE lower <= column <=
    * upper`, either bound open) over [[rangeTriage]]: fully-matching
    * files drop by pure metadata, non-overlapping files carry over
    * untouched, and only genuinely straddling files are read and
    * rewritten with their surviving rows (rows where the predicate is
    * NULL — a null key — survive, per SQL DELETE semantics).
    *
    * At 100 TB this makes the retention delete ("drop everything before
    * date D" on date-clustered data) a metadata operation that rewrites
    * only the boundary file. Commits as a conflict-checked rewrite:
    * concurrent writers abort it, and streaming tails refuse to cross
    * it unless `skipRewrites` (rows disappeared — the Delta contract).
    * Returns (droppedFiles, rewrittenFiles, committedVersion). */
  def delete(
      spark: SparkSession, column: String,
      lower: Option[Any], upper: Option[Any]): (Int, Int, Long) = {
    require(lower.forall(isFiniteStat) && upper.forall(isFiniteStat),
      "txlog: delete bounds must be finite (NaN/Infinity compare unreliably)")
    val snap = snapshot()
    val (dropped, touched, matched) = rangeTriage(snap, column, lower, upper)
    if (dropped.isEmpty && touched.isEmpty) return (0, 0, snap.version) // no-op, no commit
    // straddler survivors: a NULL predicate keeps the row
    val adds = if (touched.isEmpty) Nil
      else restage(spark, snap, touched)(_.filter(!coalesce(matched, lit(false))))
    // cdf.enabled: metadata-dropped files become `cdcfull` refs (their
    // own bytes ARE the change rows — the drop stays zero-write); only
    // the straddling rewrites stage a real diff (O(rewrite))
    val cdc = if (cdfEnabled(snap) && touched.nonEmpty)
      cdcDiff(spark, snap, touched, adds, rowTrackingEnabled(snap)) else Nil
    val cdcFull = if (cdfEnabled(snap)) dropped.map(_.path) else Nil
    val v = commitRewrite(snap, "delete", None, adds,
      (dropped ++ touched).map(_.path), cdc = cdc, cdcFull = cdcFull)
    // untouched files are never staged or referenced by the commit, so
    // there is nothing to verify driver-side — a post-commit existence
    // sweep would be O(#files) stat() calls appended to what is
    // otherwise a metadata-only operation
    (dropped.size, touched.size, v)
  }

  /** The three-way file triage of a one-column inclusive range
    * `[lower, upper]` (either bound open) from log stats, shared by
    * [[delete]] and [[overwriteRange]]. Returns (dropped, touched,
    * matched):
    *
    *   - dropped: files whose stats prove EVERY row matches (file range
    *     inside the range AND zero nulls — a null key never matches a
    *     comparison, so it would wrongly die with the file);
    *   - touched: files that may hold a match but are not proven full —
    *     the straddlers to rewrite. A file with NO stats for `column`
    *     is provably all-null when the column's type always gets stats
    *     and isn't float/double — it carries over (no row can match);
    *     otherwise it is touched (it may hold matches — or NaNs, which
    *     compare greatest in Spark's ordering);
    *   - matched: the row predicate over PHYSICAL names (NULL on a null
    *     key — callers treat NULL as no match).
    *
    * Every other file carries over untouched. */
  private def rangeTriage(
      snap: Snapshot, column: String,
      lower: Option[Any], upper: Option[Any]): (Seq[AddFile], Seq[AddFile], Column) = {
    val lo = lower.map(statsLiteral); val hi = upper.map(statsLiteral)
    // UTF-8 byte order for strings — the order the stored min/max were
    // written in (String.compareTo would invert supplementary-char
    // pairs and could prove a false subset ⇒ a metadata drop
    // over-deleting rows below the bound)
    def cmp(kind: String, a: String, b: String): Int =
      if (kind == "num") BigDecimal(a).compare(BigDecimal(b)) else utf8Cmp(a, b)
    val field = snap.schema.fields.find(_.name == column)
    // timestamp stats are floored to epoch millis — sound for the
    // OVERLAP direction (a floored max below a floored lo still proves
    // no row matches) but NOT for the SUBSET direction: a file whose
    // true max is 10:00:00.000900 stores the same floored max as a
    // bound of 10:00:00.000100, and a metadata drop would over-delete
    // the sub-millisecond survivors. Timestamps always take the
    // rewrite path, where the exact row filter decides.
    val exactStats = field.exists(_.dataType != TimestampType)
    // every row matches: file interval ⊆ [lo, hi] and provably no nulls
    def allMatch(cs: ColStats): Boolean =
      exactStats && cs.nulls.contains(0L) &&
        lo.forall(l => cmp(cs.kind, cs.min, l) >= 0) &&
        hi.forall(h => cmp(cs.kind, cs.max, h) <= 0)
    val provablyAllNull = field.exists(f =>
      (f.dataType match {
        case _: NumericType | StringType | DateType | TimestampType => true
        case _ => false
      }) && f.dataType != DoubleType && f.dataType != FloatType)
    val physCol = physicalOf(snap.schema, column)
    val (dropped, kept) = snap.files.partition(_.stats.get(physCol).exists(allMatch))
    val touched = kept.filter(_.stats.get(physCol) match {
      case Some(cs) => cs.overlaps(lo, hi)
      case None => !provablyAllNull
    })
    val c = col(physCol)
    val matched = (lower, upper) match {
      case (Some(l), Some(u)) => c >= lit(l) && c <= lit(u)
      case (Some(l), None) => c >= lit(l)
      case (None, Some(u)) => c <= lit(u)
      case (None, None) => c.isNotNull // full-range: non-null rows match
    }
    (dropped, touched, matched)
  }

  /** Atomic REPLACE WHERE over the one-column inclusive range
    * `[lower, upper]` (Delta's `replaceWhere` shape): ONE commit drops
    * fully-covered files by metadata, rewrites straddlers' survivors
    * ([[rangeTriage]], as [[delete]]), and adopts `df` as the range's
    * new content — the BACKFILL shape (recompute a day, swap it in)
    * with no delete-then-append gap a concurrent reader could observe.
    * Every replacement row must fall INSIDE the range and carry a
    * non-null key — validated on the STAGED bytes (the rows committed
    * are the rows checked); a violation deletes the staged files and
    * commits nothing, so the operation can never clobber rows outside
    * its declared window. NULL-keyed existing rows survive (they match
    * no range), exactly like [[delete]]. Returns (filesDropped,
    * filesRewritten, version). */
  def overwriteRange(
      spark: SparkSession, df: DataFrame, column: String,
      lower: Option[Any], upper: Option[Any]): (Int, Int, Long) = {
    require(lower.forall(isFiniteStat) && upper.forall(isFiniteStat),
      "txlog: replace bounds must be finite")
    val snap = snapshot()
    require(snap.schema.fieldNames.contains(column),
      s"txlog: unknown range column '$column'")
    val (dropped, touched, matched) = rangeTriage(snap, column, lower, upper)
    // row tracking: straddler survivors carry their ids into the
    // rewrite (materialized), replacement content takes fresh bases
    val survivorAdds = if (touched.isEmpty) Nil
      else restage(spark, snap, touched)(_.filter(!coalesce(matched, lit(false))))
    // the replacement content, staged then RANGE-VALIDATED on its own
    // bytes — out-of-window or null-keyed rows refuse atomically
    val newAdds = stageData(toPhysical(df, snap.schema), Some(snap))
    def dropStaged(): Unit = (survivorAdds ++ newAdds).foreach(a =>
      Files.deleteIfExists(root.resolve(a.path)))
    if (newAdds.nonEmpty) {
      val outside = rewriteRows(spark, snap, newAdds)
        .filter(!coalesce(matched, lit(false)))
        .limit(1).count()
      if (outside > 0) {
        dropStaged()
        throw new IllegalArgumentException(
          s"txlog: replaceWhere content carries rows outside " +
            s"[$lower, $upper] on '$column' (or with a NULL key) — " +
            "refusing to clobber rows beyond the declared window")
      }
      try enforceOnStaged(spark, snap.schema, newAdds,
        snap.constraints ++ generatedChecks(snap.props))
      catch { case e: Throwable => dropStaged(); throw e }
    }
    if (dropped.isEmpty && touched.isEmpty && newAdds.isEmpty)
      return (0, 0, snap.version)
    // cdf.enabled: dropped files ride as zero-write cdcfull refs; the
    // straddler+insert net diff stages like every rewrite
    val cdc = if (cdfEnabled(snap) && (touched.nonEmpty || newAdds.nonEmpty))
      cdcDiff(spark, snap, touched, survivorAdds ++ newAdds, rowTrackingEnabled(snap))
    else Nil
    val cdcFull = if (cdfEnabled(snap)) dropped.map(_.path) else Nil
    val (ridAdds, newHwm) = assignBaseRowIds(
      survivorAdds ++ newAdds, snap.rowIdWatermark)
    val v = commitRewrite(snap, "replace", None, ridAdds,
      (dropped ++ touched).map(_.path), cdc = cdc, cdcFull = cdcFull,
      rowIdWatermark = Some(newHwm))
    (dropped.size, touched.size, v)
  }

  /** Merge-on-read DELETE (deletion vectors — the Delta DV / Iceberg v2
    * position-delete shape): rows matching `condition` (a SQL boolean
    * expression over LOGICAL column names; NULL = no match, SQL DELETE
    * semantics) are recorded as per-file row-index bitmaps in the log —
    * the data bytes never move. A sparse delete scattered across every
    * file of a 100 TB table — the GDPR/right-to-be-forgotten shape that
    * copy-on-write turns into a full-table rewrite — commits here as
    * metadata: one bitmap per touched file.
    *
    * One pass over the live rows (existing DVs applied, so an
    * already-deleted row can never match again) folds the matched
    * positions into per-file bitmaps executor-side ([[dvAggregate]]);
    * the commit goes through the merge-on-read core
    * ([[commitDeltaRowLevelAdds]], op `delete`, no inserts), whose
    * triage rewrites a file copy-on-write instead when its merged
    * bitmap would empty it, exceed `dv.maxFraction` (table property,
    * default 0.5) or serialize past `dv.maxBytes` (default 64 KiB) — a
    * DV bigger than the IO it saves is debt. Successive deletes OR into
    * the existing bitmap (idempotent per row); surviving rows keep
    * their original `_commit_version` provenance. The commit is a
    * rewrite for tailing consumers (rows disappeared — same contract as
    * [[delete]]).
    *
    * Returns (filesVectorized, filesRewritten, rowsDeleted, version) —
    * a no-match delete is (0, 0, 0, head) with no commit. */
  def deleteRows(spark: SparkSession, condition: String): (Int, Int, Long, Long) = {
    val snap = snapshot()
    if (snap.files.isEmpty) return (0, 0, 0L, snap.version)
    val bitmaps = matchedBitmaps(
      GraftTableV2.frame(spark, this, snap,
          Seq(GraftTableV2.FileCol, GraftTableV2.PosCol))
        .filter(coalesce(expr(condition), lit(false))))
    val rowsDeleted = bitmaps.map(b => dvFromBytes(b._2).getLongCardinality).sum
    val (vectorized, rewritten, v) = commitDeltaRowLevelAdds(spark, snap, bitmaps, Nil,
      op = "delete", mergeKey = None)
    (vectorized, rewritten, rowsDeleted, v)
  }

  /** One compressed bitmap per file of a `(FileCol, PosCol)` match
    * frame, unbounded ([[dvAggregate]]): the commit core's triage needs
    * the full merged bitmaps to decide and derive its rewrite leg. A
    * roaring bitmap is at most 8 KiB per 65,536 rows, so the driver
    * receives ~rows/8 bytes per matched file at worst, never row
    * indexes. */
  private def matchedBitmaps(matched: DataFrame): Seq[(String, Array[Byte])] =
    dvAggregate(matched.select(col(GraftTableV2.FileCol).as("__file"),
        col(GraftTableV2.PosCol).as("__idx")), Int.MaxValue)
      .collect().toSeq
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))

  /** Commit a DELTA-based (merge-on-read) row-level write — the Delta
    * DV-backed `UPDATE` / `MERGE` shape (cf. Delta protocol
    * deletion-vector DML; Iceberg v2 position deltas): `newDeletes`
    * are the rows this operation retired, as per-file serialized
    * RoaringBitmaps over physical row indexes (built executor-side by
    * [[graft.streaming.GraftDeltaRowLevelOperation]]'s writers);
    * `insertStaged` are the already-written post-image / NOT-MATCHED
    * parquet files, committed through [[commitDeltaRowLevelAdds]] as
    * op `replace`. A moved head fails loudly — the deletes were
    * computed against `readVersion`'s exact row positions. */
  private[graft] def commitDeltaRowLevel(
      spark: SparkSession, readVersion: Long,
      newDeletes: Seq[(String, Array[Byte])],
      insertStaged: Seq[ParquetWrites.StagedFile],
      ridMaterialized: Boolean = false): Long = {
    val snap = snapshot(readVersion)
    // insert files carry the GraftDeltaWrite-declared ordering (same
    // writeOrderDeclared resolution over the same snapshot) — stamp
    // them; DV'd originals keep their own stats, marker included
    // (positions skip in place)
    val adopted = adoptStaged(insertStaged,
      sortedBy = writeOrderDeclaredPhys(snap, physicalSchema(snap.schema)))
    // row tracking: `ridMaterialized` is the WRITER's own bit (its
    // ridMetaIdx was defined and it appended the trailing id column) —
    // never re-derived from a snapshot, so the flag can't claim a
    // column the bytes don't carry
    commitDeltaRowLevelAdds(spark, snap, newDeletes,
      if (ridMaterialized) adopted.map(_.copy(ridMaterialized = true))
      else adopted,
      op = "replace", mergeKey = None)._3
  }

  /** The ONE merge-on-read commit core, behind the SQL delta write
    * ([[commitDeltaRowLevel]], op `replace`), the merge-on-read keyed
    * [[upsert]] (op `upsert` + recorded merge key, so the change feed
    * can re-pair images) and [[deleteRows]] (op `delete`, no inserts).
    * `newDeletes` are per-file bitmaps of the rows the operation
    * retired; `insertAdds` its already-adopted new rows. One
    * serializable commit swaps each touched file for its DV'd copy and
    * adopts the inserts — an UPDATE touching 0.1% of a 100 TB table
    * moves no data bytes at all.
    *
    * The ONE deletion-vector triage ([[DvMaxFractionProp]],
    * [[DvMaxBytesProp]]): a file whose merged bitmap would empty it,
    * exceed the fraction or serialize past the byte bound is rewritten
    * copy-on-write in the SAME commit, its survivors derived from the
    * merged bitmap (a fully-emptied file simply leaves the snapshot).
    * `cdf.enabled` stages exact change rows: the newly-deleted
    * positions' pre-images as `delete`, the insert files as `insert`.
    * Returns (filesVectorized, filesRewritten, version) — (0, 0, head)
    * with no commit when there is nothing to commit. */
  private def commitDeltaRowLevelAdds(
      spark: SparkSession, snap: Snapshot,
      newDeletes: Seq[(String, Array[Byte])],
      insertAdds: Seq[AddFile],
      op: String, mergeKey: Option[String]): (Int, Int, Long) = {
    if (newDeletes.isEmpty && insertAdds.isEmpty) return (0, 0, snap.version)
    val readVersion = snap.version
    val byName = snap.files.map(a => a.path -> a).toMap
    newDeletes.foreach { case (p, _) =>
      require(byName.contains(p),
        s"txlog: delta row-level write targets '$p' which version " +
          s"$readVersion does not hold — stale scan") }
    val maxFraction = snap.props.get(DvMaxFractionProp)
      .map(_.toDouble).getOrElse(DvMaxFraction)
    val maxBytes = snap.props.get(DvMaxBytesProp)
      .map(_.toInt).getOrElse(DvMaxBytes)
    // the post-image / NOT-MATCHED rows are the only NEW values —
    // validate them; DV'd survivors and rewrite-leg carry-overs are
    // rows the table already held
    enforceOnStaged(spark, snap.schema, insertAdds,
      snap.constraints ++ generatedChecks(snap.props))
    // merge this op's deletions into any existing DV, then triage:
    // over-fraction / over-bytes / fully-emptied files rewrite instead
    val merged: Seq[(String, org.roaringbitmap.RoaringBitmap)] =
      newDeletes.sortBy(_._1).map { case (p, bytes) =>
        val bm = dvFromBytes(bytes)
        byName(p).dv.foreach(b64 => bm.or(dvDeserialize(b64)))
        bm.runOptimize()
        p -> bm
      }
    val (vectorized, over) = merged.partition { case (p, bm) =>
      val a = byName(p)
      bm.getLongCardinality < a.rows &&
        bm.getLongCardinality.toDouble / a.rows <= maxFraction &&
        bm.serializedSizeInBytes() <= maxBytes
    }
    val dvAdds = vectorized.map { case (p, bm) => withDv(byName(p), bm) }
    // copy-on-write leg: each over-threshold file reads with its MERGED
    // bitmap as its deletion vector (it already ORs any pre-existing
    // DV); its survivors are rows the table already held, so they keep
    // their ids ([[restage]]) — only the post-images are new rows
    val stagedAdds = if (over.isEmpty) Nil
      else restage(spark, snap, over.map { case (p, bm) => withDv(byName(p), bm) })(identity)
    // cdf.enabled: newly-deleted positions' pre-images + insert rows.
    // ROW-TRACKING-aware staging ([[ridKeyed]], the cdcDiff rule on
    // the MOR plane; the post-images materialized ids when the writer
    // did): each image row carries its stable id as a trailing
    // `__cdc_rid` — so updateImages pairs a SQL MOR UPDATE's pre/post
    // rows WITHOUT a recorded merge key (a NOT-MATCHED insert's id is
    // null → stays `insert`; a MOR DELETE stages pre rows only → stays
    // `delete`). Default feed consumers never see the column
    // (explicit-schema read by name).
    val cdc = if (!cdfEnabled(snap)) Nil else {
      val ridAware = ridKeyed(
        rowTrackingEnabled(snap) && insertAdds.forall(_.ridMaterialized),
        merged.map { case (p, _) => byName(p) })
      def images(files: Seq[AddFile], kind: String): DataFrame =
        rewriteRows(spark, snap, files, rowIds = ridAware)
          .withColumnRenamed(RowIdPhysCol, "__cdc_rid")
          .withColumn(ChangeTypeCol, lit(kind))
      // the pre-images are exactly the newly-deleted positions: each
      // touched file reads with the COMPLEMENT of its new deletes as its
      // deletion vector
      val pre = if (newDeletes.isEmpty) None else Some(images(
        newDeletes.map { case (p, bytes) =>
          val a = byName(p)
          withDv(a, org.roaringbitmap.RoaringBitmap.flip(dvFromBytes(bytes), 0L, a.rows))
        }, "delete"))
      val post =
        if (insertAdds.isEmpty) None else Some(images(insertAdds, "insert"))
      (pre ++ post).reduceOption(_ unionAll _).map(stageChanges(snap, _)).getOrElse(Nil)
    }
    // provenance of DV'd survivors stays with their ORIGINAL commit —
    // the operation changed which rows exist, not who wrote them
    val addVersions = dvAdds.map(a =>
      a.path -> snap.addedIn.getOrElse(a.path, snap.version)).toMap
    val removes = merged.map(_._1)
    // row tracking: the new files (post-images + the over-threshold
    // rewrite leg) take fresh virtual bases; DV'd originals keep their
    // rid info through the AddFile copy, so surviving ids never move
    val (ridNew, newHwm) =
      assignBaseRowIds(stagedAdds ++ insertAdds, snap.rowIdWatermark)
    // staged: the new files and change files only — dvAdds reference
    // LIVE data files that must never be touched on abort
    val v = transact(Abort, read = readVersion,
        staged = (stagedAdds ++ insertAdds).map(_.path) ++ cdc.map(_._1))(_ =>
      Some(Commit(op, None, dvAdds ++ ridNew, removes,
        addVersions = addVersions, cdc = cdc, mergeKey = mergeKey,
        rowIdWatermark = Some(newHwm))))
    (dvAdds.size, over.size, v)
  }

  /** Materialize every deletion vector: each DV'd file is rewritten
    * with its bitmap applied and the bitmaps leave the log — the
    * REORG TABLE ... APPLY (PURGE) shape. Logically row-neutral (the
    * rows vanished at their delete's commit, not here), so tailing
    * consumers cross it freely, like compact. Any compaction retires
    * DVs the same way as a side effect; this is the targeted form.
    * Returns (filesPurged, filesAfter, version) — (0, 0, head) with no
    * commit when nothing carries a DV. */
  def purgeDeletes(spark: SparkSession): (Int, Int, Long) = {
    val snap = snapshot()
    val dvd = snap.files.filter(_.dv.isDefined)
    if (dvd.isEmpty) return (0, 0, snap.version)
    val adds = restage(spark, snap, dvd)(identity)
    val v = commitRewrite(snap, "purge", None, adds, dvd.map(_.path))
    (dvd.size, adds.size, v)
  }

  /** Transactional OPTIMIZE: rewrite the live set into ~`targetFileMB`
    * files in one conflict-checked commit — the object-store-safe
    * replacement for [[Maintenance.compactParquet]]'s directory swap.
    * Returns (filesBefore, filesAfter, committedVersion). */
  def compact(spark: SparkSession, targetFileMB: Int = 128): (Int, Int, Long) =
    compactSnapshot(spark, snapshot(), targetFileMB)

  /** [[compact]] pinned to an explicit read snapshot — the seam the
    * concurrency spec uses to interleave an append between the read
    * and the commit deterministically. */
  private[graft] def compactSnapshot(
      spark: SparkSession, snap: Snapshot,
      targetFileMB: Int = 128): (Int, Int, Long) = {
    if (snap.files.isEmpty) return (0, 0, snap.version)
    val bytes = snap.files.map(_.bytes).sum
    val outParts = math.max(1,
      math.ceil(bytes.toDouble / (targetFileMB * 1024.0 * 1024.0)).toInt)
    // under a partition.spec, re-cluster by the transform tuple instead
    // of a round-robin repartition (which would scatter every tuple
    // across every output file and erase partition pruning). The
    // rewrite allocates no row ids, so the rebase-over-concurrent-
    // appends path stays sound.
    val spec = PartitionSpec.resolved(
      snap.props, snap.schema, physicalSchema(snap.schema))
    val adds = restage(spark, snap, snap.files)(raw =>
      if (spec.isEmpty) raw.repartition(outParts) else PartitionSpec.cluster(raw, spec))
    val v = commitRewrite(snap, "compact", None, adds, snap.files.map(_.path))
    (snap.files.size, adds.size, v)
  }

  /** Partial OPTIMIZE (`OPTIMIZE ... WHERE` shape): compact only the
    * SMALL files (< `targetFileMB`) whose stats overlap the given range
    * into right-sized ones — at 100 TB the whole-table [[compact]] is
    * not an operation anyone runs; the streaming-ingest small-file
    * problem is always concentrated in the recent key/date range.
    * Conservative overlap is fine here (the rewrite is row-neutral, so
    * including an extra file is wasted IO, never wrongness); files at
    * or above the target size carry over untouched, as does everything
    * outside the range. Tailing consumers cross it freely ("compact"
    * is row-neutral). Returns (filesCompacted, filesAfter,
    * committedVersion) — (0, 0, head) when fewer than two files
    * qualify, with no commit. */
  def compactRange(
      spark: SparkSession, column: String,
      lower: Option[Any], upper: Option[Any],
      targetFileMB: Int = 128): (Int, Int, Long) = {
    val snap = snapshot()
    val lo = lower.map(statsLiteral); val hi = upper.map(statsLiteral)
    val threshold = targetFileMB.toLong * 1024L * 1024L
    val physCol = physicalOf(snap.schema, column)
    val (targets, _) = snap.files.partition(a =>
      a.bytes < threshold && a.stats.get(physCol).forall(_.overlaps(lo, hi)))
    if (targets.size < 2) return (0, 0, snap.version) // nothing worth merging
    val outParts = math.max(1,
      math.ceil(targets.map(_.bytes).sum.toDouble / threshold).toInt)
    val adds = restage(spark, snap, targets)(_.repartition(outParts))
    val v = commitRewrite(snap, "compact", None, adds, targets.map(_.path))
    (targets.size, adds.size, v)
  }

  /** Compact ONLY the live files below `targetFileMB` — the auto-
    * compaction primitive. Right-sized files carry over untouched, so
    * the cost of one pass is O(small-file bytes), never O(table): each
    * merge multiplies the survivors' size by ~the merge fan-in, which is
    * what makes total write amplification O(log_fanin(table/batch)) per
    * byte (LSM-style) instead of linear in table size the way a full
    * [[compact]] fired per-batch would be. Returns (filesCompacted,
    * filesAfter, committedVersion) — (0, 0, head) with no commit when
    * fewer than `minFiles` qualify. */
  def compactSmall(
      spark: SparkSession, targetFileMB: Int = 128,
      minFiles: Int = 2): (Int, Int, Long) = {
    val snap = snapshot()
    val threshold = targetFileMB.toLong * 1024L * 1024L
    val targets0 = snap.files.filter(_.bytes < threshold)
    // partition-aware binning: only merge files sharing the same
    // single-valued transform tuple (signature) — a cross-tuple merge
    // stays CORRECT (staging recomputes derived stats) but widens the
    // merged file's transform range and degrades pruning; straddling
    // files (None-valued signature entries) only merge with their like
    val groups = targets0.groupBy(a => PartitionSpec.tupleSignature(a))
      .values.toSeq.filter(_.size >= math.max(2, minFiles))
      .sortBy(g => g.map(_.path).min)
    if (groups.isEmpty) return (0, 0, snap.version)
    val targets = groups.flatten
    val adds = groups.flatMap { g =>
      val outParts = math.max(1,
        math.ceil(g.map(_.bytes).sum.toDouble / threshold).toInt)
      restage(spark, snap, g)(_.repartition(outParts))
    }
    val v = commitRewrite(snap, "compact", None, adds, targets.map(_.path))
    (targets.size, adds.size, v)
  }

  /** Transactional `OPTIMIZE ZORDER BY`: rewrite the WHOLE live file set
    * Z-order-clustered on `cols` ([[Layout.zorderBy]]) in one commit —
    * after it, every per-file min/max stat in the log covers a compact
    * hyper-rectangle of the clustered space, so [[readRange]] on ANY
    * clustered column prunes to ~targetFiles^(1-1/dims) files instead of
    * scanning all of them (and concurrent readers never see a torn
    * layout — they read the old snapshot until the single commit lands;
    * a concurrent writer aborts this rewrite rather than being lost).
    * Returns (filesBefore, filesAfter, committedVersion). */
  def optimizeZorder(
      spark: SparkSession, cols: Seq[String],
      targetFiles: Int): (Int, Int, Long) =
    optimizeZorder(spark, cols, targetFiles, layout = "zorder")

  /** `layout`: `"zorder"` (Morton interleave) or `"hilbert"` — the
    * Hilbert index keeps consecutive values grid-adjacent (no Z-seam
    * diagonal jumps), so the cut files cover compact CONNECTED regions:
    * measurably tighter per-file ranges on 2-3-dim clustering at the
    * same write cost ([[Layout.hilbertBy]]). */
  def optimizeZorder(
      spark: SparkSession, cols: Seq[String],
      targetFiles: Int, layout: String): (Int, Int, Long) = {
    require(layout == "zorder" || layout == "hilbert",
      s"txlog: unknown layout '$layout' — zorder | hilbert")
    val snap = snapshot()
    if (snap.files.isEmpty) return (0, 0, snap.version)
    // under a partition.spec, the transform tuple LEADS the layout
    // (partition-major, z-within) — a global z-curve would interleave
    // every partition into every file and erase partition pruning
    val phys = physicalSchema(snap.schema)
    val prefix = PartitionSpec.resolved(snap.props, snap.schema, phys)
      .flatMap(t => phys.fields.find(_.name == t.source)
        .map(f => PartitionSpec.column(t, f.dataType)))
    val physCols = cols.map(physicalOf(snap.schema, _))
    val adds = restage(spark, snap, snap.files)(df =>
      if (layout == "hilbert") Layout.hilbertBy(df, physCols, targetFiles, prefix = prefix)
      else Layout.zorderBy(df, physCols, targetFiles, prefix = prefix))
    val v = commitRewrite(snap, "zorder", None, adds, snap.files.map(_.path))
    (snap.files.size, adds.size, v)
  }

  /** Rewrites whose output preserves the table's ROW CONTENT exactly
    * (compaction, z-order, DV purge) — the ops the Delta-style conflict
    * matrix lets REBASE over concurrent blind appends instead of
    * aborting. At 100 TB this is the difference between maintenance
    * that completes and maintenance that loses every race to a busy
    * ingest: the rewrite's removes name files no pure append touches,
    * and log replay is per-path, so re-committing the SAME add/remove
    * lists at the new head folds the interleaved appends in untouched.
    * Everything else (upsert/delete/replace/overwrite/restore — row-
    * CHANGING, or schema/mapping movers) still aborts loudly: their
    * correctness was computed against the exact read snapshot. */
  private val RowPreservingOps = Set("compact", "zorder", "purge")

  /** Could `c` safely re-commit on top of the commits `at + 1 .. head`?
    * Only when it stages no change feed and no schema, and every
    * interleaved commit is a pure blind append: no removes (nothing of
    * ours or anyone's retired), no constraint change (our
    * re-materialized rows were validated as the pre-image of the same
    * content), not a schema-REPLACING or mapping-moving op (append's
    * schema line only ever widens, which explicit-schema reads
    * null-fill). */
  private def rebasable(c: Commit, at: Long, head: Long): Boolean =
    c.cdc.isEmpty && c.cdcFull.isEmpty && c.schemaJson.isEmpty && head > at &&
      ((at + 1) to head).forall { iv =>
        val f = versionFile(iv)
        Files.exists(f) && {
          val ic = readCommitFileCached(f)
          (ic.op == "append" || ic.op == "streamingUpdate") &&
            ic.removes.isEmpty && ic.constraints.isEmpty
        }
      }

  /** Commit a rewrite (removes + adds) computed against `readSnap`:
    * [[RowPreservingOps]] rebase over interleaved blind appends, every
    * other op aborts on a moved head; either way a commit that does not
    * land deletes its staged data and change files. */
  private def commitRewrite(
      readSnap: Snapshot, op: String, schemaJson: Option[String],
      adds: Seq[AddFile], removes: Seq[String],
      addVersions: Map[String, Long] = Map.empty,
      cdc: Seq[(String, Long)] = Nil,
      cdcFull: Seq[String] = Nil,
      mergeKey: Option[String] = None,
      rowIdWatermark: Option[Long] = None): Long =
    transact(if (RowPreservingOps(op)) Rebase else Abort, read = readSnap.version,
        staged = adds.map(_.path) ++ cdc.map(_._1))(_ =>
      Some(Commit(op, schemaJson, adds, removes, addVersions = addVersions,
        cdc = cdc, cdcFull = cdcFull, mergeKey = mergeKey,
        rowIdWatermark = rowIdWatermark)))

  // ------------------------------------------------- checkpoint / vacuum

  /** Write a checkpoint of the current snapshot (full live-file list +
    * schema) and refresh the `_last_checkpoint` hint. Safe concurrently:
    * the checkpoint content for a version is deterministic, and the hint
    * is advisory. Snapshot resolution after this reads one checkpoint +
    * the commit suffix instead of the whole log. */
  def checkpoint(): Long = checkpointAt(snapshot())

  /** Newest checkpoint version ≤ head — observability surfaces only
    * (CALL system.detail); resolution itself uses the same lookup. */
  private[graft] def lastCheckpointVersion(): Option[Long] =
    checkpointAtOrBefore(latestVersion())

  private def checkpointAt(snap: Snapshot): Long = {
    // the constraints line appears only when the set is non-empty: a
    // full-state checkpoint with NO line means "none" on replay anyway,
    // and omitting it keeps constraint-free tables' checkpoints readable
    // by pre-constraint readers (the format bump is confined to tables
    // actually using the feature)
    val cons = if (snap.constraints.nonEmpty) Some(snap.constraints) else None
    val prps = if (snap.props.nonEmpty) Some(snap.props) else None
    // streamed: a million-add checkpoint writes line-at-a-time, never
    // materializing the document on the driver (lost race == same
    // content — renderCommitLines is the ONE rendering path)
    putIfAbsentLines(
      renderCommitLines("checkpoint", snap.version, Some(snap.schemaJson),
        snap.files, Nil, snap.txns, addVersions = snap.addedIn,
        constraints = cons, props = prps,
        rowIdWatermark =
          if (snap.rowIdWatermark > 0L) Some(snap.rowIdWatermark) else None),
      checkpointFile(snap.version))
    val hint = JsonMethods.compact(JsonMethods.render(
      JObject("version" -> JLong(snap.version))))
    val tmp = logDir.resolve(s".hint-${UUID.randomUUID()}")
    Files.write(tmp, hint.getBytes("UTF-8"))
    Files.move(tmp, logDir.resolve("_last_checkpoint"),
      StandardCopyOption.REPLACE_EXISTING)
    snap.version
  }

  /** Best-effort auto-checkpoint (see [[TxLog.CheckpointIntervalProp]]):
    * runs after a commit WON at `committed`; any failure or race is
    * swallowed — the data commit already happened, a missed checkpoint
    * only defers the next one. The snapshot walk this performs is
    * itself O(interval) once checkpoints exist. */
  private def autoCheckpointIfDue(committed: Long): Unit =
    try {
      val last = checkpointAtOrBefore(committed).getOrElse(0L)
      if (committed > last) {
        val snap = snapshot(committed)
        val interval = snap.props.get(CheckpointIntervalProp)
          .map(_.trim.toInt).getOrElse(CheckpointIntervalDefault)
        if (interval > 0 && committed - last >= interval) {
          checkpointAt(snap)
          // opt-in log retention rides the checkpoint cadence (the
          // Delta shape): best-effort, a failure defers to the next
          snap.props.get(LogRetentionProp).map(_.trim.toInt)
            .filter(_ >= 1).foreach { keep => truncateLog(keep); () }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Truncate commit HISTORY: delete the log files no resolution of a
    * version in the trailing `retainVersions` window can need — commit
    * `.json`s at or below the newest checkpoint ≤ (head −
    * retainVersions + 1) (the checkpoint subsumes them) and checkpoints
    * older than that one. Time travel / CDF / `appendsSince` past the
    * truncation point stop working with the existing LOUD missing-file
    * errors; `history()`/`TIMESTAMP AS OF` already skip gone versions.
    * Nothing deletes without a qualifying checkpoint (a truncation that
    * could orphan the head refuses by construction). Keep the window ≥
    * vacuum's: vacuum resolves every snapshot in its own window.
    * Returns deleted log file names. A request tighter than the widest
    * non-dry vacuum window seen ON THIS HANDLE is clamped up to it —
    * loudly (stderr warning; [[truncateLogDetailed]] returns the
    * effective value). The clamp is per-handle only: coordinating
    * vacuum-vs-truncate retention ACROSS handles/processes remains the
    * operator's responsibility. */
  def truncateLog(retainVersions: Int): Seq[String] =
    truncateLogDetailed(retainVersions)._1

  /** [[truncateLog]] plus the retention actually applied after the
    * per-handle vacuum floor clamp — callers that asked for a tighter
    * window can see (and report) what they really got. */
  def truncateLogDetailed(retainVersions: Int): (Seq[String], Int) = {
    require(retainVersions >= 1,
      s"txlog: log retention must keep >= 1 version, got $retainVersions")
    // floor-clamp against the widest vacuum window this handle has run:
    // vacuum resolves every snapshot in ITS window, so truncating the
    // log tighter than that window would make every later vacuum fail
    // loudly on missing commits (the documented invariant, now enforced
    // instead of advisory where the two calls share a handle)
    val effectiveRetain = math.max(retainVersions, lastVacuumRetain)
    if (effectiveRetain != retainVersions)
      System.err.println(
        s"[graft] truncateLog($tablePath): requested retention " +
          s"$retainVersions clamped up to $effectiveRetain — the widest " +
          "vacuum window this handle has run; a tighter log would break " +
          "later vacuums (cross-handle coordination is NOT enforced)")
    val head = latestVersion()
    val floor = head - effectiveRetain // strictly-older-than-window mark
    if (floor <= 0L) return (Nil, effectiveRetain)
    val cpF = checkpointAtOrBefore(floor + 1)
      .getOrElse(return (Nil, effectiveRetain))
    val it = Files.list(logDir)
    val victims =
      try it.iterator().asScala.map(_.getFileName.toString).filter { n =>
        if (n.endsWith(".checkpoint.json")) {
          // same all-digits guard as the commit branch: a stray
          // non-numeric *.checkpoint.json must be skipped, not throw
          // NumberFormatException out of a manual truncate_log call
          val v = n.stripSuffix(".checkpoint.json")
          v.nonEmpty && v.forall(_.isDigit) && v.toLong < cpF
        } else if (n.endsWith(".json") && !n.startsWith("."))
          n.stripSuffix(".json").forall(_.isDigit) &&
            n.stripSuffix(".json").toLong <= cpF
        else false
      }.toList
      finally it.close()
    victims.foreach(n => Files.deleteIfExists(logDir.resolve(n)))
    (victims.sorted, effectiveRetain)
  }

  /** Delete data and change files no version in
    * [head−retainVersions, head] can reach, by one rule: an unreachable
    * file goes when a commit still in the log removed it, or when it is
    * older than [[TxLog.VacuumCdcMinAgeProp]] (a crashed or losing
    * writer's). Safe concurrent with a writer whose write→commit gap is
    * shorter than that guard. Time travel older than the retention
    * window stops working, as with every format's vacuum. Returns the
    * deleted root-relative paths. */
  def vacuum(retainVersions: Int = 2): Seq[String] =
    vacuum(retainVersions, dryRun = false)

  /** Time-based retention (Delta's `VACUUM ... RETAIN n HOURS` shape):
    * keeps every version committed within the trailing `retainMs`
    * window, resolved against the log's wall-clock commit stamps
    * (the same stamps `TIMESTAMP AS OF` travels on), then delegates to
    * the version-based sweep. A window predating the table's history
    * keeps everything. Returns (deleted names, equivalent
    * retainVersions) so callers can report the resolved window. */
  def vacuumRetainMillis(
      retainMs: Long, dryRun: Boolean = false): (Seq[String], Int) = {
    require(retainMs >= 0, s"txlog: negative retention window $retainMs ms")
    val head = latestVersion()
    // greatest version at-or-before the cutoff = the last version the
    // sweep may treat as expired; pre-history cutoffs keep everything
    val floorV =
      try versionAtTimestamp(System.currentTimeMillis() - retainMs)
      catch { case _: IllegalArgumentException => 0L }
    val retain = math.max(0L, head - floorV).toInt
    (vacuum(retain, dryRun), retain)
  }

  /** `dryRun = true` reports what a vacuum WOULD delete — same
    * reachability walk, zero deletions (the Delta `VACUUM ... DRY RUN`
    * shape: operators audit the blast radius before retiring bytes). */
  /** Widest non-dry vacuum window seen on this handle; [[truncateLog]]
    * floor-clamps against it so log retention can never undercut the
    * versions vacuum must resolve. */
  @volatile private var lastVacuumRetain: Int = 0

  def vacuum(retainVersions: Int, dryRun: Boolean): Seq[String] = {
    if (!dryRun && retainVersions > lastVacuumRetain)
      lastVacuumRetain = retainVersions
    val head = latestVersion()
    val floor = math.max(0L, head - retainVersions)
    def commits(vs: Seq[Long]): Seq[Commit] = vs.map(versionFile)
      .filter(Files.exists(_)).map(readCommitFileCached)
    // reachable: the data files of every version in the window, and the
    // change files of every commit in it (a change file describes v-1 → v)
    val reachable = ((floor.max(1L)) to head).flatMap(v =>
      snapshot(v).files.map(_.path)).toSet ++
      commits((floor + 1) to head).flatMap(_.cdc.map(_._1))
    // retired: named by a `remove` of a commit still in the log — so no
    // writer can still be about to commit it
    lazy val retired = commits(1L to head).flatMap(_.removes).toSet
    val minAge = (if (head == 0L) None
      else snapshot(head).props.get(VacuumCdcMinAgeProp))
      .map(_.toLong).getOrElse(VacuumCdcMinAge)
    val cutoff = System.currentTimeMillis() - minAge
    // a file gone since the listing (a losing writer dropped it) is no victim
    def old(p: String): Boolean =
      try Files.getLastModifiedTime(root.resolve(p)).toMillis <= cutoff
      catch { case _: java.nio.file.NoSuchFileException => false }
    def files(dir: String): Seq[String] = {
      val d = root.resolve(dir)
      if (!Files.exists(d)) Nil
      else {
        val it = Files.list(d)
        try it.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.endsWith(".parquet") || n.endsWith(DvManifestSuffix))
          .map(n => if (dir.isEmpty) n else s"$dir/$n").toList
        finally it.close()
      }
    }
    val victims = (files("") ++ files(ChangeDir)).filter(p => !reachable(p) &&
      (old(p) || retired(p)))
    if (!dryRun) victims.foreach(p => Files.deleteIfExists(root.resolve(p)))
    victims
  }

  /** Incremental consumption: all rows ADDED by append-family commits
    * (`append` / `streamingUpdate`) in versions `(sinceVersion, head]`,
    * each tagged with its `_commit_version` — what lets a downstream
    * stage tail this table instead of rescanning it (the
    * bronze→silver chaining shape; Delta's CDF/streaming-source
    * equivalent for the insert-only case).
    *
    * Non-append commits in the range: `compact` and `checkpoint` are
    * logically row-neutral and always skipped; `upsert`/`overwrite`
    * REWRITE data an appends-only consumer cannot attribute, so they
    * THROW by default — silently skipping them would hand the consumer
    * a stream missing real changes (the same contract as Delta's
    * streaming source, where rewrites fail the read unless
    * `skipChangeCommits` opts out). Pass `skipRewrites = true` to
    * accept that gap explicitly.
    *
    * The returned scan reads exactly the add-files of the qualifying
    * commits — O(new data), not O(table). Files referenced by old
    * commits stay on disk until `vacuum`, so incremental consumers must
    * run within the vacuum retention window (the standard CDF caveat);
    * a consumer behind that window fails loudly on the missing file. */
  def appendsSince(
      spark: SparkSession, sinceVersion: Long,
      skipRewrites: Boolean = false, untilVersion: Long = -1L,
      readSchema: Option[StructType] = None): DataFrame = {
    // readSchema pins the projection for consumers that declared their
    // schema earlier (the streaming source): files written after a
    // mergeSchema widening simply don't surface the new column, instead
    // of every in-flight batch suddenly changing shape mid-query
    val schema = readSchema.getOrElse(snapshot(latestVersion()).schema)
    val perVersion = appendFilesSince(sinceVersion, skipRewrites, untilVersion)
    perVersion.foreach { case (v, adds) =>
      adds.foreach(a => require(Files.exists(root.resolve(a.path)),
        s"txlog: data file ${a.path} of commit $v was vacuumed — appendsSince " +
          "is behind the retention window; re-seed from a snapshot read"))
    }
    // ONE scan over every qualifying add-file, each tagged with its
    // adding commit; DV-aware, since a clone's v1 may re-add files with
    // deletion vectors (the fork of a DV'd table) and its tail must not
    // resurrect them
    GraftTableV2.frame(spark, this,
      Snapshot(perVersion.lastOption.fold(0L)(_._1), schema.json,
        perVersion.flatMap(_._2),
        addedIn = perVersion.flatMap { case (v, adds) => adds.map(_.path -> v) }.toMap),
      Seq(GraftTableV2.VersionCol))
  }

  /** The key envelope of a CDF batch, from the log alone: min/max of
    * `column` over the files added by append-family commits in
    * `(sinceVersion, head]`, as typed values ready for [[readRange]].
    * Zero data bytes read — this is how an incremental-MV refresh
    * bounds which MV files its merge can touch (O(batch) metadata,
    * never an O(MV) scan just to discover the overlap). None when no
    * qualifying commit added files or the column carries no stats
    * (readRange's conservative contract then reads everything). */
  def appendsKeyBounds(
      column: String, sinceVersion: Long): Option[(Any, Any)] = {
    val schema = snapshot().schema
    val dt = schema.fields.find(_.name == column).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"txlog: no column '$column' to bound"))
    val physCol = physicalOf(schema, column)
    val stats = appendFilesSince(sinceVersion)
      .flatMap { case (_, adds) => adds.flatMap(_.stats.get(physCol)) }
    if (stats.isEmpty) None
    else {
      def typed(s: String): Any = dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          new java.math.BigDecimal(s).longValueExact()
        case FloatType | DoubleType => s.toDouble
        case _: DecimalType => new java.math.BigDecimal(s)
        case DateType => java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(s.toLong))
        case TimestampType => new java.sql.Timestamp(s.toLong)
        case StringType => s
        case other => throw new IllegalArgumentException(
          s"txlog: no stats domain for ${other.simpleString} bounds")
      }
      def lte(a: String, b: String): Boolean =
        if (statsKind(dt) == "num") BigDecimal(a) <= BigDecimal(b)
        else a <= b
      val lo = stats.map(_.min).reduce((a, b) => if (lte(a, b)) a else b)
      val hi = stats.map(_.max).reduce((a, b) => if (lte(a, b)) b else a)
      Some((typed(lo), typed(hi)))
    }
  }

  /** The metadata half of [[appendsSince]]: (version, its add-files) for
    * every qualifying append-family commit in `(sinceVersion, until]`,
    * with the identical rewrite/row-neutral contract. Scan planners (the
    * DSv2 streaming source) build their own reads from this, so the two
    * consumption paths cannot drift. */
  private[graft] def appendFilesSince(
      sinceVersion: Long, skipRewrites: Boolean = false,
      untilVersion: Long = -1L): Seq[(Long, Seq[AddFile])] = {
    val head = latestVersion()
    require(sinceVersion <= head,
      s"txlog: appendsSince($sinceVersion) is ahead of head $head")
    val until = if (untilVersion < 0) head else math.min(untilVersion, head)
    ((sinceVersion + 1) to until).flatMap { v =>
      val f = versionFile(v)
      require(Files.exists(f),
        s"txlog: commit $v missing — appendsSince($sinceVersion) is behind " +
          "the vacuum retention window; re-seed from a full snapshot read")
      val c = readCommitFileCached(f)
      c.op match {
        // a clone's v1 is pure addition (the fork's initial content) —
        // tailing a fresh clone from 0 sees it as the append it is
        case "append" | "streamingUpdate" | "clone" if c.adds.nonEmpty =>
          Some(v -> c.adds)
        case "append" | "streamingUpdate" | "clone" => None
        // row-neutral commits: same rows, different (or no) files
        // (rename/drop are schema-only: a pinned readSchema keeps
        // resolving the same physical bytes; purge materializes DVs
        // whose rows already vanished at their delete's own commit)
        case "compact" | "zorder" | "checkpoint" | "create" | "addColumns"
           | "addConstraint" | "dropConstraint"
           | "renameColumn" | "dropColumn" | "setProps" | "purge"
           | "widen" => None
        case rewrite =>
          if (!skipRewrites) throw new IllegalStateException(
            s"txlog: commit $v is a '$rewrite' — its rewritten rows cannot be " +
              "attributed as appends. Re-seed from a snapshot read, or pass " +
              "skipRewrites = true to knowingly ignore it.")
          None
      }
    }
  }

  /** Commit history, newest first: (version, op, adds, removes). The
    * DESCRIBE HISTORY equivalent. */
  def history(): Seq[(Long, String, Int, Int)] =
    historyFull().map { case (v, op, a, r, _) => (v, op, a, r) }

  /** [[history]] plus the wall-clock commit time (epoch millis; None for
    * commits written before the log stamped timestamps). */
  def historyFull(): Seq[(Long, String, Int, Int, Option[Long])] = {
    val head = latestVersion()
    (1L to head).reverseIterator.flatMap { v =>
      val f = versionFile(v)
      if (!Files.exists(f)) None
      else {
        val c = readCommitFileCached(f)
        Some((v, c.op, c.adds.size, c.removes.size, c.tsMillis))
      }
    }.toSeq
  }

  /** TIMESTAMP AS OF resolution: the greatest version whose commit time
    * is ≤ `tsMillis`, against MONOTONIZED commit times (running max in
    * version order — wall clocks step backwards across machines; version
    * order is the one total order the log guarantees, so a later version
    * never resolves as earlier, Delta's exact rule). Refuses loudly when
    * the timestamp predates every stamped commit — both "before the
    * table existed" and "the stamped history doesn't reach back that
    * far" (pre-ts commits, truncated logs) are answered with the
    * earliest stamped (version, time) so the caller can rephrase as
    * VERSION AS OF. */
  /** (op, commit time) of one version from the commit's FIRST line
    * only — timestamp resolution over a long history must not re-read
    * every add/remove action of every commit (O(log bytes) → O(commits)
    * small reads). None when the version file is gone (truncated log). */
  private def commitInfo(v: Long): Option[(String, Option[Long])] = {
    val f = versionFile(v)
    if (!Files.exists(f)) return None
    val in = Files.newBufferedReader(f)
    try {
      val line = in.readLine()
      if (line == null || line.isEmpty) return None
      val m = JsonMethods.parse(line).asInstanceOf[JObject].obj.toMap
      if (str(m("a")) != "info") None
      else Some((str(m("op")), m.get("ts").map(lng)))
    } finally in.close()
  }

  def versionAtTimestamp(tsMillis: Long): Long = {
    val stamped = (1L to latestVersion()).iterator // oldest → newest
      .flatMap(v => commitInfo(v).flatMap(_._2).map(v -> _)).toSeq
    require(stamped.nonEmpty,
      s"txlog: no commit of $root carries a timestamp — the log predates " +
        "commit-time stamping; travel with VERSION AS OF")
    val monotonic = stamped.scanLeft((0L, Long.MinValue)) {
      case ((_, prevTs), (v, ts)) => (v, math.max(prevTs, ts))
    }.drop(1)
    val eligible = monotonic.takeWhile(_._2 <= tsMillis)
    require(eligible.nonEmpty, {
      val (v0, t0) = monotonic.head
      s"txlog: timestamp $tsMillis predates the earliest stamped commit " +
        s"of $root (version $v0 at $t0) — travel with VERSION AS OF"
    })
    eligible.last._1
  }
}
