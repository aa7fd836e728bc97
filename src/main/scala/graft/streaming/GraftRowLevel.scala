package graft.streaming

import java.nio.file.Paths
import java.util.UUID

import graft.medallion.{GraftTable, TxLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations — what turns SQL
  * `UPDATE`, `MERGE INTO`, and arbitrary-predicate `DELETE` loose on the
  * table format through Spark's own rewrite machinery
  * (`RewriteUpdateTable` / `RewriteMergeIntoTable` /
  * `RewriteDeleteFromTable`, the Iceberg-pioneered API):
  *
  *   1. Spark asks the operation for a SCAN of the candidate row
  *      groups. The pushed command condition prunes FILES from log
  *      stats — conservatively widened, which is always safe here
  *      because the rewrite plan re-evaluates the exact condition per
  *      row — and every surviving file surfaces ALL of its rows:
  *      nothing is pushed into the parquet reader, since a row-group
  *      skip would silently DELETE the unmatched rows of a matched
  *      file when the groups are written back.
  *   2. Spark computes the replacement rows (updated + carried-over,
  *      plus MERGE's inserts) and hands them to the operation's WRITE:
  *      executors write plain parquet straight into the table root
  *      through the table's one writer
  *      ([[org.apache.spark.sql.graft.ParquetWrites]]), whose tasks
  *      also compute each file's stats.
  *   3. The commit swaps exactly the scanned files for the written ones
  *      in ONE serializable `replace` commit; a head that moved since
  *      the scan fails loudly instead of dropping a concurrent
  *      writer's rows.
  *
  * Interplay with the metadata paths, by construction: a DELETE whose
  * predicate translates exactly to the one-column range is converted
  * BACK to the zero-IO metadata delete by Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` (our `canDeleteWhere`), so
  * this path only runs when rows genuinely must be read. 100 TB shape:
  * scan and write are full-parallelism parquet jobs over ONLY the
  * affected files; the driver touches log metadata and per-file stats
  * rows.
  */
final class GraftRowLevelOperation(
    tablePath: String, dataSchema: StructType,
    cmd: RowLevelOperation.Command,
    private[streaming] val snapVersion: Long)
    extends RowLevelOperation {

  /** The file groups the scan planned — set exactly once per scan
    * build; the write replaces precisely these. */
  @volatile private[streaming] var plannedFiles: Option[Seq[String]] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-table $cmd copy-on-write at $tablePath v$snapVersion"

  /** The provenance metadata column rides along with every candidate
    * row. Spark's group-based exec splits each replacement row into
    * (data, metadata) ONLY when required metadata exists — this is what
    * routes the write through the projecting task, so the writer sees
    * exactly the data columns. The metadata half reaches
    * `DataWriter.writeWithMetadata`, whose default discards it: replaced
    * rows mint a fresh commit version from the log, as they must. */
  /** Whether this operation's table tracks rows — resolved once from
    * the pinned snapshot's properties. */
  private[streaming] lazy val rowTracked: Boolean =
    snapVersion > 0L && TxLog.rowTrackingEnabled(
      new GraftTable(tablePath).snapshot(snapVersion))

  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val base = Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(
        GraftTableV2.VersionCol))
    // row tracking: each candidate row's stable id rides the rewrite
    // plan as preserved metadata; the write materializes it into the
    // replacement files (see GraftReplaceWrite). Only requested on
    // tracked tables — untracked DML plans stay byte-identical.
    if (rowTracked)
      base :+ org.apache.spark.sql.connector.expressions.Expressions.column(
        GraftTableV2.RowIdCol)
    else base
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // capture the PLANNING session (as GraftScanBuilder does): the
    // scan's keyed report consults the v2.bucketing confs, and under
    // multi-session concurrency SparkSession.active inside a later
    // lazy val could be a DIFFERENT session than the one planning
    // this DML
    new GraftRowLevelScanBuilder(
      SparkSession.active, Some(this), tablePath, dataSchema, snapVersion)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fieldNames.sameElements(dataSchema.fieldNames),
      s"graft-table $cmd: replacement row schema ${info.schema().simpleString} " +
        s"does not match the table's ${dataSchema.simpleString}")
    new WriteBuilder {
      // the staged bytes carry PHYSICAL names on column-mapped tables
      // (same field order — info.schema() was just validated against
      // dataSchema, and DSv2 rows are positional)
      override def build(): Write = {
        // row tracking: locate _row_id in the metadata row Spark hands
        // to writeWithMetadata — the writer appends it as the trailing
        // materialized column
        val ridMetaIdx: Option[Int] =
          if (!rowTracked) None
          else {
            val ms = info.metadataSchema()
            if (ms.isPresent)
              ms.get.fieldNames.indexOf(GraftTableV2.RowIdCol) match {
                case -1 => None
                case i => Some(i)
              }
            else None
          }
        new GraftReplaceWrite(GraftRowLevelOperation.this, tablePath,
          TxLog.physicalSchema(dataSchema), ridMetaIdx)
      }
    }
  }
}

/** The candidate-group scan: pushed filters prune files, rows stay
  * whole (see [[GraftRowLevelOperation]] step 1). */
private final class GraftRowLevelScanBuilder(
    spark: SparkSession,
    op: Option[GraftRowLevelOperation], tablePath: String,
    schema: StructType, snapVersion: Long)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = schema
  private var filters: Array[Filter] = Array.empty

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all residual: the rewrite plan owns row semantics
  }

  override def pushedFilters(): Array[Filter] = filters

  override def pruneColumns(r: StructType): Unit = required = r

  override def build(): Scan =
    new GraftRowLevelScan(
      spark, op, tablePath, schema, required, filters, snapVersion)
}

private final class GraftRowLevelScan(
    spark: SparkSession,
    op: Option[GraftRowLevelOperation], tablePath: String, schema: StructType,
    required: StructType, filters: Array[Filter], snapVersion: Long)
    extends Scan with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private val table = new GraftTable(tablePath)

  // --------------------------------------- runtime GROUP filtering
  // Spark's RowLevelOperationRuntimeGroupFiltering feeds the scan the
  // set of groups that actually contain matching rows (a DPP-style
  // subquery over the command condition) — the piece that keeps a
  // MERGE, whose join condition prunes nothing at compile time, from
  // rewriting a 100 TB table. A file dropped here provably holds no
  // matching row, so leaving it un-rewritten is exact; untranslatable
  // predicates or stats-less files conservatively stay in the rewrite
  // set (extra IO, never wrong data).
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  /** ONE stats-prunable column: Spark keys the matching-groups
    * subquery on a struct of EVERY reported attribute, and a
    * multi-column struct IN neither translates to a V1 filter nor
    * prunes on per-column stats. A single column is still sound — the
    * IN-list is a projection of the matching rows, so a file whose
    * stats exclude every listed value provably contains no matching
    * row. The first stats-bearing data column is the table's leading
    * (usually key/cluster) column, where log stats bite hardest. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    schema.fields
      .find(f => f.dataType match {
        case _: org.apache.spark.sql.types.NumericType |
             org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      })
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
      .toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    runtimeFilters = org.apache.spark.sql.graft.ParquetScans.predicatesToV1(predicates)

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-table $tablePath v$snapVersion [row-level candidates: " +
      s"${filters.mkString(", ")}]"

  private lazy val snap = table.prunedSnapshot(
    spark, filters.flatMap(GraftTableV2.bounds).toSeq, version = snapVersion)
  private lazy val candidates = snap.files
    .map(a => a -> snap.addedIn.getOrElse(a.path, snap.version))
    .filter { case (a, v) =>
      filters.forall(f => GraftTableV2.fileSurvives(table, schema, a, v, f)) }

  // ------------------------------- storage-partitioned rewrite joins
  // Under an SPJ-expressible spec with tuple-pure candidate files, the
  // operation scan reports the same KeyGroupedPartitioning the plain
  // scan would — so a MERGE between co-bucketed tables plans its
  // FullOuter rewrite join with ZERO exchanges of either side (the
  // 100-TB MERGE: neither the rewritten groups nor the source cross
  // the network). Reported from the compile-time candidate set;
  // planInputPartitions regroups AFTER runtime group filtering, so the
  // matching-groups pruning keeps its IO savings — the post-filter
  // keys are a subset of the reported ones, which Spark reconciles via
  // pushed partition values (SPARK-45652 semantics). The delta (MOR)
  // scan stays unreported: its `_file`/`_pos` row ids need positional
  // (generated row index) partitions.
  private lazy val keyedReport = {
    // `spark` is the session CAPTURED at scan-builder construction —
    // the one that planned this DML; SparkSession.active here could be
    // a concurrent sibling with different bucketing confs
    // pushPartValues is REQUIRED here, not just the bucketing master
    // switch: planInputPartitions regroups AFTER runtime group
    // filtering to a SUBSET of the reported partition values, and
    // Spark can only reconcile subset-vs-full group counts by padding
    // from pushed common partition values (SPARK-45652). Without it a
    // pruned rewrite join would fail at execution over unequal
    // partition counts — the plain scan is immune (frozen group set).
    if (!spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
          .equalsIgnoreCase("true") ||
        !spark.conf.get(
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
          .equalsIgnoreCase("true") ||
        required.fieldNames.contains(GraftTableV2.FileCol) ||
        required.fieldNames.contains(GraftTableV2.PosCol) ||
        // row tracking: a _row_id-requiring scan needs positional
        // partitions — keyed partitions cannot serve it
        required.fieldNames.contains(GraftTableV2.RowIdCol)) None
    else GraftTableV2.keyedGroupsFor(snap, candidates)
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedReport match {
      case Some((exprs, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(exprs.toArray, groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Write-ordered tables report their file-local sort here too, so a
    * MERGE between co-bucketed `write.orderBy` tables plans its
    * FullOuter rewrite join with ZERO SORTS on top of its zero
    * exchanges — the provenance splice is per-file-constant and DV
    * skips are in-place, so row order survives the operation scan
    * unchanged. Same gates as the plain scan: keyed report engaged
    * (one file per input partition), every candidate stamped
    * identically, prefix limited to projected columns. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    (keyedReport match {
      case Some(_) => GraftTableV2.sortedPrefixFor(snap, candidates, required)
      case None => Nil
    }).map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
      org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
      .toArray

  override def toBatch: Batch = batch

  // one batch, and so one reader factory, per scan (see GraftScan)
  private lazy val batch: Batch = {
    // evaluated at planInputPartitions time, AFTER runtime filters
    // land; the planned set is exactly what the write later replaces
    def currentFiles(): Seq[(TxLog.AddFile, Long)] = {
      val compiled = GraftTableV2.compileRuntimeFilters(table, schema, runtimeFilters)
      val alive = candidates.filter { case (a, v) => compiled.forall(_(a, v)) }
      op.foreach(_.plannedFiles = Some(alive.map(_._1.path)))
      alive
    }
    // the group read: full rows of the candidate files, NO filters to
    // the parquet reader (row semantics live in the rewrite plan
    // above). GraftBatch also serves the preserved `_commit_version`
    // metadata column from the provenance map when Spark asks for it.
    new GraftBatch(
      spark, table, schema, required,
      dataFilters = Seq.empty, () => currentFiles(),
      keyed = () =>
        if (keyedReport.isEmpty) None
        else GraftTableV2.keyedGroupsFor(snap, currentFiles()).map(_._2))
  }
}

private[streaming] object GraftRowLevel {
  /** The V2 sort order a row-level write declares under `write.orderBy`:
    * the table's LOGICAL column prefix, ascending nulls-first — exactly
    * what the batch staging path sorts and the scan-side report claims
    * (prefix consistency with [[graft.medallion.TxLog]]'s physical-side
    * `writeOrderPhys`: the schema holds a logical column iff its
    * physical rename exists). Empty when the property is unset. */
  def declaredOrdering(tablePath: String, snapVersion: Long)
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val t = new GraftTable(tablePath)
    if (t.latestVersion() == 0L) return Array.empty
    // the SAME resolution the commit-side stamp uses
    // (TxLog.writeOrderDeclaredPhys) — declare and stamp can never
    // diverge on which columns they mean
    TxLog.writeOrderDeclared(t.snapshot(snapVersion))
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
        org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
      .toArray
  }
}

/** The group-replace write: executors write parquet into the table
  * root, the driver commits written-for-scanned in one `replace`
  * commit. */
private final class GraftReplaceWrite(
    op: GraftRowLevelOperation, tablePath: String, writeSchema: StructType,
    ridMetaIdx: Option[Int] = None)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  /** Under `write.orderBy`, ask Spark to locally sort the rewrite
    * rows: every tuple-rolled staged file is then a sorted
    * subsequence, which [[graft.medallion.GraftTable.replaceFiles]]
    * stamps — the table keeps its zero-sort joins straight through
    * copy-on-write DML, no recompaction needed. Distribution stays
    * UNSPECIFIED on purpose: clustering would add a shuffle to every
    * DML; the fanout writer already rolls tuple-pure files from any
    * task layout, so a task-local sort is the whole cost. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.unspecified()
  override def distributionStrictlyRequired(): Boolean = false
  private lazy val declared =
    GraftRowLevel.declaredOrdering(tablePath, op.snapVersion)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = declared

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      TxLog.writerFactory(
        SparkSession.active, Some(new GraftTable(tablePath).snapshot(op.snapVersion)),
        // row tracking: the written files carry the materialized id as a
        // trailing physical column, filled from the metadata row
        ridMetaIdx.fold(writeSchema)(_ => writeSchema.add(
          TxLog.RowIdPhysCol, org.apache.spark.sql.types.LongType)),
        tablePath, ridMetaIdx)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val removed = op.plannedFiles.getOrElse(throw new IllegalStateException(
        "graft-table replace: the write committed before its scan planned " +
          "— the rewrite plan must read the table through the operation scan"))
      new GraftTable(tablePath).replaceFiles(
        SparkSession.active, op.snapVersion, removed,
        org.apache.spark.sql.graft.ParquetWrites.filesOf(messages.toSeq),
        writerRid = Some(ridMetaIdx.isDefined))
    }

    // a failed write's files are never referenced: young orphans for vacuum
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }
}

// ---------------------------------------------------------------------------
// Delta-based (merge-on-read) row-level operations
// ---------------------------------------------------------------------------

/** Merge-on-read row-level operations through Spark's DELTA-based
  * rewrite (`SupportsDelta`, the Iceberg position-delta API; semantics
  * follow Delta Lake's deletion-vector DML): instead of rewriting every
  * matched file group, the rewrite plan hands each matched row's
  * POSITION (`_file`, `_pos` — the row-id metadata columns the scan
  * serves) to this operation's writers, which fold them into per-file
  * RoaringBitmaps executor-side and stage only the post-image /
  * NOT-MATCHED rows as new parquet. The commit
  * ([[graft.medallion.GraftTable.commitDeltaRowLevel]]) swaps each
  * touched file for a DV'd copy of itself — a sparse UPDATE on a
  * 100 TB table moves zero existing data bytes.
  *
  * Enabled per command by the `update.mode` / `merge.mode` /
  * `delete.mode` = `merge-on-read` table properties; copy-on-write
  * ([[GraftRowLevelOperation]]) stays the default and remains the
  * fallback commit-side for DV-ineligible files (the
  * `dv.maxFraction` / `dv.maxBytes` triage). */
final class GraftDeltaRowLevelOperation(
    tablePath: String, dataSchema: StructType,
    cmd: RowLevelOperation.Command,
    private[streaming] val snapVersion: Long)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-table $cmd merge-on-read at $tablePath v$snapVersion"

  /** Row identity = physical position: source file name + row index —
    * exactly the deletion vectors' addressing domain. */
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(GraftTableV2.FileCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(GraftTableV2.PosCol))

  /** UPDATE arrives as one `update(meta, id, row)` call per row — no
    * delete+insert split doubling the plan's row traffic. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  /** Whether this operation's table tracks rows — resolved once from
    * the pinned snapshot's properties (same as the COW op). */
  private[streaming] lazy val rowTracked: Boolean =
    snapVersion > 0L && TxLog.rowTrackingEnabled(
      new GraftTable(tablePath).snapshot(snapVersion))

  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // row tracking: an UPDATEd row's stable id rides the delta plan as
    // preserved metadata and is materialized into the post-image files
    // — Delta's contract keeps the id stable across updates on the MOR
    // plane too, not just copy-on-write. The delta scan already serves
    // positional partitions for _file/_pos, so requesting
    // _row_id costs no extra plan degradation. Untracked tables stay
    // byte-identical.
    if (rowTracked)
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(
        GraftTableV2.RowIdCol))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // planning-session capture, same rationale as the group-based scan
    new GraftRowLevelScanBuilder(
      SparkSession.active, None, tablePath, dataSchema, snapVersion)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder = {
    // rows reaching insert()/update() carry the table's data columns
    require(info.schema().fields.isEmpty ||
        info.schema().fieldNames.sameElements(dataSchema.fieldNames),
      s"graft-table $cmd: delta row schema ${info.schema().simpleString} " +
        s"does not match the table's ${dataSchema.simpleString}")
    val idSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException(
        s"graft-table $cmd: delta write planned without a row-id schema"))
    val fileOrd = idSchema.fieldIndex(GraftTableV2.FileCol)
    val posOrd = idSchema.fieldIndex(GraftTableV2.PosCol)
    // row tracking: locate _row_id in the metadata row Spark hands to
    // update(meta, id, row) — the writer appends it as the trailing
    // materialized column (same resolution as the COW builder)
    val ridMetaIdx: Option[Int] =
      if (!rowTracked) None
      else {
        val ms = info.metadataSchema()
        if (ms.isPresent)
          ms.get.fieldNames.indexOf(GraftTableV2.RowIdCol) match {
            case -1 => None
            case i => Some(i)
          }
        else None
      }
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftDeltaWrite(tablePath, snapVersion,
          TxLog.physicalSchema(dataSchema), fileOrd, posOrd,
          dataColsPresent = info.schema().fields.nonEmpty,
          ridMetaIdx = ridMetaIdx)
    }
  }
}

/** The delta write: executors write post-image parquet into the table
  * root (through the table's one writer) and per-file deletion
  * bitmaps; the driver merges bitmaps per file and commits once. Task
  * bitmap sets above [[GraftDeltaWrite.InlineBitmapBytes]] spill to a
  * manifest file in the table root and ship by PATH — commit-message
  * traffic stays bounded no matter how many rows a task deleted. */
private final class GraftDeltaWrite(
    tablePath: String, snapVersion: Long, writeSchema: StructType,
    fileOrd: Int, posOrd: Int, dataColsPresent: Boolean,
    ridMetaIdx: Option[Int] = None)
    extends org.apache.spark.sql.connector.write.DeltaWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  /** Same contract as the COW write; gated on the command actually
    * carrying data columns — a pure DELETE's delta rows are row-ids
    * only, and an ordering referencing absent columns would fail
    * resolution (it also stages no data files to stamp). */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.unspecified()
  override def distributionStrictlyRequired(): Boolean = false
  private lazy val declared =
    if (!dataColsPresent) Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]
    else GraftRowLevel.declaredOrdering(tablePath, snapVersion)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = declared

  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
    new org.apache.spark.sql.connector.write.DeltaBatchWrite {
      override def createBatchWriterFactory(
          info: PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.DeltaWriterFactory =
        new GraftDeltaWriterFactory(
          TxLog.writerFactory(
            SparkSession.active, Some(new GraftTable(tablePath).snapshot(snapVersion)),
            // row tracking: post-images carry the materialized id as a
            // trailing physical column, filled from the metadata row
            ridMetaIdx.fold(writeSchema)(_ => writeSchema.add(
              TxLog.RowIdPhysCol, org.apache.spark.sql.types.LongType)),
            tablePath, ridMetaIdx),
          tablePath, fileOrd, posOrd)

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val msgs = messages.toSeq.collect {
          case m: GraftDeltaWrite.DeltaStaged => m }
        // per-file OR across tasks (a file's deletes may arrive from
        // many writers); bitmaps stream in one task-manifest at a time
        val merged = scala.collection.mutable.LinkedHashMap
          .empty[String, org.roaringbitmap.RoaringBitmap]
        def fold(name: String, bytes: Array[Byte]): Unit = {
          val bm = TxLog.dvFromBytes(bytes)
          merged.get(name) match {
            case Some(acc) => acc.or(bm)
            case None => merged.put(name, bm)
          }
        }
        msgs.foreach { m =>
          m.inlineDeletes.foreach { case (n, b) => fold(n, b) }
          m.spilledDeletes.foreach { p =>
            GraftDeltaWrite.readManifest(Paths.get(p)).foreach {
              case (n, b) => fold(n, b) }
            java.nio.file.Files.delete(Paths.get(p))
          }
        }
        val deletes = merged.toSeq.map { case (n, bm) => n -> TxLog.dvBytes(bm) }
        new GraftTable(tablePath).commitDeltaRowLevel(
          SparkSession.active, snapVersion, deletes,
          msgs.flatMap(_.files),
          ridMaterialized = ridMetaIdx.isDefined)
      }

      // a failed write's files and manifests are never referenced:
      // young orphans for vacuum
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
}

private[streaming] object GraftDeltaWrite {

  /** Task bitmap payloads above this spill to a manifest in the table
    * root ([[TxLog.DvManifestSuffix]]). */
  val InlineBitmapBytes: Int = 1 << 22 // 4 MiB

  /** One task's contribution: staged insert files + its per-file
    * deletion bitmaps (inline, or spilled manifest paths). */
  final case class DeltaStaged(
      files: Seq[org.apache.spark.sql.graft.ParquetWrites.StagedFile],
      inlineDeletes: Seq[(String, Array[Byte])],
      spilledDeletes: Seq[String]) extends WriterCommitMessage

  /** Manifest format: repeated [nameLen int][nameUtf8][bmLen int][bm]. */
  def writeManifest(
      path: java.nio.file.Path, entries: Seq[(String, Array[Byte])]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path)))
    try entries.foreach { case (n, b) =>
      val nb = n.getBytes("UTF-8")
      out.writeInt(nb.length); out.write(nb)
      out.writeInt(b.length); out.write(b)
    } finally out.close()
  }

  def readManifest(path: java.nio.file.Path): Seq[(String, Array[Byte])] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      java.nio.file.Files.newInputStream(path)))
    val acc = Seq.newBuilder[(String, Array[Byte])]
    try {
      while (in.available() > 0) {
        val nb = new Array[Byte](in.readInt()); in.readFully(nb)
        val bb = new Array[Byte](in.readInt()); in.readFully(bb)
        acc += ((new String(nb, "UTF-8"), bb))
      }
      acc.result()
    } finally in.close()
  }
}

/** Per-task delta writer: inserts delegate to the shared parquet
  * writer; deletes/updates fold `(_file, _pos)` row ids into per-file
  * RoaringBitmaps (memory: one compressed bitmap per touched file per
  * task — never a row-sized buffer). */
private final class GraftDeltaWriterFactory(
    inner: org.apache.spark.sql.graft.GraftParquetWriterFactory,
    tablePath: String, fileOrd: Int, posOrd: Int)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[
        org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val rows = inner.createWriter(partitionId, taskId)
      private val bitmaps = scala.collection.mutable.LinkedHashMap
        .empty[String, org.roaringbitmap.RoaringBitmap]

      private def record(id: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        val file = id.getUTF8String(fileOrd).toString
        val pos = id.getLong(posOrd)
        require(pos <= Int.MaxValue.toLong,
          s"graft-table: row index $pos of '$file' exceeds the deletion-" +
            "vector domain (2^31 rows in one parquet file) — use " +
            "copy-on-write mode for this table")
        bitmaps.getOrElseUpdate(file,
          new org.roaringbitmap.RoaringBitmap()).add(pos.toInt)
      }

      override def delete(
          meta: org.apache.spark.sql.catalyst.InternalRow,
          id: org.apache.spark.sql.catalyst.InternalRow): Unit = record(id)

      override def update(
          meta: org.apache.spark.sql.catalyst.InternalRow,
          id: org.apache.spark.sql.catalyst.InternalRow,
          row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        record(id)
        // preserved-metadata write: on row-tracked tables the inner
        // writer fills the trailing materialized id from `meta`
        // (ridMetaIdx); untracked factories fall through to write(row)
        rows.write(meta, row)
      }

      override def insert(
          row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        rows.write(row)
      }

      override def commit(): WriterCommitMessage = {
        val staged =
          org.apache.spark.sql.graft.ParquetWrites.filesOf(Seq(rows.commit()))
        val entries = bitmaps.toSeq.map { case (n, bm) => n -> TxLog.dvBytes(bm) }
        if (entries.map(_._2.length.toLong).sum <=
            GraftDeltaWrite.InlineBitmapBytes.toLong)
          GraftDeltaWrite.DeltaStaged(staged, entries, Nil)
        else {
          val p = Paths.get(tablePath,
            s"dv-$partitionId-${UUID.randomUUID()}${TxLog.DvManifestSuffix}")
          GraftDeltaWrite.writeManifest(p, entries)
          GraftDeltaWrite.DeltaStaged(staged, Nil, Seq(p.toString))
        }
      }

      override def abort(): Unit = rows.abort()

      override def close(): Unit = rows.close()
    }
}
