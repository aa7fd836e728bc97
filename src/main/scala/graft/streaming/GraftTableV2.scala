package graft.streaming

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import graft.medallion.{GraftTable, TxLog}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.{streaming => streaming_write}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, NullOrdering, SortDirection, Transform, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, InsertableRelation, StreamSinkProvider}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 surface of a [[graft.medallion.GraftTable]] — ONE table
  * behind `format("graft-table")` for both batch and streaming:
  *
  * {{{
  * spark.read.format("graft-table").option("path", t).load()        // snapshot
  * spark.readStream.format("graft-table").option("path", t).load()  // tail
  * }}}
  *
  * Both reads share one schema: the table's committed columns plus
  * `_commit_version` — the provenance tag saying which commit added each
  * row. A pipeline promoted from batch to streaming (or debugged in
  * batch) sees the identical shape; the previous V1 split (batch without
  * the tag, streaming with it) made the two surfaces drift.
  *
  * Scan path (the V1 relation's two losses, both fixed):
  *
  *   - '''Vectorized end to end.''' The scan DELEGATES to Spark's own
  *     parquet DSv2 reader ([[org.apache.spark.sql.graft.ParquetScans]])
  *     over exactly the snapshot's live files — columnar batches flow
  *     straight into whole-stage codegen. The V1 `PrunedFilteredScan`
  *     hopped through `df.rdd`, de-vectorizing every row.
  *   - '''Row-group skipping.''' Pushed data filters reach the parquet
  *     reader, so min/max page/row-group pruning happens INSIDE files,
  *     on top of the log-stats file pruning that already skipped whole
  *     files. Every filter is still reported as residual — log stats and
  *     parquet stats prune storage, Spark owns row semantics.
  *   - File pruning uses the SAME log stats as [[GraftTable.readRange]]
  *     (one `prunedSnapshot` implementation), plus `_commit_version`
  *     bounds pruning via the snapshot's provenance map — `WHERE
  *     _commit_version > 7` prunes at metadata, making "rows since
  *     commit N" an incremental read from plain SQL.
  *
  * `_commit_version` costs nothing unless asked for: when a query does
  * not select it, the scan is ONE parquet scan of all surviving files
  * (columnar, packed by `maxPartitionBytes`). When it is selected, files
  * group by their adding commit — per-group scans tag rows exactly; a
  * compacted table keeps the group count at the live-commit cardinality,
  * so OPTIMIZE also bounds provenance-read planning.
  *
  * Streaming is the V1 source's contract on DSv2: offsets ARE table
  * versions (the offset JSON is the bare version number, so existing V1
  * checkpoints replay unchanged), micro-batches read exactly the
  * append-commits in `(start, end]` via the same `appendFilesSince` walk
  * `appendsSince` uses, rewrites fail the stream unless
  * `skipRewrites=true`, and [[SupportsTriggerAvailableNow]] pins the
  * head version at query start — `Trigger.AvailableNow` drains to it in
  * proper micro-batches instead of the single-batch fallback (and its
  * warning) the V1 `Source` forced.
  *
  * 100 TB shape: planning is driver-side log metadata (O(live files) per
  * snapshot, O(commits in range) per micro-batch — never a data-dir
  * listing); data moves only through the delegated parquet scans at full
  * executor parallelism. [[SupportsReportStatistics]] reports the pruned
  * snapshot's exact byte/row totals from the log, so the optimizer can
  * broadcast a small graft table without a size-estimation scan.
  */
final class GraftTableProvider extends TableProvider with DataSourceRegister
    with CreatableRelationProvider with StreamSinkProvider {

  override def shortName(): String = "graft-table"

  /** Option lookups must be case-insensitive on BOTH DSv2 entry points:
    * `inferSchema` receives a [[CaseInsensitiveStringMap]] but
    * `getTable` receives the original-cased `asCaseSensitiveMap` keys —
    * an exact-case `get` there would let `readchangefeed` produce a CDF
    * schema on a table constructed with `changeFeed=false`. */
  private def ci(m: java.util.Map[String, String]): CaseInsensitiveStringMap =
    m match {
      case c: CaseInsensitiveStringMap => c
      case other => new CaseInsensitiveStringMap(other)
    }

  private def path(m: java.util.Map[String, String]): String = {
    val p = ci(m).get("path")
    if (p == null) throw new IllegalArgumentException(
      "graft-table requires .option(\"path\", <table root>)")
    p
  }

  // ------------------------------------------------------------- writes
  // The table deliberately does NOT advertise DSv2 write capabilities:
  // V2 byName output resolution would demand the synthetic
  // `_commit_version` column from every writer, and a `BATCH_WRITE`
  // table refuses ErrorIfExists (the default mode) and Ignore outright.
  // Spark therefore falls back to these V1 hooks, where the input
  // schema is the TABLE's data schema — what a writer naturally has.

  /** `df.write.format("graft-table").option("path", t).mode(...)`: a
    * SaveMode shim. Append is [[GraftTable.append]] (pass
    * `mergeSchema=true` to widen); Overwrite is the CAS overwrite
    * commit; ErrorIfExists/Ignore follow their SaveMode contracts
    * against table existence (≥1 commit). */
  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val p = path(parameters.asJava)
    val t = new GraftTable(p)
    val exists = t.latestVersion() > 0L
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    mode match {
      case SaveMode.Append => t.append(data, mergeSchema, maxRetries = 20)
      case SaveMode.Overwrite => t.overwrite(data)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft-table at $p already exists (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists => t.append(data, mergeSchema, maxRetries = 20)
      case SaveMode.Ignore if exists => ()
      case SaveMode.Ignore => t.append(data, mergeSchema, maxRetries = 20)
    }
    // the post-write relation: a fresh DSv2 read resolves it, so give
    // the caller the canonical batch-read schema
    val ctx = sqlContext
    new BaseRelation {
      override val sqlContext: SQLContext = ctx
      override def schema: StructType = GraftTableV2.readSchemaOf(p)
    }
  }

  /** `df.writeStream.format("graft-table").option("path", t)`: the
    * one streaming sink — each micro-batch commits through
    * [[TableSink.writerFor]] (a txn-ledger [[GraftTable.append]]), so a
    * crash-replayed batch id is a no-op. `appId` names the ledger; it
    * defaults to the checkpoint location, which shares the batch-id
    * lifetime — pass it explicitly when two logical queries must not
    * suppress each other's batches. */
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-table sink: partitionBy is the table's layout concern (zorder/compact), not the sink's")
    require(outputMode == OutputMode.Append(),
      s"graft-table sink supports Append output only, got $outputMode")
    val p = path(parameters.asJava)
    val appId = parameters.get("appId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-table sink needs .option(\"appId\", ...) or a checkpointLocation " +
          "to name its exactly-once txn ledger"))
    val table = new GraftTable(p)
    val write = TableSink.writerFor(table, appId)
    // opt-in auto-compaction (the Delta autoOptimize shape): when the
    // count of sub-target files reaches minFiles after a commit, merge
    // JUST those sub-target files in one transactional compactSmall —
    // right-sized files never rewrite, which is what keeps per-byte
    // write amplification O(log_minFiles(table/batch)) (geometric,
    // LSM-style) instead of linear in table size. Streaming ingest is
    // THE small-file factory, so the debt is paid where it accrues;
    // tails skip the row-neutral compact commits, and a failed/raced
    // compact never fails the batch — the data already committed.
    val autoCompact = parameters.get("autoCompact").exists(_.toBoolean)
    val autoMin = parameters.get("autoCompactMinFiles").map(_.toInt).getOrElse(10)
    val autoTargetMB = parameters.get("autoCompactTargetMB").map(_.toInt).getOrElse(128)
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // re-plan the micro-batch as a batch frame (the standard sink
        // pattern: a streaming frame refuses batch writes)
        write(org.apache.spark.sql.graft.ParquetScans.asBatch(data), batchId)
        if (autoCompact) {
          try {
            val _ = table.compactSmall(
              sqlContext.sparkSession, autoTargetMB, autoMin)
          } catch { case scala.util.control.NonFatal(e) =>
            // best-effort maintenance: the append committed; a lost
            // compact race or transient failure just defers the merge
            System.err.println(s"[graft-table] autoCompact skipped: ${e.getMessage}")
          }
        }
        ()
      }
      override def toString: String = s"GraftTableSink[$p]"
    }
  }

  /** Version pin from either travel option: `versionAsOf` directly, or
    * `timestampAsOf` resolved against the log's commit-time stamps
    * (epoch millis, or a UTC `yyyy-MM-dd HH:mm:ss[.SSS]` literal —
    * UTC because that is the session timezone convention of every
    * other timestamp surface here). Both present must agree or it's a
    * caller bug — refuse rather than pick one silently. */
  private def versionAsOf(m0: java.util.Map[String, String]): Option[Long] = {
    val m = ci(m0)
    val byVersion = Option(m.get("versionAsOf")).map(_.toLong)
    val byTime = Option(m.get("timestampAsOf")).map { s =>
      val millis =
        if (s.forall(c => c.isDigit || c == '-')) s.toLong
        else java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      new GraftTable(path(m)).versionAtTimestamp(millis)
    }
    (byVersion, byTime) match {
      case (Some(v), Some(t)) =>
        require(v == t, s"graft-table: versionAsOf=$v and timestampAsOf " +
          s"resolve to different versions ($v vs $t) — pass one")
        byVersion
      case _ => byVersion.orElse(byTime)
    }
  }

  private def changeFeed(m: java.util.Map[String, String]): Boolean =
    Option(ci(m).get("readChangeFeed")).exists(_.toBoolean)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = GraftTableV2.readSchemaOf(path(options), versionAsOf(options))
    if (!changeFeed(options)) base
    else {
      // the feed's schema: data columns, then _change_type, then the
      // provenance tag readSchemaOf already appended last
      val (data, version) = base.fields.partition(
        _.name != GraftTableV2.VersionCol)
      StructType((data :+
        StructField(TxLog.ChangeTypeCol, StringType, nullable = false)) ++
        version)
    }
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val props = ci(properties)
    val cdf = changeFeed(props)
    require(!cdf || versionAsOf(props).isEmpty,
      "graft-table: readChangeFeed streams FORWARD from startingVersion — " +
        "it cannot combine with versionAsOf/timestampAsOf time travel")
    // startingTimestamp (streams): resolve to the version committed
    // at-or-before the instant — the stream then tails strictly AFTER
    // it, i.e. "changes since what the table held at time T". Delta's
    // startingTimestamp option, riding the same commit stamps as
    // TIMESTAMP AS OF. Mutually exclusive with startingVersion.
    val startByTime = Option(props.get("startingTimestamp")).map { s =>
      require(props.get("startingVersion") == null,
        "graft-table: pass startingVersion OR startingTimestamp, not both")
      val millis =
        if (s.forall(c => c.isDigit || c == '-')) s.toLong
        else java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      // pre-history instants mean "everything": tail from version 0
      try new GraftTable(path(props)).versionAtTimestamp(millis)
      catch { case _: IllegalArgumentException => 0L }
    }
    new GraftTableV2(
      path(props), schema,
      skipRewrites = Option(props.get("skipRewrites")).exists(_.toBoolean),
      startingVersion = startByTime.getOrElse(
        Option(props.get("startingVersion")).map(_.toLong).getOrElse(0L)),
      versionAsOf = versionAsOf(props),
      maxVersionsPerTrigger =
        Option(props.get("maxVersionsPerTrigger")).map { s =>
          val n = s.toLong
          require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
          n
        },
      changeFeed = cdf)
  }
}

/** The resolved table: schema pinned at creation (concurrent commits
  * cannot tear a multi-action read or reshape a running stream).
  * `versionAsOf` time-travels batch reads to that committed snapshot —
  * including its THEN-current schema, so a read before a mergeSchema
  * widening doesn't grow phantom null columns.
  *
  * `files` pins the scan to exactly that snapshot's file list (each file
  * with its deletion vector and `addedIn` version) instead of resolving
  * the log: the entry of every programmatic read and rewrite, see
  * [[GraftTableV2.frame]]. */
class GraftTableV2(
    val tablePath: String, pinnedSchema: StructType,
    skipRewrites: Boolean, startingVersion: Long,
    versionAsOf: Option[Long] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    pinnedVersion: Option[Long] = None,
    changeFeed: Boolean = false,
    files: Option[TxLog.Snapshot] = None)
    extends Table with SupportsRead with SupportsDelete {

  // version pinned alongside the schema: every batch scan of this table
  // instance resolves the same snapshot. A caller that already resolved
  // a snapshot passes its version as `pinnedVersion`, so schema and
  // version come from ONE log read (a concurrent commit in between
  // cannot tear them apart); otherwise snapshot() validates an explicit
  // versionAsOf against the head (time travel to a version that never
  // committed fails loudly).
  private[streaming] val snapVersion: Long = pinnedVersion.getOrElse(
    versionAsOf match {
      case Some(v) => new GraftTable(tablePath).snapshot(v).version
      case None => new GraftTable(tablePath).latestVersion()
    })

  override def name(): String = s"graft-table`$tablePath`" +
    versionAsOf.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType = pinnedSchema

  /** Table metadata surfaced to `DESCRIBE TABLE EXTENDED` and catalog
    * listings: the resolved version plus every CHECK constraint as
    * `constraint.<name>` → expression — read from the SAME snapshot
    * version the scans are pinned to (no torn metadata). Lazy and
    * cached per table instance: Spark calls properties() repeatedly
    * (DESCRIBE, SHOW TBLPROPERTIES), and each full snapshot resolution
    * is O(commits-since-checkpoint) log I/O. */
  private lazy val resolvedProperties: java.util.Map[String, String] = {
    val snap = new GraftTable(tablePath).snapshot(snapVersion)
    (Map("version" -> snapVersion.toString) ++
      snap.props ++
      snap.constraints.map { case (n, e) => s"constraint.$n" -> e }).asJava
  }
  override def properties(): java.util.Map[String, String] = resolvedProperties

  override def capabilities(): java.util.Set[TableCapability] =
    if (changeFeed)
      // the readChangeFeed option is the STREAMING feed surface; batch
      // feed reads are graft_table_changes / GraftTable.readChangeFeed
      Set(TableCapability.MICRO_BATCH_READ).asJava
    else if (versionAsOf.isDefined)
      // a pinned-history read cannot tail: streaming from a past
      // version is startingVersion's job, and silently streaming the
      // HEAD under a versionAsOf option would be a lie
      Set(TableCapability.BATCH_READ).asJava
    else Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  /** SQL `DELETE FROM` / `TRUNCATE TABLE` (through [[GraftCatalog]]):
    * accepted when the predicate translates EXACTLY to the table's
    * one-column inclusive range delete (=, >=, <=, BETWEEN, their
    * conjunction, or no predicate at all = truncate) — the metadata-
    * drop path. On a `delete.mode = merge-on-read` table, ANY predicate
    * that renders row-exactly as SQL is also accepted and routes to
    * [[GraftTable.deleteRows]] — per-file deletion-vector commits
    * instead of a copy-on-write rewrite. Everything else is refused, so
    * Spark's row-level rewrite (or a loud error) takes over — a refused
    * DELETE is recoverable where a wrong one is not. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    versionAsOf.isEmpty && (
      GraftTableV2.deleteRange(filters).exists {
        case None => true // unconditional: truncate
        case Some((c, _, _)) => c != GraftTableV2.VersionCol &&
          pinnedSchema.fields.exists(_.name == c)
      } || (deleteModeMor && morDeletable(filters)))

  private def deleteModeMor: Boolean =
    Option(resolvedProperties.get(TxLog.DeleteModeProp))
      .contains(TxLog.DeleteModeMor)

  private def morDeletable(filters: Array[Filter]): Boolean =
    GraftTableV2.filtersToSql(filters).isDefined &&
      filters.forall(_.references.forall(r =>
        r != GraftTableV2.VersionCol && pinnedSchema.fields.exists(_.name == r)))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(canDeleteWhere(filters),
      s"graft-table: DELETE predicate ${filters.mkString(" AND ")} does not " +
        "translate to a one-column inclusive range — rewrite it with " +
        ">=/<=/BETWEEN, or truncate with no predicate")
    val t = new GraftTable(tablePath)
    GraftTableV2.deleteRange(filters) match {
      case Some(None) => t.truncate()
      case Some(Some((c, lo, hi)))
          if c != GraftTableV2.VersionCol &&
            pinnedSchema.fields.exists(_.name == c) =>
        t.delete(SparkSession.active, c, lo, hi)
      case _ => // merge-on-read: deletion-vector commit
        t.deleteRows(SparkSession.active,
          GraftTableV2.filtersToSql(filters).get)
    }
    ()
  }

  /** Whether a required column named `_commit_version` is the SYNTHETIC
    * provenance tag (resolved from the log) rather than a real data
    * column. A pinned file list and the catalog table read the data
    * column when the data schema claims the name. */
  protected def versionIsSynthetic: Boolean =
    files.isEmpty || !pinnedSchema.fieldNames.contains(GraftTableV2.VersionCol)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the first unambiguously-READ entry point: a typo'd path must fail
    // loudly here, not resolve as an empty table (inferSchema stays
    // lenient because the write path probes it before the table exists)
    require(snapVersion > 0L || files.isDefined,
      s"graft-table: no committed table at $tablePath — create it " +
        "(one append) before reading")
    new GraftScanBuilder(
      SparkSession.active, tablePath, pinnedSchema, snapVersion,
      skipRewrites, startingVersion, maxVersionsPerTrigger, versionIsSynthetic,
      changeFeed, files)
  }
}

/** Pushdown surface. All filters stay residual (Spark re-applies them —
  * log stats and parquet stats only prune storage); `pushedFilters`
  * reports the subset forwarded to the parquet reader / file pruner, so
  * plans and specs can see the pushdown happened.
  *
  * Unfiltered `COUNT(*)` / `COUNT(col)` / `MIN` / `MAX` aggregates —
  * including `GROUP BY` over columns on which every file is provably
  * single-valued (the layout partitioned ingest produces) — push
  * COMPLETELY into the commit log: the answer comes from per-file row
  * counts, null counts, and min/max stats — a driver-side metadata
  * read, zero bytes of data scanned at ANY table size (the Delta
  * metadata-count optimization, extended to min/max and partition-
  * grouped rollups). Soundness rules in
  * [[GraftTableV2.metadataAggregate]]. */
final class GraftScanBuilder(
    spark: SparkSession, tablePath: String, fullSchema: StructType,
    snapVersion: Long, skipRewrites: Boolean, startingVersion: Long,
    maxVersionsPerTrigger: Option[Long] = None,
    syntheticVersion: Boolean = true,
    changeFeed: Boolean = false,
    files: Option[TxLog.Snapshot] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var filters: Array[Filter] = Array.empty
  private var pushedAgg: Option[(StructType, Seq[InternalRow])] = None
  private var limit: Option[Int] = None

  /** An unfiltered LIMIT stops planning files once the log's row counts
    * guarantee enough rows — a `LIMIT 10` peek at a million-file table
    * opens one file. Refused whenever filters exist: they are residual
    * (rows drop ABOVE the scan), so row-count file truncation could
    * under-produce. Partial push (the default): Spark keeps its own
    * LIMIT on top, we just plan fewer files. */
  override def pushLimit(n: Int): Boolean = {
    if (filters.nonEmpty || changeFeed) return false
    limit = Some(n); true
  }

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // every filter is residual: stats prune files, Spark owns rows
  }

  override def pushedFilters(): Array[Filter] =
    if (!syntheticVersion) filters.filter(_.references.nonEmpty)
    else filters.filter(f => f.references.nonEmpty &&
      f.references.forall(_ != GraftTableV2.VersionCol)) ++
      filters.filter(f => f.references.nonEmpty &&
        f.references.forall(_ == GraftTableV2.VersionCol) &&
        GraftTableV2.bounds(f).nonEmpty)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // resolution is deterministic in (snapVersion, filters, agg), and
  // Spark calls supportCompletePushDown then pushAggregation with the
  // same instance during one planning pass — resolve the log once, not
  // twice per query
  private var resolvedFor: Option[(Aggregation, Option[(StructType, Seq[InternalRow])])] = None
  private def resolveAgg(agg: Aggregation): Option[(StructType, Seq[InternalRow])] = {
    if (changeFeed) return None // a feed is row attribution, not a rollup
    if (!resolvedFor.exists(_._1 eq agg))
      resolvedFor = Some((agg, GraftTableV2.metadataAggregate(
        files.getOrElse(new GraftTable(tablePath).snapshot(snapVersion)),
        fullSchema, filters, agg, syntheticVersion)))
    resolvedFor.get._2
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    resolveAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = resolveAgg(agg)
    pushedAgg.isDefined
  }

  override def build(): Scan = pushedAgg match {
    case Some((schema, rows)) => GraftMetadataScan(tablePath, snapVersion, schema, rows)
    case None =>
      new GraftScan(spark, tablePath, fullSchema, required, filters,
        snapVersion, skipRewrites, startingVersion, limit,
        maxVersionsPerTrigger, syntheticVersion, changeFeed, files)
  }
}

/** A completely-pushed aggregate: one row per group (one total for the
  * ungrouped case), resolved from the commit log on the driver. No
  * data file is opened. */
final case class GraftMetadataScan(
    tablePath: String, snapVersion: Long,
    schema: StructType, resolved: Seq[InternalRow]) extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = resolved.toArray
  override def description(): String =
    s"graft-table $tablePath v$snapVersion [metadata-only aggregate, ${resolved.size} row(s)]"
}

final class GraftScan(
    spark: SparkSession, tablePath: String, fullSchema: StructType,
    required: StructType, filters: Array[Filter],
    snapVersion: Long, skipRewrites: Boolean, startingVersion: Long,
    limit: Option[Int] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    syntheticVersion: Boolean = true,
    changeFeed: Boolean = false,
    files: Option[TxLog.Snapshot] = None)
    extends Scan with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  import GraftTableV2.VersionCol

  private val table = new GraftTable(tablePath)

  // the physical (on-disk) schema: everything except the provenance tag
  // (a data column that happens to share the name stays on disk) — and,
  // in CDF mode, the feed's change-type tag
  private val dataSchema = StructType(fullSchema.fields.filterNot(f =>
    (syntheticVersion && f.name == VersionCol) ||
      (changeFeed && f.name == TxLog.ChangeTypeCol)))
  private val dataFilters = {
    val noVersion =
      if (!syntheticVersion) filters.toSeq
      else filters.filter(_.references.forall(_ != VersionCol)).toSeq
    if (!changeFeed) noVersion
    else noVersion.filter(_.references.forall(_ != TxLog.ChangeTypeCol))
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-table $tablePath v$snapVersion " +
      s"[pushed: ${dataFilters.mkString(", ")}]" +
      limit.map(n => s" [limit: $n]").getOrElse("")

  /** Compile-time pruning: log min/max from the pushed data-filter
    * bounds, then `_commit_version` predicates against each file's
    * adding commit. Session-aware: past the checkpoint-size threshold
    * the prune runs distributively so planning driver state stays
    * O(survivors) on million-file tables. A pinned file list prunes in
    * memory — its log was already resolved. */
  private lazy val prunedSnap: TxLog.Snapshot = {
    val bounds = dataFilters.flatMap(GraftTableV2.bounds)
    files match {
      case Some(snap) => TxLog.pruned(snap, bounds)
      case None => table.prunedSnapshot(spark, bounds, version = snapVersion)
    }
  }

  private lazy val pruned: Seq[(TxLog.AddFile, Long)] = {
    val snap = prunedSnap
    snap.files.map(a => a -> snap.addedIn.getOrElse(a.path, snap.version))
      .filter { case (a, v) =>
        filters.forall(f =>
          GraftTableV2.fileSurvives(table, fullSchema, a, v, f, syntheticVersion)) }
  }

  // ------------------------------------------- runtime (join) filtering
  // The DPP analogue for the table format: a broadcast join hands the
  // scan the build side's key set at RUNTIME as In-filters; files whose
  // log stats cannot contain any member drop before a byte is read. At
  // 100 TB this is the difference between scanning a fact table and
  // scanning the handful of files a dimension filter actually touches.

  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  // only the PROJECTED columns: the planner resolves these against the
  // scan's output, and a pruned-away column would fail analysis
  override def filterAttributes(): Array[NamedReference] =
    required.fields.map(f => Expressions.column(f.name))

  override def filter(rf: Array[Filter]): Unit = runtimeFilters = rf

  /** The files the batch will read NOW: compile-time pruning, then
    * whatever runtime filters have arrived since, then the pushed-limit
    * truncation (last, so a runtime filter can never starve it).
    * Re-evaluated on every plan call because runtime filters land after
    * `toBatch`. */
  private[graft] def currentFiles(): Seq[(TxLog.AddFile, Long)] = {
    val compiled = GraftTableV2.compileRuntimeFilters(
      table, fullSchema, runtimeFilters, syntheticVersion)
    val alive = pruned.filter { case (a, v) => compiled.forall(_(a, v)) }
    limit match {
      case Some(n) => // keep files until their row counts guarantee n rows
        var acc = 0L
        // effectiveRows: a DV'd file guarantees only its SURVIVING rows
        alive.takeWhile { f => val need = acc < n; acc += f._1.effectiveRows; need }
      case None => alive
    }
  }

  // statistics reflect compile-time pruning only — the optimizer
  // consumes them before runtime filters exist. Column-level stats
  // (distinct count from the per-file HLL sketches when `ndv.columns`
  // covers the pruned set, null counts from the per-file stats) feed
  // the CBO's join-size estimation — at 100 TB the difference between
  // a sane join order and a blown-up one, for the cost of reading the
  // log.
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(pruned.map(_._1.bytes).sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(pruned.map(_._1.effectiveRows).sum)
    override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      dataSchema.fields.foreach { f =>
        val phys = TxLog.physicalOf(fullSchema, f.name)
        val entries = pruned.flatMap(_._1.stats.get(phys))
        // nulls: per-file counts where recorded, plus every row of a
        // file with NO entry for the column (an all-null file). The
        // absence⇒all-null inference is only sound for types the
        // writer ALWAYS records stats for when non-null values exist:
        // non-stats-able types (boolean/binary/array/struct) never get
        // entries, and float/double entries are dropped when min/max
        // is NaN/Infinity — for those, absence proves nothing.
        val absent = pruned.filter(_._1.stats.get(phys).isEmpty)
        val nullsKnown = entries.forall(_.nulls.isDefined) &&
          (absent.isEmpty || TxLog.absenceMeansAllNull(f.dataType))
        val nulls =
          if (!nullsKnown) None
          else Some(entries.flatMap(_.nulls).sum + absent.map(_._1.rows).sum)
        val ndv =
          if (entries.isEmpty || entries.exists(_.hll.isEmpty)) None
          else {
            val acc = new Array[Byte](1 << TxLog.HllP)
            entries.foreach(cs => graft.functions.HllAgg.mergeInto(acc,
              java.util.Base64.getDecoder.decode(cs.hll.get)))
            Some(graft.functions.HllAgg.estimate(acc))
          }
        if (nulls.isDefined || ndv.isDefined) {
          out.put(Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): OptionalLong =
                ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def nullCount(): OptionalLong =
                nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            })
        }
      }
      out
    }
  }

  // ------------------------------------ storage-partitioned joins
  // Under a partition spec whose every transform is SPJ-expressible
  // (`bucket(n, col)`, `days(ts)`, `hours(ts)` — the tz-free integer
  // transforms the owning catalog registers as V2 functions) and whose
  // every pruned file is single-valued on the full transform tuple
  // (what the bucket-splitting staged writer produces), the scan
  // reports its files as ONE partition per tuple value — Spark's
  // storage-partitioned join then co-locates two such scans on the
  // join key with ZERO shuffle exchanges
  // (spark.sql.sources.v2.bucketing.enabled; the Iceberg SPJ design,
  // SPARK-37375). The composite form is the 100-TB fact-table layout:
  // `days(ts), bucket(n, id)` tables join day-and-key-aligned with
  // neither side crossing the network. Degrades silently: any
  // disqualifier — straddling files, unsupported transform kinds,
  // version/position columns required, a pushed limit — reports
  // UnknownPartitioning and the join plans its usual exchanges.
  // GATED on the SPJ conf itself: key-grouping packs each tuple's
  // files into one unsplittable partition, trading scan parallelism
  // for exchange-free joins — a trade only worth making when the
  // session opted into V2 bucketing (Iceberg's preserve-data-grouping
  // behavior). The group set is FROZEN here (compile-time pruning
  // only): runtime filters may not shrink the reported partition
  // count.
  private lazy val keyedGroups
      : Option[(Seq[org.apache.spark.sql.connector.expressions.Transform],
                Seq[(Seq[Int], Seq[(TxLog.AddFile, Long)])])] = {
    if (changeFeed || limit.isDefined ||
        !spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
          .equalsIgnoreCase("true") ||
        required.fieldNames.contains(GraftTableV2.FileCol) ||
        required.fieldNames.contains(GraftTableV2.PosCol) ||
        required.fieldNames.contains(GraftTableV2.RowIdCol)) None
    else
      // the pruned snapshot is already resolved for file listing —
      // reporting partitioning costs no extra log IO. A required
      // `_commit_version` does NOT disqualify: the keyed batch tags
      // each file's partition with it (the tag is per-file-constant,
      // so it never perturbs the tuple grouping) — what lets the COW
      // MERGE rewrite join, whose scan always needs provenance, stay
      // storage-partitioned.
      GraftTableV2.keyedGroupsFor(prunedSnap, pruned)
  }

  override def outputPartitioning(): Partitioning = keyedGroups match {
    case Some((exprs, groups)) =>
      new KeyGroupedPartitioning(exprs.toArray, groups.size)
    case None => new UnknownPartitioning(0)
  }

  // ------------------------------------------- write-ordered scans
  // Files staged under a `write.orderBy` table property carry a
  // __s$order marker (min == max == the physical sort list). When the
  // scan is KEY-GROUPED (each input partition is exactly one file —
  // the SPJ report above) and EVERY pruned file carries the identical
  // marker, the scan also reports that order
  // (SupportsReportOrdering): a sort-merge join between two such
  // co-bucketed tables then plans with zero exchanges AND ZERO SORTS —
  // the full sorted-bucket join, data crossing neither the network nor
  // a sorter at any scale. Soundness:
  //  - gated on the keyed report: the non-keyed path delegates to
  //    Spark's parquet batch, which BINS multiple files per partition
  //    (concatenation breaks local order); the keyed path plans one
  //    file per partition, and when Spark groups same-key files into
  //    one partition its own guard (DataSourceV2ScanExecBase
  //    .outputOrdering requires 1 input partition per grouped key)
  //    drops the report — multi-file tuples degrade, never lie.
  //  - a DV'd file drops the rows whose generated row index is in its
  //    bitmap and keeps the rest in file order; the `_commit_version`
  //    splice is per-file-constant — both preserve row order.
  //  - fanout-written files (streaming epochs, row-level staging) are
  //    row-at-a-time and never stamped, so their presence disables the
  //    report rather than mis-asserting it.
  // Ordering is ascending nulls-first (what sortWithinPartitions
  // wrote), exactly a join/window's required child ordering; only the
  // prefix whose logical columns survive column pruning is reported
  // (the rule resolves these against the scan output).
  private lazy val sortedPrefix: Seq[String] = keyedGroups match {
    case None => Nil
    case Some(_) =>
      GraftTableV2.sortedPrefixFor(prunedSnap, pruned, required)
  }

  override def outputOrdering(): Array[V2SortOrder] =
    sortedPrefix.map(c => Expressions.sort(
      Expressions.column(c),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray

  // ONE batch per scan: Spark asks again at execution (AQE re-plans and
  // copies the scan node), and each batch builds its reader factory,
  // which broadcasts the Hadoop conf
  private lazy val batch = new GraftBatch(spark, table, dataSchema, required,
    dataFilters, () => currentFiles(), syntheticVersion,
    // frozen at compile-time pruning: runtime filters must not
    // shrink the reported partition count on the plain scan
    keyed = () => keyedGroups.map(_._2),
    key = Some((tablePath, snapVersion,
      files.map(s => (s.files.map(a => (a.path, a.dv)), s.addedIn)),
      fullSchema, required,
      filters.toSeq, limit, syntheticVersion)))

  override def toBatch: Batch = {
    require(!changeFeed,
      "graft-table: batch change-feed reads go through the " +
        "graft_table_changes table function (or GraftTable.readChangeFeed); " +
        "the readChangeFeed option is the STREAMING surface")
    batch
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(
      spark, table, dataSchema, required, dataFilters,
      skipRewrites, startingVersion, maxVersionsPerTrigger, changeFeed)
}

/** Batch read of a pruned snapshot. Clean files: transparent
  * delegation to ONE parquet scan — columnar batches pass through
  * untouched; when `_commit_version` is required, files group by adding
  * commit and each group's partitions carry its version. DV'd files
  * (and every file of a positional scan) read through the idx delegate
  * and its generated row index. ONE partition-agnostic reader factory
  * (it embeds only the schema/filters/conf, not the file list) serves
  * every partition. The file list is a THUNK because runtime filters
  * can shrink it after this batch is constructed. */
final class GraftBatch(
    spark: SparkSession, table: GraftTable, dataSchema: StructType,
    required: StructType, dataFilters: Seq[Filter],
    files: () => Seq[(TxLog.AddFile, Long)],
    syntheticVersion: Boolean = true,
    keyed: () => Option[Seq[(Seq[Int], Seq[(TxLog.AddFile, Long)])]] =
      () => None,
    private val key: Option[Any] = None)
    extends Batch {

  // Spark reuses an exchange only between scan nodes whose batches are
  // EQUAL (BatchScanExec.equals): two scans with the same `key` —
  // the same files, schema, projection and filters — read the same rows
  override def equals(o: Any): Boolean = o match {
    case b: GraftBatch => (b eq this) || (key.isDefined && key == b.key)
    case _ => false
  }
  override lazy val hashCode: Int =
    key.fold(System.identityHashCode(this))(_.hashCode)

  import GraftTableV2.VersionCol

  private val needVersion =
    syntheticVersion && required.fieldNames.contains(VersionCol)
  // positional mode: the row-id metadata columns (_file/_pos) are only
  // synthetic when the data schema does not claim the names
  private def synthetic(name: String): Boolean =
    !dataSchema.fieldNames.contains(name)
  private val needFile =
    required.fieldNames.contains(GraftTableV2.FileCol) &&
      synthetic(GraftTableV2.FileCol)
  private val needPos =
    required.fieldNames.contains(GraftTableV2.PosCol) &&
      synthetic(GraftTableV2.PosCol)
  private val needRowId =
    required.fieldNames.contains(GraftTableV2.RowIdCol) &&
      synthetic(GraftTableV2.RowIdCol)
  private val positional = needFile || needPos || needRowId
  private val innerRequired = StructType(required.fields.filterNot(f =>
    (syntheticVersion && f.name == VersionCol) ||
      (needFile && f.name == GraftTableV2.FileCol) ||
      (needPos && f.name == GraftTableV2.PosCol) ||
      (needRowId && f.name == GraftTableV2.RowIdCol)))

  // the delegated parquet reader sees PHYSICAL names on column-mapped
  // tables (files carry them); rows come back positionally, so the
  // logical `required`/`innerRequired` above stay authoritative for
  // everything row-shaped
  private[streaming] val physDataSchema =
    GraftTableV2.physicalProjection(dataSchema, dataSchema)
  private[streaming] val physRequired =
    GraftTableV2.physicalProjection(dataSchema, innerRequired)
  private val physFilters = GraftTableV2.physicalFilters(dataSchema, dataFilters)

  private def innerFactory: PartitionReaderFactory =
    org.apache.spark.sql.graft.ParquetScans.readerFactoryFor(
      spark, physDataSchema, physRequired, physFilters)
  // POSITIONAL factory: every DV'd file and every synthetic-position
  // need — `_row_id`, `_pos` — reads through one delegate whose
  // required schema appends (a) the materialized rid column when the
  // scan serves `_row_id` (files lacking it null-fill) and (b) the
  // reader-GENERATED row-index column, which stays true-to-file under
  // byte-range splits, pushed filters, and row-group/page skipping.
  // Positions therefore cost neither split parallelism nor pushdown.
  private val idxMat = needRowId
  private val idxInner: StructType = {
    val base =
      if (idxMat) physRequired.add(graft.medallion.TxLog.RowIdPhysCol, LongType)
      else physRequired
    base.add(org.apache.spark.sql.graft.ParquetScans.RowIndexCol, LongType)
  }
  private def idxFactory: PartitionReaderFactory =
    org.apache.spark.sql.graft.ParquetScans.readerFactoryFor(
      spark,
      if (idxMat)
        physDataSchema.add(graft.medallion.TxLog.RowIdPhysCol, LongType)
      else physDataSchema,
      idxInner, physFilters)

  /** Tag one partition of file `a` (a split or the whole file) with the
    * file's DV / base row id / (relative) path / commit version for the
    * idx delegate. Every such partition holds a range of a SINGLE file,
    * so per-file constants stay per-partition constants. */
  private def idxPart(p: InputPartition, a: TxLog.AddFile, v: Long): InputPartition =
    GraftIdxPartition(p, a.dv,
      if (needVersion) Some(v) else None,
      if (needFile) Some(a.path) else None,
      a.baseRowId)

  /** The pushed-filter parquet scan's own packing of clean files. */
  private def packed(fs: Seq[(TxLog.AddFile, Long)]): Seq[InputPartition] =
    org.apache.spark.sql.graft.ParquetScans.scanFor(
      spark, physDataSchema, fs.map(f => table.absoluteDataPath(f._1)),
      physRequired, physFilters).toBatch.planInputPartitions().toSeq

  /** Plan a non-keyed `(file, adding version)` list — this batch's and
    * every micro-batch of [[GraftMicroBatchStream]]. Clean files pack
    * through the pushed-filter parquet scan (one scan per commit
    * version when `_commit_version` is required, each partition tagged
    * with it). A DV'd file — and every file of a positional scan
    * (`_row_id` / `_file` / `_pos`) — plans as byte-range splits
    * through the idx delegate: planning a 100k-file table costs one
    * getFileStatus per file, and the pushed filters ride in the idx
    * READER FACTORY. */
  private[streaming] def planFiles(all: Seq[(TxLog.AddFile, Long)]): Seq[InputPartition] = {
    val (idxd, clean) = all.partition(f => positional || f._1.dv.isDefined)
    val cleanParts =
      if (clean.isEmpty) Nil
      else if (!needVersion) packed(clean)
      else clean.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (v, group) =>
        packed(group).map(p => GraftVersionedPartition(p, v))
      }
    cleanParts ++ idxd.flatMap { case (a, v) =>
      org.apache.spark.sql.graft.ParquetScans.splitFilePartitions(
        spark, table.absoluteDataPath(a)).map(idxPart(_, a, v))
    }
  }

  // _row_id / _file / _pos never ride keyed partitions (the scan-side
  // gates exclude them from keyed reports; this is the batch-side belt
  // to that brace)
  private def keyedGroups = if (positional) None else keyed()

  /** Storage-partitioned-join mode: one keyed partition PER FILE —
    * Spark's DataSourceV2ScanExecBase.groupedPartitions groups them by
    * key itself (the Iceberg shape), which is what lets partially-
    * clustered distribution split a SKEWED tuple's files across tasks
    * (replicating the other side) instead of serializing a 100-GB
    * bucket into one task. The group set was frozen at compile-time
    * pruning (see GraftScan). A keyed partition only adds the key to
    * the partition its file would plan as anyway — plain, version-
    * tagged or idx — so clean files keep their pushed filters and a DV
    * applies exactly as on a non-keyed scan. The version is per-file-
    * constant, so tagging never perturbs the tuple grouping — what
    * keeps the COW MERGE rewrite scan (which always needs provenance)
    * storage-partitioned. */
  override def planInputPartitions(): Array[InputPartition] = keyedGroups match {
    case Some(groups) =>
      groups.flatMap { case (k, fs) =>
        fs.map { case (a, v) =>
          val whole = org.apache.spark.sql.graft.ParquetScans.filesPartition(
            spark, Seq(table.absoluteDataPath(a)))
          GraftKeyedPartition(
            if (a.dv.isDefined) idxPart(whole, a, v)
            else if (needVersion) GraftVersionedPartition(whole, v)
            else whole, k): InputPartition
        }
      }.toArray
    case None => planFiles(files()).toArray
  }

  /** A reader factory holding the plain delegate, the idx delegate, or
    * both. Each delegate broadcasts the Hadoop conf, so a batch builds
    * only the ones its files plan through. */
  private[streaming] def readerFactory(plain: Boolean, idx: Boolean)
      : GraftVersionedReaderFactory =
    GraftVersionedReaderFactory(
      if (plain) Some(innerFactory) else None,
      if (idx) Some(idxFactory) else None, required, innerRequired)

  // Built ONCE per batch. Runtime filters and the pushed limit only
  // ever shrink the file list, so the delegates taken when the factory
  // is built cover every later plan of this batch.
  private lazy val scanFactory: PartitionReaderFactory = {
    val fs = keyedGroups.fold(files())(_.flatMap(_._2)).map(_._1)
    readerFactory(
      plain = !positional && fs.exists(_.dv.isEmpty),
      idx = positional || fs.exists(_.dv.isDefined))
  }

  override def createReaderFactory(): PartitionReaderFactory = scanFactory
}

/** An inner parquet partition tagged with its commit version. Served
  * COLUMNAR when the scan reads columnar (the version is a
  * per-partition CONSTANT vector — zero per-row work). */
final case class GraftVersionedPartition(inner: InputPartition, version: Long)
    extends InputPartition

/** A POSITIONAL partition — a split (or, keyed, the whole) of ONE file
  * planned through the idx delegate, whose required schema ends with
  * the reader-GENERATED row-index column (and, on `_row_id` scans, the
  * materialized rid column just before it). Because the generated
  * index is true-to-file under byte-range splits, pushed filters, and
  * row-group/page skipping, it is the ONE way any reader applies a
  * deletion vector, and every synthetic-position need serves COLUMNAR:
  *   - deletion vector `dv`: a row survives iff its generated index is
  *     not in the bitmap ([[GraftTableV2.survives]]); deleted indexes
  *     drop out via a zero-copy [[SelectedColumnVector]] remap (one
  *     `rangeCardinality` probe per batch; untouched batches pass
  *     through as-is),
  *   - `_row_id`: one computed long vector, rid[i] =
  *     coalesce(materialized[phys], baseRowId + index[phys]) — a
  *     function of the PHYSICAL index, so survivor ids stay stable
  *     across MOR deletes,
  *   - `_pos`: the index vector itself (remapped under a DV),
  *   - `_file` / `_commit_version`: per-partition constant vectors
  *     (splits never mix files — [[GraftBatch.planFiles]] plans per
  *     file).
  * The row-at-a-time reader (the row delegate also generates indexes)
  * serves the same rows when the scan reads rows. */
final case class GraftIdxPartition(
    inner: InputPartition, dv: Option[String], version: Option[Long],
    file: Option[String], baseRowId: Option[Long])
    extends InputPartition

/** ONE FILE as a keyed partition — the storage-partitioned-join unit:
  * `partitionKey` is the transform tuple (sole bucket value, or e.g.
  * (day, bucket) under a composite spec) the catalog's V2 functions
  * compute; Spark groups same-key partitions itself and zips two
  * co-partitioned scans key-by-key without an exchange — and, under
  * partially-clustered distribution, splits a skewed tuple's files
  * across tasks. `inner` is the partition the file would plan as
  * anyway (plain, [[GraftVersionedPartition]] or [[GraftIdxPartition]])
  * and reads exactly as it would unkeyed. */
final case class GraftKeyedPartition(inner: InputPartition, key: Seq[Int])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(key.map(Int.box).toArray[Any])
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Wraps the delegated parquet readers: `plain` reads clean files (with
  * the version tag spliced in for [[GraftVersionedPartition]]s), `idx`
  * reads [[GraftIdxPartition]]s through the generated row index; plain
  * partitions DELEGATE untouched, columnar included, so they keep full
  * vectorization through this factory. A scan holds only the delegates
  * its files plan through. */
final case class GraftVersionedReaderFactory(
    plain: Option[PartitionReaderFactory], idx: Option[PartitionReaderFactory],
    required: StructType, innerRequired: StructType)
    extends PartitionReaderFactory {

  // ONE answer for every partition of the scan (Spark refuses a scan
  // that mixes columnar and row partitions): columnar only when every
  // delegate held reads columnar for its projection. The idx
  // projection is one column (the generated row index) wider than the
  // plain one, so at the codegen field limit the two disagree — then
  // every partition reads rows. The parquet factories decide from schema and conf
  // alone, so an empty partition stands in for all of them.
  @transient private lazy val columnar: Boolean = (plain ++ idx).forall(
    _.supportColumnarReads(
      org.apache.spark.sql.execution.datasources.FilePartition(0, Array.empty)))

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case kp: GraftKeyedPartition => createColumnarReader(kp.inner)
      case ip: GraftIdxPartition => idxColumnar(ip)
      case vp: GraftVersionedPartition => versionedColumnar(vp)
      case other => plain.get.createColumnarReader(other)
    }

  // required-ordinal → inner-ordinal for idx partitions; negative =
  // synthetic slot (-1 version, -2 file, -3 pos, -4 rid)
  private def idxMapping: Array[Int] = required.fields.map { f =>
    if (f.name == GraftTableV2.VersionCol &&
      !innerRequired.fieldNames.contains(GraftTableV2.VersionCol)) -1
    else if (f.name == GraftTableV2.FileCol &&
      !innerRequired.fieldNames.contains(GraftTableV2.FileCol)) -2
    else if (f.name == GraftTableV2.PosCol &&
      !innerRequired.fieldNames.contains(GraftTableV2.PosCol)) -3
    else if (f.name == GraftTableV2.RowIdCol &&
      !innerRequired.fieldNames.contains(GraftTableV2.RowIdCol)) -4
    else innerRequired.fieldIndex(f.name)
  }

  /** COLUMNAR positional serving (round 16, see [[GraftIdxPartition]]):
    * the idx delegate's vectorized batches arrive with the generated
    * row-index vector last (and the materialized rid vector just
    * before it on `_row_id` scans); deleted indexes drop out via the
    * [[SelectedColumnVector]] remap, rid fills one computed long
    * vector, `_pos` serves the index vector itself, and `_file` /
    * `_commit_version` ride as constants. */
  private def idxColumnar(ip: GraftIdxPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val inner = idx.get.createColumnarReader(ip.inner)
    val bm = ip.dv.map(graft.medallion.TxLog.dvDeserialize)
    val mapping = idxMapping
    val hasRid = mapping.contains(-4)
    val matOrd = innerRequired.length
    val idxOrd = innerRequired.length + (if (hasRid) 1 else 0)
    val base = ip.baseRowId
    val vvec = ip.version.map { v =>
      val c = new org.apache.spark.sql.execution.vectorized
        .ConstantColumnVector(1 << 16, LongType)
      c.setLong(v)
      c
    }
    val fvec = ip.file.map { f =>
      val c = new org.apache.spark.sql.execution.vectorized
        .ConstantColumnVector(1 << 16, StringType)
      c.setUtf8String(org.apache.spark.unsafe.types.UTF8String.fromString(f))
      c
    }
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var ridVec: org.apache.spark.sql.execution.vectorized.OnHeapColumnVector = null
      private var ridCap = 0
      override def next(): Boolean = inner.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val in = inner.get()
        val n = in.numRows()
        val idxVec = in.column(idxOrd)
        // surviving in-batch offsets under the DV (null = all survive);
        // generated indexes ascend within a batch, so one range probe
        // clears the common no-deletion case (clamped where
        // GraftTableV2.survives stops looking)
        val sel: Array[Int] = bm match {
          case Some(b) if n > 0 && idxVec.getLong(0) <= Int.MaxValue.toLong &&
              b.rangeCardinality(idxVec.getLong(0),
                math.min(idxVec.getLong(n - 1) + 1L,
                  Int.MaxValue.toLong + 1L)) > 0L =>
            val out = new Array[Int](n)
            var i = 0
            var k = 0
            while (i < n) {
              if (GraftTableV2.survives(b, idxVec.getLong(i))) {
                out(k) = i; k += 1
              }
              i += 1
            }
            java.util.Arrays.copyOf(out, k)
          case _ => null
        }
        val m = if (sel == null) n else sel.length
        if (hasRid) {
          if (ridVec == null || ridCap < m) {
            if (ridVec != null) ridVec.close()
            ridCap = math.max(m, 4096)
            ridVec = new org.apache.spark.sql.execution.vectorized
              .OnHeapColumnVector(ridCap, LongType)
          }
          ridVec.reset()
          val mat = in.column(matOrd)
          var i = 0
          while (i < m) {
            // rid is a function of the PHYSICAL index, so survivor ids
            // stay stable across MOR deletes
            val phys = if (sel == null) i else sel(i)
            if (!mat.isNullAt(phys)) ridVec.putLong(i, mat.getLong(phys))
            else base match {
              case Some(b) => ridVec.putLong(i, b + idxVec.getLong(phys))
              case None => ridVec.putNull(i)
            }
            i += 1
          }
        }
        val vecs = new Array[org.apache.spark.sql.vectorized.ColumnVector](mapping.length)
        var j = 0
        while (j < mapping.length) {
          vecs(j) = mapping(j) match {
            case -1 => vvec.get
            case -2 => fvec.get
            case -3 =>
              if (sel == null) idxVec else new SelectedColumnVector(idxVec, sel)
            case -4 => ridVec
            case ord =>
              if (sel == null) in.column(ord)
              else new SelectedColumnVector(in.column(ord), sel)
          }
          j += 1
        }
        new org.apache.spark.sql.vectorized.ColumnarBatch(vecs, m)
      }
      override def close(): Unit = {
        if (ridVec != null) ridVec.close()
        inner.close()
      }
    }
  }

  /** Row-at-a-time serving of idx partitions (the scan reads rows):
    * same semantics through the row reader, which also generates the
    * trailing row-index column. */
  private def idxRow(ip: GraftIdxPartition): PartitionReader[InternalRow] = {
    val inner = idx.get.createReader(ip.inner)
    val bm = ip.dv.map(graft.medallion.TxLog.dvDeserialize)
    val mapping = idxMapping
    val hasRid = mapping.contains(-4)
    val matOrd = innerRequired.length
    val idxOrd = innerRequired.length + (if (hasRid) 1 else 0)
    val types: Array[DataType] = innerRequired.fields.map(_.dataType)
    val fileConst = ip.file
      .map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
    val version = ip.version.getOrElse(0L)
    new PartitionReader[InternalRow] {
      private var pos = 0L
      override def next(): Boolean = {
        while (inner.next()) {
          pos = inner.get().getLong(idxOrd)
          if (bm.forall(GraftTableV2.survives(_, pos))) return true
        }
        false
      }
      override def get(): InternalRow = {
        val in = inner.get()
        val out = new Array[Any](mapping.length)
        var i = 0
        while (i < mapping.length) {
          out(i) = mapping(i) match {
            case -1 => version
            case -2 => fileConst
            case -3 => pos
            case -4 =>
              if (!in.isNullAt(matOrd)) in.getLong(matOrd)
              else ip.baseRowId
                .map(b => java.lang.Long.valueOf(b + pos)).orNull
            case ord => if (in.isNullAt(ord)) null else in.get(ord, types(ord))
          }
          i += 1
        }
        new GenericInternalRow(out)
      }
      override def close(): Unit = inner.close()
    }
  }

  /** Columnar `_commit_version` tagging: the delegate's vectorized
    * batches pass through with the data vectors re-ordered to
    * `required` and a per-partition CONSTANT long vector in the
    * version slot — the tag costs nothing per row, so the COW
    * MERGE/UPDATE rewrite scan (which always needs provenance) keeps
    * vectorized parquet decode. */
  private def versionedColumnar(vp: GraftVersionedPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val inner = plain.get.createColumnarReader(vp.inner)
    val mapping = versionMapping
    val vvec = new org.apache.spark.sql.execution.vectorized
      .ConstantColumnVector(1 << 16, LongType)
    vvec.setLong(vp.version)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = inner.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val in = inner.get()
        val vecs =
          new Array[org.apache.spark.sql.vectorized.ColumnVector](mapping.length)
        var j = 0
        while (j < mapping.length) {
          vecs(j) = if (mapping(j) < 0) vvec else in.column(mapping(j))
          j += 1
        }
        new org.apache.spark.sql.vectorized.ColumnarBatch(vecs, in.numRows())
      }
      override def close(): Unit = inner.close()
    }
  }

  // required-ordinal -> inner-ordinal (-1 = the version slot)
  private def versionMapping: Array[Int] = required.fields.map(f =>
    if (f.name == GraftTableV2.VersionCol) -1
    else innerRequired.fieldIndex(f.name))

  private def tagged(
      inner: PartitionReader[InternalRow], version: Long)
      : PartitionReader[InternalRow] = {
    val mapping = versionMapping
    val types: Array[DataType] = innerRequired.fields.map(_.dataType)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val in = inner.get()
        val out = new Array[Any](mapping.length)
        var i = 0
        while (i < mapping.length) {
          val m = mapping(i)
          out(i) = if (m < 0) version
            else if (in.isNullAt(m)) null
            else in.get(m, types(m))
          i += 1
        }
        new GenericInternalRow(out)
      }
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case kp: GraftKeyedPartition => createReader(kp.inner)
      case ip: GraftIdxPartition => idxRow(ip)
      case vp: GraftVersionedPartition =>
        tagged(plain.get.createReader(vp.inner), vp.version)
      case other => plain.get.createReader(other)
    }
}

/** A feed partition of the streaming CHANGE DATA FEED source: a data
  * partition (plain or idx, as [[GraftBatch.planFiles]] plans it)
  * tagged with its commit version and a CONSTANT change type (pre-state
  * files served as all-deletes, add-files as all-inserts), or a staged
  * change file's partition with no change type — `_change_type` is
  * then the file's own trailing column. */
final case class GraftChangePartition(
    inner: InputPartition, version: Long, changeType: Option[String])
    extends InputPartition

/** Reader factory of the streaming CDF source: every partition emits
  * rows in `required` order with `_commit_version` and `_change_type`
  * filled from the partition's constants (or, for staged change files,
  * `_change_type` read as the inner row's trailing column). Data
  * partitions read through `data` (a [[GraftVersionedReaderFactory]],
  * so a DV applies as on every read), change files through `cdc`. All
  * feed partitions are row-based — the feed's value is attribution,
  * not scan throughput. */
final case class GraftChangeFeedReaderFactory(
    data: PartitionReaderFactory, cdc: PartitionReaderFactory,
    required: StructType, innerRequired: StructType)
    extends PartitionReaderFactory {

  import GraftTableV2.VersionCol

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case cp: GraftChangePartition =>
        val inner =
          if (cp.changeType.isDefined) data.createReader(cp.inner)
          else cdc.createReader(cp.inner)
        // required-ordinal mapping: -1 = version const, -2 = change-type
        // const; the staged-cdc read appends _change_type as the
        // trailing inner column (ordinal innerRequired.length)
        val ctOrdinal = innerRequired.length
        val mapping: Array[Int] = required.fields.map { f =>
          if (f.name == VersionCol) -1
          else if (f.name == graft.medallion.TxLog.ChangeTypeCol)
            if (cp.changeType.isDefined) -2 else ctOrdinal
          else innerRequired.fieldIndex(f.name)
        }
        val types: Array[DataType] =
          innerRequired.fields.map(_.dataType) :+ StringType
        val ctConst = cp.changeType
          .map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
        new PartitionReader[InternalRow] {
          override def next(): Boolean = inner.next()
          override def get(): InternalRow = {
            val in = inner.get()
            val out = new Array[Any](mapping.length)
            var i = 0
            while (i < mapping.length) {
              val m = mapping(i)
              out(i) =
                if (m == -1) cp.version
                else if (m == -2) ctConst
                else if (in.isNullAt(m)) null
                else in.get(m, types(m))
              i += 1
            }
            new GenericInternalRow(out)
          }
          override def close(): Unit = inner.close()
        }
    }
}

/** Version-offset micro-batch stream — the V1 source's exactly-once
  * contract (offsets are table versions, deterministic replay from the
  * immutable log) plus [[SupportsTriggerAvailableNow]].
  *
  * `maxVersionsPerTrigger` caps each micro-batch at that many source
  * commits (admission control): a month-long backfill drains in bounded
  * batches instead of one giant batch whose shuffle/commit state must
  * fit at once — with `Trigger.AvailableNow` the capped batches still
  * stop exactly at the head pinned when the run began. */
final class GraftMicroBatchStream(
    spark: SparkSession, table: GraftTable, dataSchema: StructType,
    required: StructType, dataFilters: Seq[Filter],
    skipRewrites: Boolean, startingVersion: Long,
    maxVersionsPerTrigger: Option[Long] = None,
    changeFeed: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  import GraftTableV2.VersionCol

  private val innerRequired = StructType(
    required.fields.filterNot(f => f.name == VersionCol ||
      (changeFeed && f.name == TxLog.ChangeTypeCol)))

  // Trigger.AvailableNow: the head version pinned at query start — the
  // run drains to exactly here in micro-batches, then stops
  @volatile private var pinnedHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    pinnedHead = Some(table.latestVersion())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = GraftVersionOffset(startingVersion)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = pinnedHead.getOrElse(table.latestVersion())
    val from = start.asInstanceOf[GraftVersionOffset].version
    // saturating step: a huge cap (Long.MaxValue) must clamp to head,
    // not wrap negative and regress the offset
    GraftVersionOffset(
      maxVersionsPerTrigger.fold(head)(n =>
        from + math.min(n, math.max(0L, head - from))))
  }

  override def reportLatestOffset(): Offset =
    GraftVersionOffset(table.latestVersion())

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong) // V1 LongOffset checkpoints replay as-is

  // In CDF mode the declared schema carries the feed's tag columns too,
  // which no DATA file holds — strip them before facing parquet.
  private val dataOnly = StructType(dataSchema.fields.filterNot(f =>
    changeFeed &&
      (f.name == TxLog.ChangeTypeCol || f.name == GraftTableV2.VersionCol)))

  // the micro-batch planner: a batch over the data columns, handed each
  // micro-batch's (file, version) list — so a stream plans and reads
  // its files exactly as a batch scan does, deletion vectors included.
  // The CDF feed tags versions itself, so its data batch reads without.
  private val planner = new GraftBatch(spark, table, dataOnly,
    if (changeFeed) innerRequired else required, dataFilters, () => Nil)

  // ONE reader factory, built on the driver once per stream: it can
  // read every partition any micro-batch plans (the per-batch scans
  // exist only for maxPartitionBytes file packing)
  private lazy val dataFactory = planner.readerFactory(plain = true, idx = true)

  // CDF: staged change files carry the physical data columns PLUS the
  // trailing _change_type string — their own read projection/factory
  private val cdcPhysSchema =
    StructType(planner.physDataSchema.fields :+
      StructField(TxLog.ChangeTypeCol, StringType))
  private val cdcPhysRequired =
    StructType(planner.physRequired.fields :+
      StructField(TxLog.ChangeTypeCol, StringType))
  private lazy val cdcFactory: PartitionReaderFactory =
    org.apache.spark.sql.graft.ParquetScans.readerFactoryFor(
      spark, cdcPhysSchema, cdcPhysRequired, Nil)

  /** CDF mode: each commit in `(from, until]` plans its feed slice —
    * staged change files read as-is (their trailing `_change_type`
    * column rides through), pre-state delete entries and add-file
    * insert entries as constant-tagged data partitions. The same
    * serving rules as [[GraftTable.readChangeFeed]] (ONE classifier —
    * `changeFeedSlice`), so a stream and a batch feed read can never
    * disagree. O(changes per batch), never O(table). */
  private def planChangeFeed(from: Long, until: Long): Array[InputPartition] = {
    ((from + 1) to until).flatMap { v =>
      val slice = table.changeFeedSlice(v)
      (slice.deletes ++ slice.inserts).foreach(a =>
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(table.absoluteDataPath(a))),
          s"graft-table CDF: data file ${a.path} of commit $v was " +
            "vacuumed — the stream is behind the retention window"))
      val cdcParts: Seq[InputPartition] =
        if (slice.cdc.isEmpty) Nil
        else org.apache.spark.sql.graft.ParquetScans.scanFor(
          spark, cdcPhysSchema, slice.cdc.map(_.toString),
          cdcPhysRequired, Nil).toBatch.planInputPartitions().toSeq
          .map(p => GraftChangePartition(p, v, None))
      def tagged(fs: Seq[TxLog.AddFile], ct: String): Seq[InputPartition] =
        planner.planFiles(fs.map(_ -> v))
          .map(p => GraftChangePartition(p, v, Some(ct)))
      cdcParts ++ tagged(slice.deletes, "delete") ++
        tagged(slice.inserts, "insert")
    }.toArray
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftVersionOffset].version
    val until = end.asInstanceOf[GraftVersionOffset].version
    if (changeFeed) return planChangeFeed(from, until)
    // the same contract appendsSince enforces: appends flow, row-neutral
    // rewrites are skipped, attribution-breaking rewrites throw
    table.appendFilesSince(from, skipRewrites, untilVersion = until)
      .flatMap { case (v, adds) => planner.planFiles(adds.map(_ -> v)) }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (changeFeed)
      GraftChangeFeedReaderFactory(dataFactory, cdcFactory, required, innerRequired)
    else dataFactory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftTableV2[${table.tablePath}]${if (changeFeed) "[cdf]" else ""}"
}

/** Offset = table version; JSON is the bare number (LongOffset-compatible). */
final case class GraftVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** The CATALOG's resolved table — the full SQL-DML citizen behind
  * `gcat.ns.table` identifiers:
  *
  * {{{
  *   INSERT INTO gcat.db.t SELECT ...        -- optimistic append commit
  *   INSERT OVERWRITE gcat.db.t SELECT ...   -- CAS overwrite commit
  *   CREATE TABLE gcat.db.t2 AS SELECT ...   -- create + append
  *   ALTER TABLE gcat.db.t ADD COLUMNS (...) -- schema-only commit
  *   SELECT *, _commit_version FROM gcat.db.t
  * }}}
  *
  * Differences from the path-based [[GraftTableV2]] surface, all
  * deliberate:
  *
  *   - `schema()` is the table's DATA schema alone; `_commit_version`
  *     is a DSv2 METADATA column ([[SupportsMetadataColumns]]) — absent
  *     from `SELECT *`, resolved on request, and invisible to write
  *     resolution, which is what lets by-name/by-position `INSERT`
  *     validate against the real columns (the path surface instead
  *     bakes the tag into every read schema, which is why it cannot
  *     accept DSv2 writes).
  *   - Writes go through the sanctioned [[V1Write]] bridge into the
  *     SAME optimistic commits as the programmatic API (`append` /
  *     `overwrite`) — full executor parallelism on the data write, one
  *     put-if-absent commit at the end, nothing driver-materialized.
  *   - Batch-read only: a streaming tail needs the provenance tag IN
  *     its schema (Spark's micro-batch planner builds the scan without
  *     column pruning, so a metadata column a stream references could
  *     not bind by ordinal) — `readStream.format("graft-table")` is the
  *     streaming surface, and says so in its schema.
  *
  * Scan, pushdown, metadata aggregates, DELETE, and TRUNCATE are all
  * inherited — one implementation per behavior. */
final class GraftCatalogTable(
    tablePath: String, dataSchema: StructType,
    timeTravelTo: Option[Long] = None,
    resolvedVersion: Option[Long] = None)
    extends GraftTableV2(
      tablePath,
      // the scan machinery's full schema keeps the version column so a
      // metadata-column reference reaches the provenance read path
      if (dataSchema.fieldNames.contains(GraftTableV2.VersionCol)) dataSchema
      else dataSchema.add(GraftTableV2.VersionCol, LongType, nullable = false),
      skipRewrites = false, startingVersion = 0L, versionAsOf = timeTravelTo,
      pinnedVersion = resolvedVersion)
    with SupportsWrite with SupportsMetadataColumns
    with SupportsRowLevelOperations {

  override def schema(): StructType = dataSchema

  override protected def versionIsSynthetic: Boolean =
    !dataSchema.fieldNames.contains(GraftTableV2.VersionCol)

  override def name(): String = s"graft-table`$tablePath`"

  override def capabilities(): java.util.Set[TableCapability] =
    if (timeTravelTo.isDefined) Set(TableCapability.BATCH_READ).asJava
    else Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE).asJava

  /** Copy-on-write UPDATE / MERGE INTO / arbitrary-predicate DELETE —
    * see [[GraftRowLevelOperation]]. Pinned to this table instance's
    * snapshot: the rewrite's scan and commit agree on the read version,
    * and a concurrent commit in between fails the operation loudly
    * instead of dropping rows. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(timeTravelTo.isEmpty,
      s"graft-table: ${info.command()} on a VERSION AS OF read — history is immutable")
    // Spark's group-based exec only applies its write-side row
    // projection on the preserved-metadata path; without the metadata
    // column the raw plan row (operation code included) would reach
    // the writer — so a shadowed table refuses rather than corrupts
    require(metadataColumns().nonEmpty,
      s"graft-table: row-level ${info.command()} needs the _commit_version " +
        "metadata column, which a data column of the same name shadows " +
        "on this table — rename the data column or use the programmatic API")
    // merge-on-read routing: the per-command mode property elects the
    // DELTA-based operation (matched rows → deletion vectors, post-
    // images → appends) — needing the _file/_pos row-id metadata
    // columns, so a table whose data schema shadows them silently
    // stays copy-on-write (correct either way, COW is never wrong)
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val modeProp = info.command() match {
      case Command.UPDATE => TxLog.UpdateModeProp
      case Command.MERGE => TxLog.MergeModeProp
      case _ => TxLog.DeleteModeProp
    }
    val mor =
      Option(properties().get(modeProp)).contains(TxLog.DeleteModeMor) &&
        metadataColumns().exists(_.name == GraftTableV2.FileCol)
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (mor)
          new GraftDeltaRowLevelOperation(
            tablePath, dataSchema, info.command(), snapVersion)
        else
          new GraftRowLevelOperation(
            tablePath, dataSchema, info.command(), snapVersion)
    }
  }

  /** Hidden when the data schema already claims the name (a silver
    * table that persisted a stream's provenance tag as real data must
    * keep reading its own column). `_file`/`_pos` ride along only with
    * `_commit_version` unshadowed — the row-level machinery requires
    * the full metadata set or none (see newRowLevelOperationBuilder). */
  override def metadataColumns(): Array[MetadataColumn] =
    if (dataSchema.fieldNames.contains(GraftTableV2.VersionCol)) Array.empty
    else Array[MetadataColumn](GraftCatalogTable.CommitVersionColumn) ++
      (if (dataSchema.fieldNames.contains(GraftTableV2.FileCol) ||
           dataSchema.fieldNames.contains(GraftTableV2.PosCol)) Array.empty[MetadataColumn]
       else Array[MetadataColumn](
         GraftCatalogTable.FileColumn, GraftCatalogTable.PosColumn)) ++
      (if (dataSchema.fieldNames.contains(GraftTableV2.RowIdCol))
         Array.empty[MetadataColumn]
       else Array[MetadataColumn](GraftCatalogTable.RowIdColumn))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(timeTravelTo.isEmpty,
      "graft-table: cannot write to a VERSION AS OF read — history is immutable")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

        /** Native write distribution (the Iceberg write-distribution
          * design): under a `partition.spec`, ask Spark to range-
          * distribute and sort incoming rows by the transforms' SOURCE
          * columns, in spec order. Plain column references — monotone
          * transforms cluster identically whether ordered by the raw
          * column or its transform, and even `bucket` sources gain
          * tight per-file min/max on the raw column — so resolution
          * needs no FunctionCatalog and path-based writes work. This
          * is what aligns the STREAMING table sink's staged files with
          * the spec (its epochs adopt Spark's task output verbatim);
          * the batch V1 path re-clusters inside `append` either way.
          * Spec-less tables request nothing (empty ordering =
          * unspecified distribution — plans unchanged). */
        // ONE head resolution per Write instance: Spark consults
        // requiredDistribution/requiredOrdering and the streaming
        // builder several times while planning a single write — the
        // log replay must not repeat per call
        private lazy val headSnap: Option[TxLog.Snapshot] = {
          val t = new GraftTable(tablePath)
          if (t.latestVersion() == 0L) None else Some(t.snapshot())
        }
        private def specSources: Array[String] = {
          if (headSnap.isEmpty) Array.empty
          else {
            val snap = headSnap.get
            snap.props.get(graft.medallion.PartitionSpec.Prop).toArray
              .flatMap(spec => graft.medallion.PartitionSpec.parse(spec)
                .flatMap { tr =>
                  // the ordering references the INPUT query's columns —
                  // logical names; resolve the spec's (possibly stale,
                  // bloom-style lenient) source through the physical
                  // plane back to the current logical field
                  val phys = TxLog.physicalOf(snap.schema, tr.source)
                  snap.schema.fields
                    .find(f => TxLog.physicalName(f) == phys).map(_.name)
                })
              .filter(info.schema().fieldNames.contains)
              .distinct
          }
        }

        /** `write.orderBy` resolved to the LOGICAL columns this write
          * carries — appended to the ordering (a task-local sort), NOT
          * to the distribution: ordering a table must never add a
          * shuffle to its writes. The effective per-task sort is then
          * (specSources ++ orderCols).distinct, and every tuple-rolled
          * file is a sorted SUBSEQUENCE of it — what the streaming
          * commit stamps. */
        private def orderCols: Array[String] =
          headSnap.map(snap => TxLog.writeOrderDeclared(snap)
            .takeWhile(c => info.schema().fieldNames.contains(c)).toArray)
            .getOrElse(Array.empty)

        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution = {
          // distribution stays SPEC-derived: range-clustering serves the
          // transforms' file pruning; `write.orderBy` alone must not
          // repartition anything
          val specSorts = specSources.map(src => Expressions.sort(
            Expressions.column(src),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
          if (specSorts.isEmpty)
            org.apache.spark.sql.connector.distributions.Distributions.unspecified()
          else
            org.apache.spark.sql.connector.distributions.Distributions.ordered(specSorts)
        }

        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          // `write.orderBy` LEADS when present: every tuple-rolled file
          // is then a subsequence sorted by the declared order alone
          // (ties broken by the spec sources), so streaming epochs can
          // stamp EXACTLY what the batch staging path stamps for ANY
          // spec shape — one marker vocabulary across batch, streaming
          // and DML planes, no mixed-stamp histories. The leading order
          // column also tightens per-file min/max on itself for free.
          // Without a declared order the spec sources keep their
          // original file-range-tightening sort.
          (if (orderCols.isEmpty) specSources
           else (orderCols ++ specSources).distinct)
            .map(src => Expressions.sort(
              Expressions.column(src),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))

        // advisory, not strict: a spec-less table or a tiny batch must
        // not fail planning over distribution; AQE may still coalesce
        override def distributionStrictlyRequired(): Boolean = false
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: Dataset[Row], ignored: Boolean): Unit = {
              val t = new GraftTable(tablePath)
              if (overwrite) t.overwrite(data.toDF(), -1L, nullsOmitted = true)
              else t.append(data.toDF(), mergeSchema = false, maxRetries = 20,
                txn = None, nullsOmitted = true)
              ()
            }
          }

        /** `df.writeStream.toTable("cat.db.t")`: the exactly-once table
          * sink on the DSv2 plane — executors write parquet into the
          * table root through its one writer, each epoch commits through the
          * txn ledger keyed by the streaming queryId, so a
          * crash-replayed epoch is a no-op (the same contract as
          * `writeStream.format("graft-table")`, without the option
          * plumbing). */
        override def toStreaming: streaming_write.StreamingWrite = {
          require(!overwrite,
            "graft-table streaming writes are append-only — Complete/" +
              "Update output modes would overwrite history every epoch")
          // refuse before any epoch writes a file into the table root
          headSnap.foreach(new GraftTable(tablePath).refuseEngineAssigned(_, info.schema()))
          // stamp epochs ONLY under write.orderBy (spec-only sorts
          // would stamp streaming files while batch appends stay
          // unstamped — a mixed history that disables the report). The
          // stamp is the DECLARED order alone: the task stream is
          // sorted (orderCols ++ sources), and every tuple-rolled
          // file's subsequence is therefore sorted by orderCols — the
          // same list the batch path stamps.
          new GraftStreamingTableWrite(tablePath, info.schema(), info.queryId(),
            sortedBy = orderCols.toSeq)
        }
      }
    }
  }
}

/** The exactly-once streaming table write behind `writeStream.toTable`.
  * Epochs write UUID-named parquet files into the table root;
  * `commit(epoch)` hands exactly the winning messages' files to the one
  * append commit ([[GraftTable.appendStaged]]) under the (queryId,
  * epoch) txn entry — replayed or racing epochs no-op through the
  * ledger, same as [[TableSink]]; identity and omitted generated
  * columns refuse. Files no commit takes are orphans for vacuum. */
private final class GraftStreamingTableWrite(
    tablePath: String, writeSchema: StructType, queryId: String,
    sortedBy: Seq[String] = Nil)
    extends streaming_write.StreamingWrite {

  /** The query's logical schema re-dressed with the TABLE's mapping
    * metadata (info.schema() is resolution output — it never carries
    * it): staged bytes must use the table's physical names. Resolved
    * ONCE per write object so the writer factory and the commit agree
    * on the physical names even if a rename races the epoch (the
    * commit-side drift check in the append body then decides). */
  private lazy val tableSchema: StructType = {
    val t = new GraftTable(tablePath).snapshot(-1L).schema
    if (!TxLog.isMapped(t)) writeSchema
    else StructType(writeSchema.fields.map(f =>
      t.fields.find(_.name == f.name).map(tf => f.copy(metadata = tf.metadata))
        .getOrElse(f)))
  }

  /** Per epoch: the split key and file stats resolve from the head the
    * epoch writes over. */
  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : streaming_write.StreamingDataWriterFactory =
    TxLog.writerFactory(
      SparkSession.active, Some(new GraftTable(tablePath).snapshot()),
      TxLog.physicalSchema(tableSchema), tablePath)

  override def commit(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    new GraftTable(tablePath).appendStaged(
      SparkSession.active, tableSchema,
      org.apache.spark.sql.graft.ParquetWrites.filesOf(messages.toSeq),
      // physical names: written bytes carry the table's mapping
      sortedBy.map(c => TxLog.physicalOf(tableSchema, c)),
      s"graft-stream-$queryId" -> epochId)
    ()
  }

  override def abort(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
}

object GraftCatalogTable {
  private object CommitVersionColumn extends MetadataColumn {
    override def name(): String = GraftTableV2.VersionCol
    override def dataType: DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "version of the commit that added each row (from the transaction log)"
    // left preserved (the default) through row-level operations: Spark
    // reads it alongside the data and hands it to the writer's
    // writeWithMetadata, whose default DISCARDS it — so replaced rows
    // mint a fresh commit version from the log, as they must. (The
    // preserved-metadata path is also the only one where Spark 4.1's
    // ReplaceDataExec applies its row projection — with no metadata
    // columns the raw plan row, operation code included, would reach
    // the writer.)
  }

  /** Row-position metadata columns (see [[GraftTableV2.FileCol]]):
    * selecting either routes the scan through positional partitions —
    * exact physical row indexes, the deletion vectors' addressing
    * domain. */
  private object FileColumn extends MetadataColumn {
    override def name(): String = GraftTableV2.FileCol
    override def dataType: DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "source data file name of each row"
  }

  private object PosColumn extends MetadataColumn {
    override def name(): String = GraftTableV2.PosCol
    override def dataType: DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "physical row index of each row within its source file"
  }

  /** Row-tracking id (see [[GraftTableV2.RowIdCol]]): nullable — files
    * written before tracking (or by a not-yet-preserving path) read as
    * null, never as a wrong id. PRESERVED through row-level operations
    * (the default): Spark reads it alongside the data and hands it to
    * the writer's writeWithMetadata, which materializes it into the
    * replacement files when the table tracks rows. */
  private[streaming] object RowIdColumn extends MetadataColumn {
    override def name(): String = GraftTableV2.RowIdCol
    override def dataType: DataType = LongType
    override def isNullable: Boolean = true
    override def comment(): String =
      "stable row id (row tracking): survives compaction and rewrites"
  }
}

object GraftTableV2 {

  /** Storage-partitioned-join eligibility + grouping for a file set:
    * when the snapshot's partition spec is entirely SPJ-expressible
    * (`bucket`, tz-free `days`/`hours`) and EVERY file is
    * single-valued on the full transform tuple (what the
    * bucket-splitting staged writer produces), returns the catalog's
    * V2 transform expressions plus the files grouped by tuple value —
    * the `KeyGroupedPartitioning` report. Shared by the plain scan
    * (compile-time frozen set) and the row-level operation scan
    * (re-grouped after runtime group filtering, so a MERGE keeps BOTH
    * its matching-groups pruning and its zero-exchange rewrite join:
    * the post-filter keys are a subset of the reported ones, which
    * Spark reconciles via pushed partition values). Any disqualifier
    * returns None and the caller degrades to normal planning. */
  private[streaming] def keyedGroupsFor(
      snap: TxLog.Snapshot, files: Seq[(TxLog.AddFile, Long)])
      : Option[(Seq[org.apache.spark.sql.connector.expressions.Transform],
                Seq[(Seq[Int], Seq[(TxLog.AddFile, Long)])])] = {
    val phys = TxLog.physicalSchema(snap.schema)
    val transforms =
      graft.medallion.PartitionSpec.resolved(snap.props, snap.schema, phys)
    val logicalOf: Map[String, String] =
      snap.schema.fields.map(f => TxLog.physicalName(f) -> f.name).toMap
    val supported = transforms.nonEmpty &&
      transforms.forall(t => Set("bucket", "days", "hours")(t.kind) &&
        logicalOf.contains(t.source))
    if (!supported) None
    else {
      // a file's key tuple: its per-transform stats, iff every one
      // is single-valued (min == max, no straddle) and integral
      def keyOf(a: TxLog.AddFile): Option[Seq[Int]] = {
        val sig = graft.medallion.PartitionSpec.tupleSignature(a)
        val vals = transforms.map(t =>
          sig.getOrElse(t.statKey, None).flatMap(_.toIntOption))
        if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
      }
      // DV'd files stay ELIGIBLE: the batch plans their tuples as
      // composite row partitions that skip bitmap positions per
      // file — merge-on-read tables keep their zero-exchange joins
      val eligible = files.nonEmpty &&
        files.forall { case (a, _) => keyOf(a).isDefined }
      if (!eligible) None
      else {
        val exprs = transforms.map { t =>
          val c = logicalOf(t.source)
          t.kind match {
            case "bucket" => Expressions.bucket(t.arg, c)
            case "days" => Expressions.days(c)
            case _ => Expressions.hours(c)
          }
        }
        import scala.math.Ordering.Implicits.seqOrdering
        Some((exprs,
          files.groupBy { case (a, _) => keyOf(a).get }.toSeq.sortBy(_._1)))
      }
    }
  }

  /** The file-local sort a set of files commonly carries, as the
    * LOGICAL column prefix that survives `required`'s column pruning —
    * Nil unless EVERY file is stamped with an identical [[TxLog.SortedKey]]
    * marker (mixed stamped/unstamped or differently-sorted histories
    * degrade honestly). Shared by the plain scan and the row-level
    * operation scan; callers gate on their keyed report (only keyed
    * partitions are one-file-per-partition — the delegated parquet
    * batch BINS files, which breaks local order). */
  private[streaming] def sortedPrefixFor(
      snap: TxLog.Snapshot, files: Seq[(TxLog.AddFile, Long)],
      required: StructType): Seq[String] = {
    // every file must carry a SINGLE-VALUED marker (min == max), and
    // all markers must agree — a malformed marker (min != max) is as
    // disqualifying as a missing one, never skipped over
    val specs = files.map(_._1.stats.get(TxLog.SortedKey).collect {
      case cs if cs.min == cs.max => cs.min })
    if (files.isEmpty || specs.exists(_.isEmpty) ||
        specs.flatten.distinct.size != 1) Nil
    else {
      val logicalOf = snap.schema.fields
        .map(f => TxLog.physicalName(f) -> f.name).toMap
      specs.flatten.head.split(",").toSeq
        .map(p => logicalOf.get(p).filter(required.fieldNames.contains))
        .takeWhile(_.isDefined).flatten
    }
  }

  /** The provenance column every graft-table read carries. */
  val VersionCol = "_commit_version"

  /** Row-position metadata columns (the Iceberg `_file` / `_pos`
    * shape): source file name and PHYSICAL row index within it — the
    * addressing domain of the deletion vectors, and the row id the
    * merge-on-read row-level operations key their delta writes by.
    * Serving them routes every file through the positional (generated
    * row index) partitions, so they cost nothing unless selected. */
  val FileCol = "_file"
  val PosCol = "_pos"

  /** Row-tracking metadata column: each row's STABLE 64-bit id —
    * materialized [[graft.medallion.TxLog.RowIdPhysCol]] column when
    * the file carries one (rewrites under the `rowTracking` property),
    * else the file's baseRowId + physical row index, else null
    * (pre-tracking file). Serving it rides the positional machinery,
    * so it costs nothing unless selected. */
  val RowIdCol = "_row_id"

  /** The entry of every programmatic read and rewrite of a
    * [[GraftTable]]: a DataFrame over exactly `snap.files` — each with
    * its deletion vector and `snap.addedIn` version — at `snap.schema`,
    * planned by this scan without resolving the log again. Columns are
    * the schema's LOGICAL names (nullable, as a file scan's are),
    * followed by the synthetic `columns` the caller selects from
    * `_commit_version`, `_row_id`, `_file` and `_pos`. An empty list
    * gives an empty frame of that shape. */
  private[graft] def frame(
      spark: SparkSession, table: GraftTable, snap: TxLog.Snapshot,
      columns: Seq[String] = Nil): DataFrame = {
    require(!columns.exists(snap.schema.fieldNames.contains),
      s"graft-table: ${columns.mkString(", ")} would shadow a data column")
    val extra = columns.map {
      case VersionCol => StructField(VersionCol, LongType, nullable = false)
      case FileCol => StructField(FileCol, StringType, nullable = false)
      case PosCol => StructField(PosCol, LongType, nullable = false)
      case RowIdCol => StructField(RowIdCol, LongType, nullable = true)
      case other => throw new IllegalArgumentException(
        s"graft-table: '$other' is not a synthetic column")
    }
    if (snap.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(snap.schema.fields ++ extra))
    else org.apache.spark.sql.graft.ParquetScans.relationFrame(spark,
      new GraftTableV2(table.tablePath, snap.schema, skipRewrites = false,
        startingVersion = 0L, pinnedVersion = Some(snap.version),
        files = Some(snap)),
      snap.schema, extra)
  }

  /** The read schema: committed columns + `_commit_version`, resolved
    * at `versionAsOf` when time-traveling (the THEN-current schema).
    *
    * A table with NO commits yields a placeholder schema instead of
    * throwing: Spark probes `inferSchema` on the WRITE path too (to
    * decide V2-vs-V1 write routing), where the table legitimately does
    * not exist yet. Reads of a missing table still fail loudly — at
    * scan building ([[GraftTableV2.newScanBuilder]]), the first point
    * that is unambiguously a read. */
  private[graft] def readSchemaOf(
      tablePath: String, versionAsOf: Option[Long] = None): StructType = {
    val t = new GraftTable(tablePath)
    if (t.latestVersion() == 0L) new StructType().add(VersionCol, LongType, nullable = false)
    else t.snapshot(versionAsOf.getOrElse(-1L)).schema
      .add(VersionCol, LongType, nullable = false)
  }

  /** The parquet-facing shape of a projection on a column-mapped table:
    * `required`'s fields renamed to the physical names `tableSchema`
    * declares (order untouched — DSv2 rows are positional, so renaming
    * is free). Identity on unmapped tables. */
  private[streaming] def physicalProjection(
      tableSchema: StructType, required: StructType): StructType =
    if (!TxLog.isMapped(tableSchema)) required
    else StructType(required.fields.map(f =>
      f.copy(name = TxLog.physicalOf(tableSchema, f.name))))

  /** Rewrite a pushed filter's attribute names logical→physical for the
    * delegated parquet reader. A shape this translator doesn't know is
    * DROPPED on mapped tables — sound, because every pushed filter here
    * is residual (Spark re-applies all row predicates); the cost is
    * only lost row-group pruning on that one filter. */
  private[streaming] def physicalFilters(
      tableSchema: StructType, filters: Seq[Filter]): Seq[Filter] =
    if (!TxLog.isMapped(tableSchema)) filters
    else {
      import org.apache.spark.sql.sources._
      def m(c: String): String = TxLog.physicalOf(tableSchema, c)
      def tr(f: Filter): Option[Filter] = f match {
        case EqualTo(c, v) => Some(EqualTo(m(c), v))
        case EqualNullSafe(c, v) => Some(EqualNullSafe(m(c), v))
        case GreaterThan(c, v) => Some(GreaterThan(m(c), v))
        case GreaterThanOrEqual(c, v) => Some(GreaterThanOrEqual(m(c), v))
        case LessThan(c, v) => Some(LessThan(m(c), v))
        case LessThanOrEqual(c, v) => Some(LessThanOrEqual(m(c), v))
        case In(c, vs) => Some(In(m(c), vs))
        case IsNull(c) => Some(IsNull(m(c)))
        case IsNotNull(c) => Some(IsNotNull(m(c)))
        case StringStartsWith(c, v) => Some(StringStartsWith(m(c), v))
        case StringEndsWith(c, v) => Some(StringEndsWith(m(c), v))
        case StringContains(c, v) => Some(StringContains(m(c), v))
        case Not(child) => tr(child).map(Not)
        case And(l, r) => (tr(l), tr(r)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          // AND may keep the half it can translate (conjuncts prune
          // independently); OR below may not
          case (a, b) => a.orElse(b)
        }
        case Or(l, r) => for { a <- tr(l); b <- tr(r) } yield Or(a, b)
        case _: AlwaysTrue => Some(f)
        case _: AlwaysFalse => Some(f)
        case _ => None
      }
      filters.flatMap(tr)
    }

  /** Per-column [lo, hi] bounds derivable from a pushed filter — only
    * shapes the inclusive stats domain can serve conservatively.
    * `IsNull`/`In`/`Or`/string prefixes etc. simply don't prune. */
  private[graft] def bounds(f: Filter): Seq[(String, Option[Any], Option[Any])] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Seq((a, Some(v), Some(v)))
      case GreaterThan(a, v) => Seq((a, Some(v), None))
      case GreaterThanOrEqual(a, v) => Seq((a, Some(v), None))
      case LessThan(a, v) => Seq((a, None, Some(v)))
      case LessThanOrEqual(a, v) => Seq((a, None, Some(v)))
      case And(l, r) => bounds(l) ++ bounds(r)
      case _ => Seq.empty
    }
  }

  /** Exclusive-bound-aware long coercion for `_commit_version` pruning.
    * Bounds come from [[bounds]], which is inclusive-only, so plain
    * numeric coercion is enough; non-numeric values never prune. */
  private[streaming] def asLong(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue()
    case other => other.toString.toLong
  }

  /** Resolve an unfiltered COUNT(*)/COUNT(col)/MIN/MAX aggregation —
    * optionally GROUP BY'd — purely from the commit log, or None if any
    * part is ineligible.
    *
    * Soundness:
    *   - only with NO pushed filters (any filter means rows must
    *     actually be read);
    *   - COUNT(*) = Σ per-file row counts (exact by construction);
    *   - COUNT(col) = Σ per-file (rows − nulls); needs the per-file
    *     null count, so files from before null counting make a column
    *     ineligible. A stats-less file contributes 0 — provably
    *     all-null — but ONLY for types the writer always stats
    *     (numeric/string/date/timestamp) and never for float/double
    *     (missing stats there can mean NaN/Infinity, which COUNT
    *     counts);
    *   - MIN/MAX(col) folds per-file min/max stats. A stats-less file
    *     holds only nulls and SQL MIN/MAX ignores nulls — again EXCEPT
    *     float/double, where a stats-less file is disqualifying;
    *   - MIN/MAX on timestamps is ineligible (their stats are truncated
    *     to epoch millis — not exact), but COUNT(timestamp) is fine
    *     (null counts don't truncate);
    *   - GROUP BY col needs every live file provably SINGLE-VALUED on
    *     that column: `min == max && nulls == 0`, or a stats-less file
    *     of a non-float always-stat'd type (wholly null ⇒ the whole
    *     file belongs to the NULL group). This is exactly the layout a
    *     date/tenant-partitioned ingest produces, so the common
    *     `GROUP BY dt` dashboard query over a 100 TB table resolves on
    *     the driver without touching a data file;
    *   - `_commit_version` works everywhere (COUNT/MIN/MAX/GROUP BY):
    *     the provenance map makes every file single-valued on it.
    */
  private[streaming] def metadataAggregate(
      snapAll: => TxLog.Snapshot, fullSchema: StructType,
      filters: Array[Filter], agg: Aggregation,
      syntheticVersion: Boolean = true): Option[(StructType, Seq[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (filters.nonEmpty) return None
    // deletion vectors: a fully-DV'd file contributes no rows (and must
    // not manufacture an empty group), so it drops here; partially-DV'd
    // files keep COUNT(*) exact through effectiveRows, but their
    // min/max/null-count stats describe rows that may no longer exist —
    // every other aggregate shape falls back to a real scan
    val snap = snapAll.copy(files = snapAll.files.filter(_.effectiveRows > 0))
    val dvFree = snap.files.forall(_.dvRows == 0L)
    type Files = Seq[TxLog.AddFile]

    // is this name the synthetic provenance tag (vs a real data column
    // that happens to share it)?
    def isVersion(c: String): Boolean = syntheticVersion && c == VersionCol

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    // stats are keyed by PHYSICAL column names (column-mapped tables)
    def st(a: TxLog.AddFile, c: String): Option[TxLog.ColStats] =
      a.stats.get(TxLog.physicalOf(fullSchema, c))
    def fieldType(c: String): Option[DataType] =
      if (isVersion(c)) Some(LongType)
      else fullSchema.fields.find(_.name == c).map(_.dataType)
    def floaty(dt: DataType) = dt == DoubleType || dt == FloatType
    // types the writer ALWAYS stats when any non-null value exists —
    // for these, a stats-less file is provably all-null (mod floats)
    def alwaysStatted(dt: DataType) = dt match {
      case _: NumericType | StringType | DateType | TimestampType => true
      case _ => false
    }
    def fileVersion(a: TxLog.AddFile): Long = snap.addedIn.getOrElse(a.path, snap.version)

    // MIN/MAX eligibility is global (across ALL live files), not
    // per-group — simpler to reason about, conservatively stricter
    def minMaxEligible(c: String): Option[DataType] = {
      if (isVersion(c)) return Some(LongType)
      if (!dvFree) return None // a deleted row may have held the min/max
      val dt = fieldType(c).getOrElse(return None)
      dt match {
        case ByteType | ShortType | IntegerType | LongType | FloatType
            | DoubleType | StringType | DateType | _: DecimalType => ()
        case _ => return None // incl. timestamps: stats truncated to millis
      }
      // NaN/Inf indistinguishable from all-null when stats are missing
      if (floaty(dt) && snap.files.exists(a => st(a, c).isEmpty)) None else Some(dt)
    }
    def foldMinMax(files: Files, c: String, dt: DataType, wantMin: Boolean): Any = {
      if (isVersion(c)) {
        val vs = files.map(fileVersion)
        return if (vs.isEmpty) null else if (wantMin) vs.min else vs.max
      }
      val present = files.flatMap(a => st(a, c))
      if (present.isEmpty) return null // all nulls -> SQL MIN/MAX = null
      val isNum = present.head.kind == "num"
      val picked = present.map(cs => if (wantMin) cs.min else cs.max)
        .reduce { (a, b) =>
          // strings fold in UTF-8 BYTE order — what Spark's own MIN/MAX
          // would compute over the rows (String.compareTo inverts
          // supplementary-char pairs and would return a WRONG answer)
          val cmp = if (isNum) BigDecimal(a).compare(BigDecimal(b))
            else TxLog.utf8Cmp(a, b)
          if ((cmp <= 0) == wantMin) a else b
        }
      statsValue(picked, dt)
    }
    def countEligible(c: String): Boolean = {
      if (isVersion(c)) return true // never null, count = rows
      if (!dvFree) return false // deleted rows' null counts are unknown
      val dt = fieldType(c).getOrElse(return false)
      if (!alwaysStatted(dt)) return false // boolean/binary/…: absence proves nothing
      snap.files.forall(a => st(a, c) match {
        case Some(cs) => cs.nulls.isDefined // pre-null-count file: unknown
        case None => !floaty(dt) // provably all-null, contributes 0
      })
    }
    def foldCount(files: Files, c: String): Any =
      if (isVersion(c)) files.map(_.effectiveRows).sum
      else files.map(a => st(a, c).fold(0L)(cs => a.rows - cs.nulls.get)).sum

    // SUM(col): exact per-file sums from the opt-in `sum.columns` stats
    // (integral types, decimal-exact, order-independent). Eligible only
    // DV-free and when EVERY file carries the sum (a stats-less file of
    // an always-stat'd integral type is provably all-null — contributes
    // nothing; SQL SUM ignores nulls). The folded value must fit LONG
    // (Spark's sum-over-integral result type) or the scan falls back.
    def sumEligible(c: String): Boolean = {
      if (isVersion(c) || !dvFree) return false
      val dt = fieldType(c).getOrElse(return false)
      val integral = dt == ByteType || dt == ShortType ||
        dt == IntegerType || dt == LongType
      integral && snap.files.forall(a => st(a, c) match {
        case Some(cs) => cs.sum.isDefined
        case None => true // provably all-null for integral (always statted)
      })
    }
    def foldSum(files: Files, c: String): Option[Any] = {
      val present = files.flatMap(a => st(a, c).flatMap(_.sum))
      if (present.isEmpty) return Some(null) // SUM over all-null = null
      val total = present.map(BigInt(_)).sum
      if (total.isValidLong) Some(total.toLong) else None // overflow: real scan
    }

    // ----- group columns: every live file must carry exactly one
    // group-key value (single-valued or wholly null)
    val groupColsOpt = agg.groupByExpressions.toSeq.map(colOf)
    if (groupColsOpt.exists(_.isEmpty)) return None
    val groupCols = groupColsOpt.flatten
    def groupValue(a: TxLog.AddFile, c: String): Option[Any] = {
      if (isVersion(c)) return Some(fileVersion(a))
      val dt = fieldType(c).getOrElse(return None)
      st(a, c) match {
        case Some(cs) if minMaxEligible(c).isDefined && cs.singleValued =>
          Some(statsValue(cs.min, dt))
        case None if alwaysStatted(dt) && !floaty(dt) => Some(null) // the NULL group
        case _ => None // multi-valued, nulls present/unknown, or possible NaN
      }
    }

    // ----- resolve each aggregate to (name, type, nullable, fold fn)
    val aggCols: Seq[Option[(String, DataType, Boolean, Files => Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some(("count(*)", LongType, false,
            (fs: Files) => fs.map(_.effectiveRows).sum: Any))
        case cnt: Count if !cnt.isDistinct => colOf(cnt.column).filter(countEligible)
          .map(c => (s"count($c)", LongType, false, (fs: Files) => foldCount(fs, c)))
        case m: Min => colOf(m.column).flatMap(c => minMaxEligible(c).map(dt =>
          (s"min($c)", dt, true, (fs: Files) => foldMinMax(fs, c, dt, wantMin = true))))
        case m: Max => colOf(m.column).flatMap(c => minMaxEligible(c).map(dt =>
          (s"max($c)", dt, true, (fs: Files) => foldMinMax(fs, c, dt, wantMin = false))))
        case sm: Sum if !sm.isDistinct =>
          colOf(sm.column).filter(sumEligible).flatMap { c =>
            // resolve eagerly so an overflow disqualifies the WHOLE
            // pushdown (partial answers cannot mix with a real scan);
            // per-group folds below re-fold the same per-file strings
            val groups: Seq[Files] =
              if (groupCols.isEmpty) Seq(snap.files)
              else snap.files.groupBy(a =>
                groupCols.map(gc => groupValue(a, gc))).values.toSeq
            if (groups.exists(g => foldSum(g, c).isEmpty)) None
            else Some((s"sum($c)", LongType, true,
              (fs: Files) => foldSum(fs, c).orNull))
          }
        case _ => None
      }
    if (aggCols.exists(_.isEmpty)) return None
    val resolved = aggCols.flatten

    // Spark's complete-pushdown contract: scan output = group columns
    // (in GROUP BY order) followed by the aggregate columns
    val schema = StructType(
      groupCols.map(c => StructField(c, fieldType(c).get, nullable = true)) ++
        resolved.map { case (n, dt, nullable, _) => StructField(n, dt, nullable) })

    val grouped: Seq[(Seq[Any], Files)] =
      if (groupCols.isEmpty) Seq((Seq.empty, snap.files))
      else {
        val keyed = snap.files.map { a =>
          val ks = groupCols.map(c => groupValue(a, c))
          if (ks.exists(_.isEmpty)) return None
          (ks.map(_.get), a)
        }
        // deterministic group order (the driver compare sorts anyway)
        keyed.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
          .sortBy(_._1.map(String.valueOf(_)).mkString("\u0000"))
      }
    val rows = grouped.map { case (key, files) =>
      new GenericInternalRow((key ++ resolved.map(_._4(files))).toArray): InternalRow
    }
    Some((schema, rows))
  }

  /** Reconstruct a typed value from its stats string — the inverse of
    * the log's `statsLiteral` for the exactly-representable types. */
  private def statsValue(s: String, dt: DataType): Any = dt match {
    case LongType => BigDecimal(s).toLongExact
    case IntegerType => BigDecimal(s).toIntExact
    case ShortType => BigDecimal(s).toShortExact
    case ByteType => BigDecimal(s).toByteExact
    case DoubleType => s.toDouble // doubles round-trip toString exactly
    case FloatType => s.toFloat
    case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case DateType => BigDecimal(s).toIntExact // stored as epoch days
    case d: DecimalType =>
      org.apache.spark.sql.types.Decimal(BigDecimal(s), d.precision, d.scale)
    case other => throw new IllegalStateException(
      s"statsValue on unsupported type $other — eligibility must gate this")
  }

  /** Whether the row at generated row index `idx` survives deletion
    * vector `dv` — the one test every DV'd read applies. Indexes past
    * Int.MaxValue can never be in a DV (the build guard refuses them). */
  private[streaming] def survives(
      dv: org.roaringbitmap.RoaringBitmap, idx: Long): Boolean =
    idx > Int.MaxValue.toLong || !dv.contains(idx.toInt)

  /** EXACT translation of DELETE predicates into the table's range
    * shape — the opposite discipline from [[bounds]]: pruning may
    * widen conservatively, a DELETE may not deviate by one row.
    * Returns Some(None) for an unconditional delete (truncate),
    * Some(Some((col, lo, hi))) for a single-column inclusive range,
    * None when the filters cannot be represented exactly (strict
    * inequality, IS NULL, OR, a second column, conflicting bounds). */
  private[graft] def deleteRange(filters: Array[Filter])
      : Option[Option[(String, Option[Any], Option[Any])]] = {
    import org.apache.spark.sql.sources.{AlwaysTrue, And, EqualTo, GreaterThanOrEqual, LessThanOrEqual}
    def flatten(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flatten(l) ++ flatten(r)
      case other => Seq(other)
    }
    val leaves = filters.toSeq.flatMap(flatten).filterNot(_.isInstanceOf[AlwaysTrue])
    if (leaves.isEmpty) return Some(None)
    var colName: Option[String] = None
    var lo: Option[Any] = None
    var hi: Option[Any] = None
    def setCol(c: String): Boolean =
      if (colName.forall(_ == c)) { colName = Some(c); true } else false
    val ok = leaves.forall {
      case EqualTo(c, v) if v != null =>
        setCol(c) && lo.isEmpty && hi.isEmpty && { lo = Some(v); hi = Some(v); true }
      case GreaterThanOrEqual(c, v) if v != null =>
        setCol(c) && lo.isEmpty && { lo = Some(v); true }
      case LessThanOrEqual(c, v) if v != null =>
        setCol(c) && hi.isEmpty && { hi = Some(v); true }
      case _ => false
    }
    if (ok) Some(Some((colName.get, lo, hi))) else None
  }

  /** EXACT rendering of V1 DELETE filters as ONE Spark SQL boolean
    * expression — what routes an arbitrary-predicate `DELETE FROM` on a
    * `delete.mode = merge-on-read` table into
    * [[graft.medallion.GraftTable.deleteRows]]. Same discipline as
    * [[deleteRange]]: a shape that cannot be reproduced row-exactly
    * returns None (the statement then falls back to the copy-on-write
    * row-level rewrite — never a wrong delete). Values render as typed
    * literals (doubles/floats through CAST of their round-trippable
    * toString; strings with both backslash and quote escaped). */
  private[graft] def filtersToSql(filters: Array[Filter]): Option[String] = {
    import org.apache.spark.sql.sources._
    def colRef(c: String): Option[String] =
      // V1 references join nested paths with '.' ambiguously — only
      // plain top-level names translate
      if (c.contains(".") || c.contains("`")) None else Some(s"`$c`")
    def litSql(v: Any): Option[String] = v match {
      case null => None
      case s: String =>
        Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
      case s: org.apache.spark.unsafe.types.UTF8String => litSql(s.toString)
      case b: java.lang.Boolean => Some(b.toString)
      case b: java.lang.Byte => Some(s"${b}Y")
      case s: java.lang.Short => Some(s"${s}S")
      case i: java.lang.Integer => Some(i.toString)
      case l: java.lang.Long => Some(s"${l}L")
      case f: java.lang.Float => Some(s"CAST('${f.toString}' AS FLOAT)")
      case d: java.lang.Double => Some(s"CAST('${d.toString}' AS DOUBLE)")
      case d: java.math.BigDecimal => Some(s"CAST('${d.toPlainString}' AS DECIMAL(${d.precision},${d.scale}))")
      case d: BigDecimal => litSql(d.underlying)
      case d: java.sql.Date => Some(s"DATE'${d.toString}'")
      case d: java.time.LocalDate => Some(s"DATE'${d.toString}'")
      // timestamp literals resolve in the session zone — the same zone
      // Spark used to bind the filter value, so the round trip is exact
      case t: java.sql.Timestamp => Some(s"TIMESTAMP'${t.toString}'")
      case t: java.time.Instant =>
        litSql(java.sql.Timestamp.from(t))
      case _ => None
    }
    def render(f: Filter): Option[String] = f match {
      case EqualTo(c, v) => for (a <- colRef(c); l <- litSql(v)) yield s"($a = $l)"
      case EqualNullSafe(c, null) => colRef(c).map(a => s"($a IS NULL)")
      case EqualNullSafe(c, v) =>
        for (a <- colRef(c); l <- litSql(v)) yield s"($a <=> $l)"
      case GreaterThan(c, v) => for (a <- colRef(c); l <- litSql(v)) yield s"($a > $l)"
      case GreaterThanOrEqual(c, v) =>
        for (a <- colRef(c); l <- litSql(v)) yield s"($a >= $l)"
      case LessThan(c, v) => for (a <- colRef(c); l <- litSql(v)) yield s"($a < $l)"
      case LessThanOrEqual(c, v) =>
        for (a <- colRef(c); l <- litSql(v)) yield s"($a <= $l)"
      case In(c, vs) if vs.nonEmpty =>
        val ls = vs.toSeq.map(litSql)
        if (ls.exists(_.isEmpty)) None
        else colRef(c).map(a => s"($a IN (${ls.map(_.get).mkString(", ")}))")
      case IsNull(c) => colRef(c).map(a => s"($a IS NULL)")
      case IsNotNull(c) => colRef(c).map(a => s"($a IS NOT NULL)")
      case StringStartsWith(c, p) =>
        for (a <- colRef(c); l <- litSql(p)) yield s"startswith($a, $l)"
      case StringEndsWith(c, p) =>
        for (a <- colRef(c); l <- litSql(p)) yield s"endswith($a, $l)"
      case StringContains(c, p) =>
        for (a <- colRef(c); l <- litSql(p)) yield s"contains($a, $l)"
      case Not(child) => render(child).map(s => s"(NOT $s)")
      case And(l, r) => for (a <- render(l); b <- render(r)) yield s"($a AND $b)"
      case Or(l, r) => for (a <- render(l); b <- render(r)) yield s"($a OR $b)"
      case _: AlwaysTrue => Some("true")
      case _: AlwaysFalse => Some("false")
      case _ => None
    }
    val parts = filters.toSeq.map(render)
    if (parts.isEmpty || parts.exists(_.isEmpty)) None
    else Some(parts.map(_.get).mkString("(", " AND ", ")"))
  }

  /** Compile runtime filters once per planning pass. Join runtime
    * filters arrive as IN-lists that can carry MILLIONS of build-side
    * keys; probing them through [[fileSurvives]] costs
    * O(files × values) driver-side stats parses. Compiled, each
    * IN-list parses and sorts its values ONCE, and each candidate file
    * then costs one min/max parse plus a binary search —
    * O(values log values + files log values). Non-IN shapes (and
    * conservative corner cases: null members, NaN/Infinity, stats-less
    * columns) fall back to [[fileSurvives]] unchanged. */
  private[streaming] def compileRuntimeFilters(
      table: GraftTable, schema: StructType, filters: Array[Filter],
      syntheticVersion: Boolean = true): Seq[(TxLog.AddFile, Long) => Boolean] = {
    import org.apache.spark.sql.sources.In
    filters.toSeq.map {
      case In(VersionCol, values) if syntheticVersion =>
        val versions = values.iterator.filter(_ != null).map(asLong).toSet
        (_: TxLog.AddFile, v: Long) => versions.contains(v)
      case f @ In(col, values)
          if values.nonEmpty && !values.contains(null) &&
            values.forall(TxLog.isFiniteStat) =>
        schema.fields.find(_.name == col) match {
          case Some(field) =>
            val physCol = TxLog.physicalOf(schema, col)
            // small lists additionally probe per-file Bloom filters —
            // conservative conjunct (range-any AND bloom-any); beyond
            // ~64 members a 2%-FP bloom admits almost surely, so only
            // the range check runs
            val bloomProbes: Option[Seq[(Long, Long)]] =
              if (values.length > 64) None
              else {
                val hs = values.toSeq.map(v =>
                  TxLog.bloomHashes(v, field.dataType))
                if (hs.exists(_.isEmpty)) None else Some(hs.map(_.get))
              }
            def bloomAny(cs: TxLog.ColStats): Boolean =
              (cs.bloom, bloomProbes) match {
                case (Some(b64), Some(hs)) =>
                  hs.exists { case (h1, h2) =>
                    TxLog.bloomMightContain(b64, h1, h2) }
                case _ => true
              }
            val numeric = TxLog.statsKind(field.dataType) == "num"
            if (numeric) {
              val sorted = values.map(v => BigDecimal(TxLog.statsLiteral(v))).sorted
              (a: TxLog.AddFile, _: Long) => a.stats.get(physCol).forall { cs =>
                anyInRange(sorted, BigDecimal(cs.min), BigDecimal(cs.max)) &&
                  bloomAny(cs)
              }
            } else {
              val sorted = values.map(TxLog.statsLiteral).sorted
              (a: TxLog.AddFile, _: Long) => a.stats.get(physCol).forall { cs =>
                anyInRange(sorted, cs.min, cs.max) && bloomAny(cs)
              }
            }
          case None => // unknown column: conservative, same as fileSurvives
            (a: TxLog.AddFile, v: Long) => fileSurvives(table, schema, a, v, f, syntheticVersion)
        }
      case f =>
        (a: TxLog.AddFile, v: Long) => fileSurvives(table, schema, a, v, f, syntheticVersion)
    }
  }

  /** Does the sorted array hold any element in [lo, hi]? Binary search
    * for the first element >= lo, then one comparison against hi. */
  private def anyInRange[T](sorted: Array[T], lo: T, hi: T)(
      implicit ord: Ordering[T]): Boolean = {
    var l = 0; var r = sorted.length
    while (l < r) {
      val m = (l + r) >>> 1
      if (ord.lt(sorted(m), lo)) l = m + 1 else r = m
    }
    l < sorted.length && ord.lteq(sorted(l), hi)
  }

  /** Could file `a` (added in commit `v`) contain rows matching `f`?
    * Handles the bound shapes [[bounds]] derives plus IN-lists (a file
    * survives if ANY member overlaps its stats — the shape runtime/join
    * filters arrive in). `_commit_version` predicates check the adding
    * commit exactly. Null-count stats prune on nullness: `IS NULL`
    * drops files with a proven zero null count, `IS NOT NULL` drops
    * provably all-null files (no stats on an always-stat'd non-float
    * column — NOTABLY every pre-evolution file for a later-added
    * column, so `WHERE new_col IS NOT NULL` skips the old data
    * entirely). Conservative everywhere else: an unrecognized filter
    * never prunes, and Spark's residual filtering owns row semantics
    * regardless. */
  private[graft] def fileSurvives(
      table: GraftTable, schema: StructType, a: TxLog.AddFile, v: Long,
      f: Filter, syntheticVersion: Boolean = true): Boolean = {
    import org.apache.spark.sql.sources.{And, EqualTo, In, IsNotNull, IsNull}
    // when the table's data schema claims the name, `_commit_version`
    // gets NO provenance special-casing: it prunes from its own file
    // stats like any other column (the guards below)
    def onVersion = syntheticVersion &&
      f.references.nonEmpty && f.references.forall(_ == VersionCol)
    // stats absent on a column the writer always stats ⇒ every row is
    // null there (floats excluded: absence can also mean NaN/Infinity)
    def provablyAllNull(c: String): Boolean =
      a.stats.get(TxLog.physicalOf(schema, c)).isEmpty &&
        schema.fields.find(_.name == c).exists(fd =>
        (fd.dataType match {
          case _: NumericType | StringType | DateType | TimestampType => true
          case _ => false
        }) && fd.dataType != DoubleType && fd.dataType != FloatType)
    f match {
      case In(VersionCol, values) if syntheticVersion =>
        values.exists(x => x != null && asLong(x) == v)
      case EqualTo(VersionCol, value) if syntheticVersion =>
        value != null && asLong(value) == v
      case IsNull(VersionCol) if syntheticVersion => false // provenance is never null
      case IsNotNull(VersionCol) if syntheticVersion => true
      case _ if onVersion =>
        bounds(f).forall { case (_, lo, hi) =>
          lo.forall(l => v >= asLong(l)) && hi.forall(h => v <= asLong(h)) }
      case IsNull(c) =>
        a.stats.get(TxLog.physicalOf(schema, c)).forall(cs => !cs.nulls.contains(0L))
      case IsNotNull(c) => !provablyAllNull(c)
      case In(col, values) =>
        val phys = TxLog.physicalOf(schema, col)
        values.isEmpty || values.exists(x =>
          x == null || (table.statsOverlap(schema, a, phys, Some(x), Some(x)) &&
            table.bloomAdmits(schema, a, phys, col, x)))
      case EqualTo(col, value) if value != null =>
        val phys = TxLog.physicalOf(schema, col)
        table.statsOverlap(schema, a, phys, Some(value), Some(value)) &&
          table.bloomAdmits(schema, a, phys, col, value)
      case And(l, r) =>
        fileSurvives(table, schema, a, v, l, syntheticVersion) &&
          fileSurvives(table, schema, a, v, r, syntheticVersion)
      case _ =>
        bounds(f).forall { case (col, lo, hi) =>
          table.statsOverlap(schema, a, TxLog.physicalOf(schema, col), lo, hi) }
    }
  }
}
