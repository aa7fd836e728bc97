package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Bridge into Spark's OWN vectorized parquet DSv2 machinery, for scan
  * planners that know their exact file list (the graft-table log): builds
  * a [[ParquetScanBuilder]] over an explicit set of files, pushes the
  * caller's filters and projection into it, and returns the resulting
  * [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]].
  *
  * Why delegation instead of a hand-rolled `PartitionReaderFactory`: the
  * stock parquet scan brings whole-stage-ready COLUMNAR batches,
  * row-group/page skipping from the pushed data filters, and
  * maxPartitionBytes-aware file packing — re-implementing any of that
  * would be strictly worse. This object lives in `org.apache.spark.sql`
  * (like [[CosineSimilarity]]) because the builder is session-internal
  * API; everything public-facing stays in `graft.streaming`.
  */
object ParquetScans {

  /** The reader-GENERATED per-file row index column: appending a
    * LongType field of this name to a required schema makes Spark's
    * parquet readers (vectorized and row) populate each row's exact
    * physical index within its file — correct under byte-range splits,
    * pushed filters, and row-group/page skipping, because the
    * generator reads the true row ranges off the PageReadStore
    * (`ParquetRowIndexUtil`). It is the one way a graft-table reader
    * applies a deletion vector, and what serves `_row_id` and `_pos`:
    * positions keep splits AND pushdown. */
  val RowIndexCol: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** A vectorized parquet [[Scan]] over exactly `files`.
    *
    * @param schema         full table schema (column order authority)
    * @param requiredSchema projection to push (column pruning)
    * @param filters        data filters to push into the parquet reader
    *                       (row-group/page skipping); Spark re-applies
    *                       them above the scan, so over-claiming is safe
    * A missing file fails, naming it (Spark's listing reads a missing
    * root path as empty): the listed paths are compared, no extra I/O.
    */
  def scanFor(
      spark: SparkSession, schema: StructType, files: Seq[String],
      requiredSchema: StructType, filters: Seq[Filter]): Scan = {
    val index = new InMemoryFileIndex(
      spark, files.map(new Path(_)), Map.empty[String, String], Some(schema))
    // listed paths come back qualified (`file:/…`), root paths as given
    val listed = index.allFiles().iterator.map(_.getPath.toUri.getPath).toSet
    index.rootPaths.find(p => !listed.contains(p.toUri.getPath)).foreach(p =>
      throw new java.io.FileNotFoundException(s"graft-table: committed file $p " +
        "does not exist — deleted outside the log; this version cannot be read"))
    val builder = ParquetScanBuilder(
      spark, index, schema, schema, CaseInsensitiveStringMap.empty())
    // pushDataFilters is the builder's TRANSLATION hook, not a store —
    // only its caller pushFilters(Seq[Expression]) records the result,
    // and that entry point wants resolved catalyst expressions. Calling
    // the hook alone (the pre-round-16 shape) built every delegated
    // scan with pushedFilters = [] — correct rows (Spark's residual
    // filter owns semantics) but ZERO in-file row-group/page/dictionary
    // skipping. Thread the convertible subset into the built scan
    // directly instead.
    val convertible = builder.pushDataFilters(filters.toArray)
    builder.pruneColumns(requiredSchema)
    builder.build() match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        p.copy(pushedFilters = convertible)
      case other => other
    }
  }

  /** A partition-agnostic parquet [[PartitionReaderFactory]] for the
    * given (schema, projection, filters) spec: the factory only embeds
    * the broadcast Hadoop conf and the read schema/filters, so ONE
    * factory (built on the driver, serialized once) reads every file
    * partition of a batch scan — packed, split or keyed — and of EVERY
    * micro-batch a streaming source plans; the per-batch scans are only
    * needed for maxPartitionBytes file packing. Its columnar decision
    * depends on the projection and conf alone, never on the partition. */
  def readerFactoryFor(
      spark: SparkSession, schema: StructType,
      requiredSchema: StructType, filters: Seq[Filter])
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    scanFor(spark, schema, Seq.empty, requiredSchema, filters)
      .toBatch.createReaderFactory()

  /** Byte-range SPLIT partitions of one file — the positional-scan
    * unit for every DV'd file (batch, micro-batch and change-feed
    * slice) and every file of a `_row_id` / `_file` / `_pos` scan: each
    * split becomes its own [[FilePartition]], so per-file constants
    * (deletion vector, base row id, path, commit version) stay
    * per-partition constants while a large file still fans out across
    * tasks. Splits are safe under a deletion vector because the reader
    * matches the bitmap against the generated [[RowIndexCol]], never
    * against a count of the rows it has seen. Unlike [[scanFor]], this computes the
    * ranges directly from the file length — no per-file
    * `InMemoryFileIndex` + builder, so planning a 100k-file table
    * costs one `getFileStatus` per file and nothing else (the pushed
    * filters live in the READER FACTORY, not the partition). Spark's
    * parquet reader assigns each row group to the split containing its
    * midpoint, so ranges partition rows exactly. Files under ~1.2×
    * `maxPartitionBytes` stay whole (split overhead would exceed the
    * parallelism gain on a boundary-straddling tail). */
  def splitFilePartitions(spark: SparkSession, file: String)
      : Seq[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val p = new Path(file)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    val len = st.getLen
    val target = spark.sessionState.conf.filesMaxPartitionBytes
    if (len <= (target * 1.2).toLong)
      return Seq(FilePartition(0, Array(PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(p),
        0L, len, Array.empty, st.getModificationTime, len))))
    val n = math.max(1L, (len + target - 1) / target)
    val step = (len + n - 1) / n
    (0L until n).map { i =>
      val start = i * step
      val length = math.min(step, len - start)
      FilePartition(i.toInt, Array(PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(p),
        start, length, Array.empty, st.getModificationTime, len)))
        : org.apache.spark.sql.connector.read.InputPartition
    }
  }

  /** One partition covering several whole files — the storage-
    * partitioned-join unit, one file per keyed partition (splits would
    * tear the key grouping and the reported sort order). */
  def filesPartition(
      spark: SparkSession, files: Seq[String])
      : org.apache.spark.sql.connector.read.InputPartition = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val conf = spark.sessionState.newHadoopConf()
    FilePartition(0, files.toArray.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(p),
        0L, st.getLen, Array.empty, st.getModificationTime, st.getLen)
    })
  }

  /** Best-effort V2→V1 predicate translation for file-pruning callers
    * (the row-level scan's runtime group filter): untranslatable
    * predicates simply drop out, which for PRUNING means the file
    * conservatively survives. Forwarded here because
    * [[org.apache.spark.sql.internal.connector.PredicateUtils]] is
    * session-internal. */
  def predicatesToV1(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(predicates)

  /** A DataFrame over a DSv2 `table`, built from its logical plan
    * rather than a format string: the relation's output is `data`
    * (nullable, as a file scan's columns are) followed by `extra`, the
    * synthetic columns the table's scan serves beyond its schema. */
  def relationFrame(
      spark: SparkSession, table: org.apache.spark.sql.connector.catalog.Table,
      data: StructType, extra: Seq[org.apache.spark.sql.types.StructField])
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation(
        table,
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
          StructType(data.asNullable.fields ++ extra)),
        None, None, CaseInsensitiveStringMap.empty()))

  /** Re-plan a streaming micro-batch frame as a BATCH frame over the
    * same physical rows — the standard custom-`Sink.addBatch` pattern
    * (a frame with `isStreaming=true` refuses batch writes). The plan
    * is executed once, by the caller's write action. */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(
        df.queryExecution.toRdd, df.schema, isStreaming = false)
}
