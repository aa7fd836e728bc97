// Lives in org.apache.spark.sql because the writer factory is
// session-internal API; the public surface stays in graft.streaming.
package org.apache.spark.sql.graft

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType, JobID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.medallion.{FileStats, TxLog}

/** The one writer of every graft-table data and change file: batch
  * commits run it inside the tasks of the frame's own plan ([[write]]),
  * DSv2 row-level operations and streaming epochs hand it their task
  * rows. [[ParquetUtils.prepareWrite]] builds the same serializable
  * [[OutputWriterFactory]] the built-in parquet sink uses
  * (dictionary/codec/timestamp settings from the session conf), and each
  * task writes its files through it under their final names, where the
  * commit references them — never renamed (on an object store a rename
  * is a copy). The task that writes a file also computes its stats
  * ([[FileStats]]) and returns them in its commit message, so a commit
  * adopts files without reading them back.
  *
  * Like [[ParquetScans]], this lives in `org.apache.spark.sql` because
  * the writer factory is session-internal API; the public surface stays
  * in `graft.streaming`.
  */
object ParquetWrites {

  /** One written, not yet committed file: written `seq`-th by the task
    * of partition `partition`, with the rows and stats that task
    * recorded. */
  final case class StagedFile(
      path: String, partition: Int, seq: Int, rows: Long,
      stats: Map[String, TxLog.ColStats]) {
    /** The file's name in the directory it was written to. */
    def name: String = new Path(path).getName
  }
  object StagedFile {
    /** Commit order: task partition, then file sequence in the task. */
    implicit val commitOrder: Ordering[StagedFile] = Ordering.by(f => (f.partition, f.seq))
  }

  /** The parquet files of one (non-empty) task. */
  final case class StagedFiles(files: Seq[StagedFile]) extends WriterCommitMessage

  /** A serializable [[DataWriterFactory]] writing rows of `schema` as
    * parquet files directly in `dir`, each with the per-file `stats`.
    * Files open lazily — an empty task writes nothing. Every name
    * carries a full random UUID, so no two attempts of any write
    * collide; the commit coordinator picks exactly one winner per task,
    * and losers' files are never referenced (the commit lists only
    * winning messages) — orphans for the vacuum's age guard.
    *
    * `splitKey` (from [[graft.medallion.PartitionSpec.tupleKeyFn]])
    * switches the task writer to FANOUT mode — one open file per
    * distinct transform-tuple key seen (the Iceberg fanout-writer
    * semantic): under a bucket partition spec every written file must be
    * single-valued on the tuple or the table's storage-partitioned
    * joins silently degrade, and rows reach these writers in arbitrary
    * tuple order (streaming epochs, COW rewrite output), so rolling on
    * key CHANGE would explode the file count. Cost: one open parquet
    * writer per live tuple per task — BOUNDED: past `maxOpenWriters`
    * concurrent writers, the least-recently-written key closes and
    * rolls; a later row for it opens a fresh attempt-unique file. Each
    * file stays single-valued on the tuple (purity is per FILE, not per
    * key), so the only cost of eviction is extra files — never
    * straddling. Without the cap, a composite spec (days × bucket) under
    * a many-day streaming epoch or MERGE rewrite opens days·buckets
    * writers per task, each buffering up to a parquet row group —
    * executor OOM at exactly the 100-TB scale the feature targets.
    *
    * `ridMetaIdx`: row-tracking mode — `schema`'s TRAILING field is the
    * materialized row-id column, filled per row from ordinal
    * `ridMetaIdx` of the metadata row Spark hands to
    * `writeWithMetadata` (null for rows without one, e.g. MERGE
    * inserts); plain `write` calls append null. The split key speaks the
    * original (un-extended) row layout; `stats` binds to `schema`. */
  def factory(
      spark: SparkSession, schema: StructType, dir: String,
      splitKey: Option[InternalRow => String] = None,
      ridMetaIdx: Option[Int] = None,
      stats: FileStats.Spec = FileStats.RowsOnly,
      maxOpenWriters: Int = 64): GraftParquetWriterFactory = {
    require(maxOpenWriters >= 1, s"maxOpenWriters must be >= 1, got $maxOpenWriters")
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // no `.crc` sibling: a data file lies in the table root, where nothing
    // would ever delete one (uncached, or the checksummed instance returns)
    job.getConfiguration.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
    val options = new ParquetOptions(Map.empty[String, String], spark.sessionState.conf)
    val owf = ParquetUtils.prepareWrite(spark.sessionState.conf, job, schema, options)
    new GraftParquetWriterFactory(
      owf, new SerializableConfiguration(job.getConfiguration), schema, dir,
      splitKey, maxOpenWriters, ridMetaIdx, stats)
  }

  /** Write `df` through `factory` inside the tasks of `df`'s own plan
    * (one Spark job, one SQL execution) and return the written files.
    * A failed job deletes the files its finished tasks wrote (a failed
    * task deletes its own). */
  def write(df: DataFrame, factory: GraftParquetWriterFactory): Seq[StagedFile] = {
    val qe = df.queryExecution
    var done = Array.empty[WriterCommitMessage] // by partition, as tasks finish
    try SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      val rdd = qe.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        val w = factory.createWriter(pid, TaskContext.get().taskAttemptId())
        try {
          rows.foreach(w.write)
          Iterator.single(w.commit())
        } catch {
          case t: Throwable => w.abort(); throw t
        } finally w.close()
      }
      done = new Array(rdd.getNumPartitions)
      df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[WriterCommitMessage]) => it.next(),
        (pid: Int, m: WriterCommitMessage) => done(pid) = m)
    } catch { case t: Throwable =>
      filesOf(done.filter(_ != null).toSeq).foreach(f =>
        new java.io.File(new Path(f.path).toUri.getPath).delete())
      throw t
    }
    filesOf(done.toSeq)
  }

  /** The files of the winning task messages. */
  def filesOf(messages: Seq[WriterCommitMessage]): Seq[StagedFile] =
    messages.flatMap {
      case StagedFiles(fs) => fs
      case other => throw new IllegalStateException(
        s"graft-table write: unexpected commit message $other")
    }
}

/** Serves BOTH write planes: batch ([[DataWriterFactory]]) and
  * streaming ([[org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory]]
  * — the epoch only names the file; every name is attempt-unique via
  * UUID regardless). */
final class GraftParquetWriterFactory(
    owf: OutputWriterFactory, conf: SerializableConfiguration,
    schema: StructType, dir: String,
    splitKey: Option[InternalRow => String],
    maxOpenWriters: Int,
    ridMetaIdx: Option[Int],
    stats: FileStats.Spec) extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // one live writer per tuple key; `tick` is per-row recency for
      // the LRU eviction below (a mutable cell beats remove+reinsert
      // LinkedHashMap churn on the per-row hot path)
      final class Open(
          val w: org.apache.spark.sql.execution.datasources.OutputWriter,
          val path: Path, val seq: Int, val acc: FileStats.Task#Acc) {
        var tick: Long = 0L
        def staged: ParquetWrites.StagedFile = {
          val (rows, st) = acc.result()
          ParquetWrites.StagedFile(path.toString, partitionId, seq, rows, st)
        }
      }
      // fanout state: one open writer per transform-tuple key (a single
      // sentinel key when splitKey is absent — the plain one-file path)
      private val open = mutable.LinkedHashMap.empty[String, Open]
      // files already closed-and-rolled by the cap: still part of this
      // task's output
      private val rolled = mutable.ArrayBuffer.empty[Open]
      private var clock = 0L
      private var opened = 0
      private val keyOf: InternalRow => String =
        splitKey.getOrElse((_: InternalRow) => "")
      private val statsTask = stats.newTask()

      private def newFile(): Open = {
        val ctx = new TaskAttemptContextImpl(
          conf.value,
          new TaskAttemptID(new TaskID(new JobID(UUID.randomUUID().toString.take(8), 0),
            TaskType.MAP, partitionId), 0))
        val path = new Path(dir,
          s"part-$partitionId-${UUID.randomUUID()}" + owf.getFileExtension(ctx))
        opened += 1
        new Open(owf.newInstance(path.toString, schema, ctx), path, opened,
          statsTask.newFile())
      }

      private def writerFor(key: String): Open =
        open.getOrElse(key, {
          // cap the live-writer count: close-and-roll the least-
          // recently-written key. The rolled file is complete and
          // tuple-pure; if its key recurs, a FRESH file opens — extra
          // files, never a straddle. O(cap) scan, only on new-key
          // opens past the cap.
          if (open.size >= maxOpenWriters) {
            val (lruKey, lru) = open.minBy(_._2.tick)
            lru.w.close()
            rolled += lru
            open.remove(lruKey)
          }
          val o = newFile()
          open.put(key, o)
          o
        })

      // row-tracking append state (single-threaded writer — reused
      // per row, the standard InternalRow-wrapper pattern)
      private val ridJoin =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      private val ridCell =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)

      private def put(key: String, out: InternalRow): Unit = {
        val o = writerFor(key)
        clock += 1; o.tick = clock
        o.w.write(out)
        o.acc.add(out)
      }

      override def write(row: InternalRow): Unit =
        ridMetaIdx match {
          case None => put(keyOf(row), row)
          case Some(_) =>
            ridCell.update(0, null)
            put(keyOf(row), ridJoin(row, ridCell))
        }

      // the DSv2 preserved-metadata write: Spark's
      // DataAndMetadataWritingSparkTask calls write(metadataProj,
      // dataProj) for rows flagged WRITE_WITH_METADATA_OPERATION
      override def write(
          meta: InternalRow, row: InternalRow): Unit =
        ridMetaIdx match {
          case None => write(row)
          case Some(idx) =>
            if (meta == null || meta.isNullAt(idx)) ridCell.update(0, null)
            else ridCell.setLong(0, meta.getLong(idx))
            put(keyOf(row), ridJoin(row, ridCell))
        }

      override def commit(): WriterCommitMessage = {
        open.values.foreach(_.w.close())
        val files = (rolled ++ open.values).map(_.staged).toSeq
        open.clear(); rolled.clear()
        ParquetWrites.StagedFiles(files)
      }

      override def abort(): Unit = {
        open.values.foreach(_.w.close())
        (rolled ++ open.values).foreach { o =>
          o.path.getFileSystem(conf.value).delete(o.path, false); ()
        }
        open.clear(); rolled.clear()
      }

      override def close(): Unit = {
        open.values.foreach(_.w.close()); open.clear()
      }
    }
}
