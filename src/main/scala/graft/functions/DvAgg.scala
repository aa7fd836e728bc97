package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Per-file deletion-vector builder for merge-on-read DELETE
  * ([[graft.medallion.TxLog]] `deleteRows`): input is a matched row's
  * physical index in its file (the scan's `_pos`), buffer a
  * RoaringBitmap, output the
  * portable-serialized bitmap bytes — or `null` when the optimized
  * bitmap exceeds `maxBytes`, which routes that file to the
  * copy-on-write rewrite leg WITHOUT its indexes (or bytes) ever
  * reaching the driver.
  *
  * Mergeable by bitmap OR, so it rides ordinary partial aggregation:
  * map-side partials union executor-local, the shuffle carries one
  * compressed bitmap per (partition × file), and the driver collects
  * one ≤maxBytes row per DV-eligible file. This replaces a
  * `collect_list(row_index)` build whose driver footprint grew with
  * the total matched-row count — unbounded for a scattered delete
  * over a 100 TB table.
  *
  * Row indexes must fit the int domain (single parquet files beyond
  * 2^31 rows do not occur under any sane target file size); over-tall
  * files fail loudly rather than truncating.
  */
class DvAgg(maxBytes: Int)
    extends Aggregator[Long, org.roaringbitmap.RoaringBitmap, Array[Byte]] {

  override def zero: org.roaringbitmap.RoaringBitmap =
    new org.roaringbitmap.RoaringBitmap()

  override def reduce(
      bm: org.roaringbitmap.RoaringBitmap, idx: Long): org.roaringbitmap.RoaringBitmap = {
    require(idx >= 0 && idx < Int.MaxValue,
      s"txlog: row index $idx exceeds the deletion-vector domain — " +
        "a file this tall must take the rewrite path")
    bm.add(idx.toInt)
    bm
  }

  override def merge(
      a: org.roaringbitmap.RoaringBitmap,
      b: org.roaringbitmap.RoaringBitmap): org.roaringbitmap.RoaringBitmap = {
    a.or(b)
    a
  }

  /** Byte layout must agree with `TxLog.dvDeserialize` (RoaringBitmap
    * portable format). `null` = over `maxBytes` after run-length
    * optimization: the caller treats the file as rewrite-bound. */
  override def finish(bm: org.roaringbitmap.RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val n = bm.serializedSizeInBytes()
    if (n > maxBytes) null
    else {
      val buf = java.nio.ByteBuffer.allocate(n)
      bm.serialize(buf)
      buf.array()
    }
  }

  // RoaringBitmap is Externalizable — Java serialization round-trips
  // the shuffle-side partial buffers exactly.
  override def bufferEncoder: Encoder[org.roaringbitmap.RoaringBitmap] =
    Encoders.javaSerialization[org.roaringbitmap.RoaringBitmap]

  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
