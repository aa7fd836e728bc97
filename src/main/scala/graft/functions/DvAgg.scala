package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Per-file deletion-vector builder behind [[graft.medallion.TxLog]]
  * `dvAggregate` (merge-on-read `deleteRows` and `upsert`): input is a
  * matched row's physical index in its file (the scan's `_pos`),
  * buffer a RoaringBitmap, output the portable-serialized bitmap
  * bytes — or `null` when the optimized bitmap exceeds `maxBytes`, so
  * an over-size bitmap never reaches the driver. Both production
  * callers pass no bound: the commit core's triage decides the
  * copy-on-write leg from the merged bitmaps.
  *
  * Mergeable by bitmap OR, so it rides ordinary partial aggregation:
  * map-side partials union executor-local, the shuffle carries one
  * compressed bitmap per (partition × file), and the driver collects
  * one compressed bitmap per matched file (a roaring bitmap is at most
  * 8 KiB per 65,536 rows). This replaces a
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

  /** `TxLog.dvBytes` layout. `null` = over `maxBytes` after run-length
    * optimization. */
  override def finish(bm: org.roaringbitmap.RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    if (bm.serializedSizeInBytes() > maxBytes) null
    else graft.medallion.TxLog.dvBytes(bm)
  }

  // RoaringBitmap is Externalizable — Java serialization round-trips
  // the shuffle-side partial buffers exactly.
  override def bufferEncoder: Encoder[org.roaringbitmap.RoaringBitmap] =
    Encoders.javaSerialization[org.roaringbitmap.RoaringBitmap]

  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
