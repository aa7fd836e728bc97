package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Per-file Bloom filter builder for the table format's point-lookup
  * skipping ([[graft.medallion.TxLog]] bloom constants): input is the
  * column's `xxhash64` (computed codegen'd in the writer's stats
  * projection, [[graft.medallion.FileStats]] — this aggregator only sets
  * bits), buffer is the bitset as packed longs, output the serialized
  * bytes.
  *
  * The writing task folds each file's rows into one O(bits/64) buffer
  * per bloomed column — at 128 MB target files that is 1 KiB of
  * metadata per file per column, invisible next to the data. Mergeable
  * by bitwise OR, so it also serves as an ordinary Spark aggregate.
  */
class BloomAgg(bits: Int, k: Int)
    extends Aggregator[Long, Array[Long], Array[Byte]] {

  private def words = (bits + 63) / 64

  override def zero: Array[Long] = new Array[Long](words)

  override def reduce(buf: Array[Long], h1: Long): Array[Long] = {
    val h2 = graft.medallion.TxLog.bloomH2(h1)
    var i = 0
    while (i < k) {
      val bit = (((h1 + i * h2) % bits + bits) % bits).toInt
      buf(bit >>> 6) |= 1L << (bit & 63)
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  /** Little-endian byte packing — must agree bit-for-bit with
    * [[graft.medallion.TxLog.bloomMightContain]]'s probe
    * (`bytes(bit >>> 3) & (1 << (bit & 7))`). */
  override def finish(buf: Array[Long]): Array[Byte] = {
    val out = new Array[Byte]((bits + 7) / 8)
    var bit = 0
    while (bit < bits) {
      if ((buf(bit >>> 6) & (1L << (bit & 63))) != 0)
        out(bit >>> 3) = (out(bit >>> 3) | (1 << (bit & 7))).toByte
      bit += 1
    }
    out
  }

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Array[Byte]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Byte]]()
}
