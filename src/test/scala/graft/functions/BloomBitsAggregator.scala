package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.util.sketch.BloomFilter

/** Per-group bloom-filter build over pre-hashed 64-bit items: the
  * reference the writer-built blooms ([[graft.lake.WriterBlooms]]) are
  * checked against. Grouped by file, over `xxhash64(column)` of the
  * file's non-NULL values and sized by the file's row count, it yields
  * the filter the writer must have stored for that file.
  *
  * The buffer is Spark's own `org.apache.spark.util.sketch
  * .BloomFilter`; NULL items are skipped. Note that `xxhash64(NULL)`
  * is the seed (42), not NULL, so a caller must filter NULL values out
  * before hashing for the skip to take effect.
  */
class BloomBitsAggregator(expectedItems: Long, numBits: Long)
    extends Aggregator[java.lang.Long, BloomFilter, Array[Byte]] {

  override def zero: BloomFilter =
    BloomFilter.create(math.max(1L, expectedItems), math.max(64L, numBits))

  override def reduce(b: BloomFilter, x: java.lang.Long): BloomFilter = {
    if (x != null) b.putLong(x.longValue())
    b
  }

  override def merge(a: BloomFilter, b: BloomFilter): BloomFilter =
    a.mergeInPlace(b)

  override def finish(b: BloomFilter): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    b.writeTo(o)
    o.toByteArray
  }

  override def bufferEncoder: Encoder[BloomFilter] =
    Encoders.javaSerialization[BloomFilter]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
