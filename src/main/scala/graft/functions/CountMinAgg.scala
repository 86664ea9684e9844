package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Count-min sketch as a typed `Aggregator[String, Array[Long], _]` —
  * the custom-UDAF tier of SURVEY §2.11, chosen because it is the
  * aggregate a 100 TB pipeline actually needs: heavy-hitter counting in
  * ONE pass with a fixed `depth×width` memory footprint per partial,
  * mergeable by element-wise addition (so map-side partials combine
  * like any sum), and deterministic — the hash rows are md5-derived, so
  * every engine/run builds the bit-identical sketch and the DuckDB
  * oracle can replay the exact cell math relationally.
  *
  * Estimates are the classic CMS guarantee: `est(k) >= true(k)`, with
  * overestimates bounded by collisions per row (width buckets) and the
  * min over `depth` independent rows.
  */
class CountMinAgg(val depth: Int, val width: Int)
    extends Aggregator[String, Array[Long], Array[Long]] {
  require(depth > 0 && width > 0)

  override def zero: Array[Long] = Array.fill(depth * width)(0L)

  override def reduce(b: Array[Long], key: String): Array[Long] = {
    var i = 0
    while (i < depth) { b(i * width + CountMinAgg.bucket(i, key, width)) += 1L; i += 1 }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object CountMinAgg {
  // reduce() hashes depth× per TOKEN — reuse the digest instance and
  // read the first 4 bytes as an unsigned int directly (identical value
  // to parsing the 8-hex-char prefix, without per-byte formatting)
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Row-`i` bucket of `key`: first 8 hex chars of md5("i:key") as an
    * unsigned int, mod width. Cross-engine: DuckDB
    * `('0x' || substr(md5(i || ':' || key), 1, 8))::BIGINT % width`. */
  def bucket(i: Int, key: String, width: Int): Int = {
    val d = md5.get()
    d.reset()
    val bytes = d.digest(s"$i:$key".getBytes("UTF-8"))
    val v = ((bytes(0) & 0xffL) << 24) | ((bytes(1) & 0xffL) << 16) |
      ((bytes(2) & 0xffL) << 8) | (bytes(3) & 0xffL)
    (v % width).toInt
  }
}
