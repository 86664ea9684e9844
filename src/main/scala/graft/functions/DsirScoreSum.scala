package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native kernel for DSIR's stateless per-row scoring fold
  * (`graft.operators.Dsir.scoreWith`): `dsir_score_sum(feats
  * ARRAY<STRING>) -> LONG`, the sum over features of the collected
  * model's micro-nat llr at bucket `md5_60(feat) % numBuckets`.
  *
  * The composed form `aggregate(transform(feats, f => element_at(lut,
  * bucket(f))), 0L, _+_)` is a higher-order function — HOFs are
  * CodegenFallback, so the md5 + conv + modulo subtree re-evaluates as
  * an INTERPRETED expression tree per feature (measured 6.5 s at sf0.1
  * where the equivalent broadcast-join scoring pass costs 1.6 s — the
  * join path's per-feature hash runs in a codegen'd post-explode
  * projection instead). This kernel is one flat JVM loop — MD5 via
  * a thread-local digest, the 60-bit prefix extracted from the raw
  * digest bytes (no hex string round-trip), an O(1) dense-array lookup
  * — and stays inside whole-stage codegen, so scan → featurize → score
  * fuse into one stage with no shuffle, the form a streaming selector
  * needs.
  *
  * Bit-identical contract: `bucket60` reproduces EXACTLY Spark's
  * `conv(substring(md5(s), 1, 15), 16, 10) % B` ([[graft.operators.Dedup.md5Hash60]]):
  * 15 hex chars = digest bytes 0–6 plus the high nibble of byte 7,
  * big-endian — a 60-bit non-negative value, so `%` and `pmod` agree.
  * The lut is the model's dense per-bucket table with unseen buckets
  * pre-filled by the smoothing default, exactly the values
  * `Dsir.llr6Expr` computed through Spark's own log/round expressions.
  * Null features (unreachable from the tokenizer, kept total) take
  * `default6`, matching the join path's missed-lookup coalesce.
  */
object DsirScoreSum {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** `conv(substring(md5(s), 1, 15), 16, 10)` — the engine's shared
    * 60-bit string hash ([[graft.operators.Dedup.md5Hash60]]) computed
    * on the raw digest: hex chars 1..15 are bytes 0..6 plus the high
    * nibble of byte 7, big-endian. Value ∈ [0, 2^60) — non-negative. */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (h(k) & 0xffL); k += 1 }
    (v << 4) | ((h(7) & 0xffL) >>> 4)
  }

  /** [[md5Prefix60]] mod `numBuckets` (`%` == `pmod`, the value being
    * non-negative). */
  def bucket60(bytes: Array[Byte], numBuckets: Int): Int =
    (md5Prefix60(bytes) % numBuckets).toInt

  /** The per-row fold the generated code calls. */
  def score(feats: ArrayData, lut: Array[Long], default6: Long): Long = {
    var s = 0L
    var i = 0
    val n = feats.numElements()
    while (i < n) {
      if (feats.isNullAt(i)) s += default6
      else s += lut(bucket60(feats.getUTF8String(i).getBytes, lut.length))
      i += 1
    }
    s
  }
}
