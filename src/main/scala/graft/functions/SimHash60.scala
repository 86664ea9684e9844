package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the per-row 60-bit SimHash fingerprint
  * (`graft.operators.Dedup.simhash60Col`): `simhash60(text STRING) ->
  * LONG`.
  *
  * The composed form folds `aggregate(toks, zeros(60), zip_with(acc,
  * transform(0..59, vote), _+_))` — higher-order functions are
  * CodegenFallback, so every token pays ~120 INTERPRETED expression
  * nodes (60 shiftright/when votes + 60 adds) plus two transient
  * 60-element arrays. This kernel is one flat JVM loop: per token an
  * MD5 (thread-local digest, 60-bit prefix straight from the digest
  * bytes — [[DsirScoreSum.md5Prefix60]]), then 60 branch-free vote
  * accumulations; it stays inside whole-stage codegen, which matters
  * because this is the per-row form — the fingerprint computed
  * without the explode+aggregate, on the hot path of the banded
  * near-dup operators at ingest rate.
  *
  * Bit-identical contract (StreamingNearDupSpec asserts equality with
  * the explode+aggregate batch form over the corpus): tokens =
  * `split(lower(trim(text)), '\s+')` — UTF8String `trim` (spaces only)
  * then `toLowerCase` (exactly Spark's `Lower`), then a Java regex
  * split with limit −1, so an empty trimmed text yields the single
  * empty token whose hash the batch form also folds. Vote rule: bit b
  * of the fingerprint is set iff Σ_tokens (±1 on `(h >> b) & 1`) > 0.
  * Null text yields null.
  */
object SimHash60 {

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** The per-row fold the generated code calls. */
  def fp60(text: UTF8String): Long = {
    // trim THEN lower, exactly as the column form's split(lower(trim(t)))
    val toks = Ws.split(text.trim().toLowerCase.toString, -1)
    val votes = new Array[Int](60)
    var i = 0
    while (i < toks.length) {
      val h = DsirScoreSum.md5Prefix60(
        toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var b = 0
      while (b < 60) {
        // branch-free ±1: bit set → +1, clear → −1
        votes(b) += (((h >>> b) & 1L).toInt << 1) - 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) fp |= 1L << b
      b += 1
    }
    fp
  }
}
