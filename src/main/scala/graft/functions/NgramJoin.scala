package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for space-joined word n-gram construction — the
  * engine's third HOF hot path after [[DsirScoreSum]] and
  * [[UnigramViterbi]]: `ngram_join(words ARRAY<STRING>) ->
  * ARRAY<STRING>`, every length-`n` window of `words` joined by one
  * space, optionally first-occurrence-deduplicated.
  *
  * The composed forms — `transform(sequence(0, size-n), i =>
  * array_join(slice(words, i+1, n), " "))` (shingles) and
  * `transform(..., i => concat_ws(" ", ws[i+1], ws[i+2]))` (bigram
  * features) — are higher-order functions: CodegenFallback, so the
  * join/slice subtree re-evaluates INTERPRETED once per window, per
  * row, on some of the widest paths in the engine (MinHash shingles,
  * span decontamination, DSIR featurization, repetition bigrams). This
  * kernel emits the windows from one codegen'd loop over the array.
  *
  * Parity contract with the composed forms (spec-pinned):
  *  - `size(words) < n` returns the EMPTY array — callers keep their
  *    own `when(...)` fallback semantics (shingles wrap the whole word
  *    list; the bigram builders' explode drops the row);
  *  - null elements are SKIPPED inside a window join, exactly like
  *    `array_join`/`concat_ws` (a window of all-null elements joins to
  *    "");
  *  - `distinct = true` reproduces `array_distinct`: first occurrence
  *    kept, order preserved.
  */
object NgramJoin {

  private val Space = UTF8String.fromString(" ")

  /** The per-row loop the generated code calls. Windows are joined with
    * `UTF8String.concatWs` — byte-level concatenation with null inputs
    * skipped, the same primitive `array_join`/`concat_ws` bottom out in
    * (no UTF-16 round trip: the first StringBuilder draft of this loop
    * measured SLOWER than the interpreted HOF on 3-gram shingles). */
  def ngrams(words: ArrayData, n: Int, distinct: Boolean): GenericArrayData = {
    val total = words.numElements()
    if (total < n) return new GenericArrayData(new Array[AnyRef](0))
    val wins = total - n + 1
    val buf = new Array[UTF8String](n)
    val seen = if (distinct) new java.util.LinkedHashSet[UTF8String](wins * 2)
               else null
    val flat = if (distinct) null else new Array[AnyRef](wins)
    var i = 0
    while (i < wins) {
      var k = 0
      while (k < n) {
        buf(k) = if (words.isNullAt(i + k)) null else words.getUTF8String(i + k)
        k += 1
      }
      val g = UTF8String.concatWs(Space, buf: _*)
      if (distinct) seen.add(g) else flat(i) = g
      i += 1
    }
    if (distinct) {
      val out = new Array[AnyRef](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    } else new GenericArrayData(flat)
  }
}
