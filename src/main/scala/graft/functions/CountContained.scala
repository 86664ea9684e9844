package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the keyword-containment score (reference
  * `main.py:143`: matches = number of question words substring-contained
  * in the chunk text): `count_contained(words ARRAY<STRING>, text STRING)
  * -> INT`.
  *
  * The composed form `size(filter(words, w => instr(text, w) > 0))` is a
  * higher-order function — interpreted row-at-a-time, a lambda frame per
  * word. This kernel is a flat loop over the (broadcast, tiny) words
  * array calling `UTF8String.contains` — byte-level substring match,
  * identical semantics to `instr(...) > 0` — and stays inside
  * whole-stage codegen, so the retrieval theta-scan fuses scan → score →
  * filter into one loop. Null words count as not-contained; null inputs
  * yield null.
  */
object CountContained {

  /** The per-row loop the generated code calls. */
  def count(words: ArrayData, text: UTF8String): Int = {
    var c = 0; var i = 0
    val n = words.numElements()
    while (i < n) {
      if (!words.isNullAt(i) && text.contains(words.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }
}
