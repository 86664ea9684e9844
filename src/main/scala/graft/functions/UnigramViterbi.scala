package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the unigram-LM Viterbi DP
  * ([[graft.operators.Unigram]]): the cost of a word's optimal
  * segmentation and the canonical (longest-piece-first backtrack)
  * segmentation itself, as flat JVM loops inside whole-stage codegen.
  *
  * The composed form walks the word with TWO `aggregate` higher-order
  * functions (the cost-table fold, then the backtrack fold) — HOFs are
  * CodegenFallback, so each step's `2·probeLen` substring probes and
  * map lookups re-evaluate as an INTERPRETED expression tree per
  * character (the [[DsirScoreSum]] finding applied to the DP). These
  * kernels run the identical recurrence as one loop per word: a long[]
  * cost table, substring probes against the model's HashMap, integer
  * arithmetic only.
  *
  * Bit-identical contract (pinned by UnigramSpec's parity test against
  * the test tree's `ReferenceForms.viterbiTable`/`backtrack`):
  *  - costs are LONG adds/subtracts of the same map values — no floats
  *    anywhere, so "same recurrence" IS "same bits";
  *  - a position no piece ends at holds a NULL table entry in the
  *    expression form; the kernel tracks the same undefined states, and
  *    a null-costed word surfaces a null cost / null piece array
  *    exactly like the expression's out-of-alphabet guard;
  *  - the backtrack takes the LONGEST tight edge (the expression's
  *    foldLeft over l = 1..probeLen keeps the last match) and runs
  *    `length(word)` steps with the same stall semantics (a defined
  *    total cost can never stall, but the step rule is reproduced
  *    verbatim rather than argued away);
  *  - substrings are by Java char — the vocabulary is `[a-z]+` by
  *    construction ([[graft.operators.Bpe.wordVocab]]), where char,
  *    code point and byte agree.
  */
object UnigramViterbi {

  /** The DP table: `tab(j)` = best cost of the first `j` chars;
    * `defined(j)` mirrors the expression form's null entries. Returns
    * (tab, defined). */
  private def table(w: String, m: java.util.HashMap[String, java.lang.Long],
                    big: Long, probeLen: Int): (Array[Long], Array[Boolean]) = {
    val n = w.length
    val tab = new Array[Long](n + 1)
    val ok = new Array[Boolean](n + 1)
    ok(0) = true
    var j = 1
    while (j <= n) {
      var best = 0L
      var any = false
      var l = 1
      val lMax = if (probeLen < j) probeLen else j
      while (l <= lMax) {
        if (ok(j - l)) {
          val cnt = m.get(w.substring(j - l, j))
          if (cnt != null) {
            val c = tab(j - l) + big - cnt.longValue()
            if (!any || c < best) { best = c; any = true }
          }
        }
        l += 1
      }
      tab(j) = best
      ok(j) = any
      j += 1
    }
    (tab, ok)
  }

  /** Full-word optimal cost, null when the word is out-of-alphabet for
    * the model (some character no piece covers). */
  def cost(word: UTF8String, m: java.util.HashMap[String, java.lang.Long],
           big: Long, probeLen: Int): java.lang.Long = {
    val w = word.toString
    val (tab, ok) = table(w, m, big, probeLen)
    if (ok(w.length)) java.lang.Long.valueOf(tab(w.length)) else null
  }

  /** Canonical longest-piece-first backtrack; null for a null-costed
    * word (the expression form's guard). */
  def pieces(word: UTF8String, m: java.util.HashMap[String, java.lang.Long],
             big: Long, probeLen: Int): GenericArrayData = {
    val w = word.toString
    val n = w.length
    val (tab, ok) = table(w, m, big, probeLen)
    if (!ok(n)) return null
    val rev = new java.util.ArrayList[UTF8String](n)
    var pos = n
    var i = 0
    while (i < n) {
      if (pos > 0) {
        var matchLen = 0
        var l = 1
        while (l <= probeLen) {
          if (pos >= l && ok(pos) && ok(pos - l)) {
            val cnt = m.get(w.substring(pos - l, pos))
            if (cnt != null && tab(pos - l) + big - cnt.longValue() == tab(pos))
              matchLen = l
          }
          l += 1
        }
        rev.add(UTF8String.fromString(w.substring(pos - matchLen, pos)))
        pos -= matchLen
      }
      i += 1
    }
    val out = new Array[AnyRef](rev.size)
    var k = 0
    while (k < rev.size) { out(k) = rev.get(rev.size - 1 - k); k += 1 }
    new GenericArrayData(out)
  }

  /** Driver-side model → the kernel's HashMap (built once per plan,
    * shipped as an object literal, see [[Kernel]]). */
  def toJavaMap(pieces: Map[String, Long]): java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
    m
  }
}
