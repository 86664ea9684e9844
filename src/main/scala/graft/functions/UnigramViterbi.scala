package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
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
    * shipped via the expression reference object). */
  def toJavaMap(pieces: Map[String, Long]): java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
    m
  }
}

/** `unigram_cost(word) -> LONG` — [[UnigramViterbi.cost]] as a codegen
  * expression; null for out-of-alphabet words. */
case class UnigramCost(child: Expression, pieces: Map[String, Long],
                       big: Long, probeLen: Int) extends UnaryExpression {
  @transient private lazy val jmap = UnigramViterbi.toJavaMap(pieces)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unigram_cost expects STRING, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "unigram_cost"
  override protected def withNewChildInternal(newChild: Expression): UnigramCost =
    copy(child = newChild)

  override def nullSafeEval(wordAny: Any): Any =
    UnigramViterbi.cost(wordAny.asInstanceOf[UTF8String], jmap, big, probeLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, word => {
      val mapRef = ctx.addReferenceObj("ugCostMap", jmap, "java.util.HashMap")
      s"""
         |java.lang.Long ugc = graft.functions.UnigramViterbi.cost(
         |  $word, $mapRef, ${big}L, $probeLen);
         |${ev.isNull} = (ugc == null);
         |${ev.value} = ${ev.isNull} ? -1L : ugc.longValue();
       """.stripMargin
    })
}

/** `unigram_pieces(word) -> ARRAY<STRING>` — [[UnigramViterbi.pieces]]
  * as a codegen expression; null for out-of-alphabet words. */
case class UnigramPieces(child: Expression, pieces: Map[String, Long],
                         big: Long, probeLen: Int) extends UnaryExpression {
  @transient private lazy val jmap = UnigramViterbi.toJavaMap(pieces)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unigram_pieces expects STRING, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "unigram_pieces"
  override protected def withNewChildInternal(newChild: Expression): UnigramPieces =
    copy(child = newChild)

  override def nullSafeEval(wordAny: Any): Any =
    UnigramViterbi.pieces(wordAny.asInstanceOf[UTF8String], jmap, big, probeLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, word => {
      val mapRef = ctx.addReferenceObj("ugPiecesMap", jmap, "java.util.HashMap")
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData ugp =
         |  graft.functions.UnigramViterbi.pieces($word, $mapRef, ${big}L, $probeLen);
         |${ev.isNull} = (ugp == null);
         |${ev.value} = ugp;
       """.stripMargin
    })
}
