package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the greedy longest-match subword ENCODE
  * ([[graft.operators.Bpe.greedyPieces]] and
  * [[graft.operators.Wordpiece.wordpiecePieces]]): walk the word from
  * the left, take the longest inventory piece prefixing the remainder,
  * fall back to the single character when nothing matches.
  *
  * The composed form is an `aggregate` HOF whose per-position probe is
  * a when-chain of `array_contains` over the inventory literal —
  * CodegenFallback, so O(len · maxPieceLen · |inventory|) INTERPRETED
  * comparisons per word (the [[DsirScoreSum]]/[[UnigramViterbi]]
  * finding applied to the encoders, and exactly the "custom Expression"
  * upgrade [[graft.operators.Bpe.greedyPieces]]' scaladoc reserved for
  * bigger inventories). This kernel probes length-indexed hash sets in
  * one flat JVM loop inside whole-stage codegen.
  *
  * Both encode dialects are one parameterization (spec-pinned parity
  * with the test tree's `ReferenceForms.greedyPiecesHof` and
  * `wordpiecePiecesHof` in BpeSpec/WordpieceSpec):
  *  - BPE: `cont == initial`, `marker == ""` — one inventory at every
  *    position, pieces emitted as their surface;
  *  - WordPiece: position 1 probes the UNMARKED inventory, later
  *    positions the marker-stripped continuation surfaces, and emitted
  *    non-initial pieces carry the `##` marker (BERT's convention) —
  *    including the single-character out-of-alphabet fallback, exactly
  *    like the expression form.
  *
  * Substrings are by Java char — the vocabulary is `[a-z]+` by
  * construction where char, code point and byte agree.
  */
case class GreedyPiecesExpr(child: Expression, initial: Seq[String],
                            cont: Seq[String], marker: String)
    extends UnaryExpression {

  @transient private lazy val initSets = GreedyPiecesExpr.byLength(initial)
  @transient private lazy val contSets = GreedyPiecesExpr.byLength(cont)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"greedy_pieces expects STRING, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "greedy_pieces"
  override protected def withNewChildInternal(newChild: Expression): GreedyPiecesExpr =
    copy(child = newChild)

  override def nullSafeEval(wordAny: Any): Any =
    GreedyPiecesExpr.encode(wordAny.asInstanceOf[UTF8String],
      initSets, contSets, marker)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, word => {
      val initRef = ctx.addReferenceObj("gpInit", initSets, "java.util.HashSet[]")
      val contRef = ctx.addReferenceObj("gpCont", contSets, "java.util.HashSet[]")
      val markRef = ctx.addReferenceObj("gpMark", marker, "java.lang.String")
      s"${ev.value} = graft.functions.GreedyPiecesExpr.encode(" +
        s"$word, $initRef, $contRef, $markRef);"
    })
}

object GreedyPiecesExpr {

  /** Inventory → hash sets indexed by piece length (index l holds the
    * length-l pieces; 0 and 1 unused — the probe floor is the
    * single-char fallback, matching the expression form's
    * `foldLeft(lit(1))`). */
  def byLength(pieces: Seq[String]): Array[java.util.HashSet[String]] = {
    val maxL = if (pieces.isEmpty) 1 else math.max(1, pieces.map(_.length).max)
    val sets = Array.fill(maxL + 1)(new java.util.HashSet[String]())
    pieces.filter(_.length >= 2).foreach(p => sets(p.length).add(p))
    sets
  }

  /** The per-word walk the generated code calls. */
  def encode(word: UTF8String, init: Array[java.util.HashSet[String]],
             cont: Array[java.util.HashSet[String]],
             marker: String): GenericArrayData = {
    val w = word.toString
    val n = w.length
    val out = new java.util.ArrayList[UTF8String](n)
    var pos = 0
    while (pos < n) {
      val sets = if (pos == 0) init else cont
      var l = math.min(sets.length - 1, n - pos)
      var matched = 1
      while (l >= 2) {
        if (matched == 1 && sets(l).contains(w.substring(pos, pos + l)))
          matched = l
        l -= 1
      }
      val surface = w.substring(pos, pos + matched)
      out.add(UTF8String.fromString(
        if (pos == 0) surface else marker + surface))
      pos += matched
    }
    val arr = new Array[AnyRef](out.size)
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    new GenericArrayData(arr)
  }
}
