package graft

import graft.operators.Unigram
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The interpreted `aggregate`-expression forms of the subword kernels
  * in `graft.functions` (`GreedyPiecesExpr`, `UnigramCost`,
  * `UnigramPieces`). Higher-order functions are CodegenFallback, which
  * is why the native kernels replaced them; they stay here as the
  * reference each kernel's parity spec checks row for row. */
object ReferenceForms {

  /** The composed `aggregate`-expression reference form of
    * [[graft.operators.Bpe.greedyPieces]] (parity with the native kernel:
    * BpeSpec). */
  def greedyPiecesHof(word: Column, pieces: Seq[String]): Column = {
    val maxL = pieces.map(_.length).max
    val inv = array(pieces.map(lit): _*)
    def matchLen(pos: Column): Column =
      (2 to maxL).foldLeft(lit(1)) { (shorter, l) =>
        when(pos + l <= length(word) + 1 &&
          array_contains(inv, word.substr(pos, lit(l))), lit(l))
          .otherwise(shorter)
      }
    val walked = aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"), array().cast("array<string>").as("pieces")),
      (acc, i) => {
        val pos = acc.getField("pos")
        val l = matchLen(pos)
        when(i < pos, acc).otherwise(
          struct((pos + l).as("pos"),
            array_append(acc.getField("pieces"), word.substr(pos, l)).as("pieces")))
      },
      acc => acc.getField("pieces"))
    // empty-word guard: sequence(1, 0) defaults to step -1 and yields
    // [1, 0], so the unguarded fold would emit one spurious "" piece.
    // Unreachable via the [a-z]+ wordVocab paths, but this is a public
    // Column API over arbitrary input — "" segments to [].
    when(length(word) === 0, array().cast("array<string>")).otherwise(walked)
  }

  /** The composed `aggregate`-expression reference form of
    * [[graft.operators.Wordpiece.wordpiecePieces]] (parity with the native
    * kernel: WordpieceSpec). */
  def wordpiecePiecesHof(word: Column, pieces: Seq[String]): Column = {
    val (contMarked, initial) = pieces.partition(_.startsWith("##"))
    val cont = contMarked.map(_.drop(2))
    def chain(inv: Seq[String], pos: Column): Column = {
      val lens = inv.map(_.length).filter(_ >= 2)
      if (lens.isEmpty) lit(1)
      else {
        val arr = array(inv.map(lit): _*)
        (2 to lens.max).foldLeft(lit(1)) { (shorter, l) =>
          when(pos + l <= length(word) + 1 &&
            array_contains(arr, word.substr(pos, lit(l))), lit(l))
            .otherwise(shorter)
        }
      }
    }
    val walked = aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"), array().cast("array<string>").as("pieces")),
      (acc, i) => {
        val pos = acc.getField("pos")
        val l = when(pos === 1, chain(initial, pos)).otherwise(chain(cont, pos))
        val piece = when(pos === 1, word.substr(pos, l))
          .otherwise(concat(lit("##"), word.substr(pos, l)))
        when(i < pos, acc).otherwise(
          struct((pos + l).as("pos"),
            array_append(acc.getField("pieces"), piece).as("pieces")))
      },
      acc => acc.getField("pieces"))
    // "" → [] (sequence(1, 0) yields [1, 0]; see Bpe.greedyPieces)
    when(length(word) === 0, array().cast("array<string>")).otherwise(walked)
  }

  /** The full Viterbi cost table of `word` under the seed model, as a
    * codegen'd expression: `aggregate` grows the per-prefix cost table
    * one character at a time; each step takes the min over pieces
    * ending at the new position (`least` skips the null candidates
    * where the substring is not in the inventory — length-1 pieces
    * guarantee at least one survivor for in-alphabet words). Entry
    * `i+1` is the best cost of the first `i` characters. */
  def viterbiTable(word: Column, model: Unigram.SeedModel): Column = {
    val cntMap = typedlit(model.pieces)
    val table = aggregate(
      sequence(lit(1), length(word)),
      array(lit(0L)),
      (acc, j) => {
        val candidates = (1 to Unigram.probeLen(model)).map { l =>
          val piece = word.substr(j - lit(l) + 1, lit(l))
          val cnt = element_at(cntMap, piece)
          when(j >= l && cnt.isNotNull,
            element_at(acc, j - lit(l) + 1) + lit(model.big) - cnt)
        }
        array_append(acc, candidates.reduce(least(_, _)))
      },
      acc => acc)
    // empty-word guard: sequence(1, 0) yields [1, 0] (step -1), padding
    // the table to 3 null-costed entries; the empty word's true table is
    // the single zero-cost entry (and it then segments to []).
    when(length(word) === 0, array(lit(0L))).otherwise(table)
  }

  /** The CANONICAL optimal segmentation, reconstructed from the cost
    * table by the deterministic longest-piece-first backtrack: from the
    * word's end, take the LONGEST piece whose cost edge is tight
    * (`cost(pos−l) + BIG − cnt = cost(pos)`) and step back. Every tie
    * among optimal paths resolves the same way in any engine — integer
    * equality, no float compare — which is what lets the M-step's
    * expected counts be oracle-checked. Emitted in word order. */
  def viterbiPieces(word: Column, model: Unigram.SeedModel): Column =
    backtrack(word, viterbiTable(word, model), model)

  /** Backtrack against an already-bound cost `table` column. Callers on
    * a hot path bind the table with `withColumn` first — the lambda
    * references the table 2·probeLen times per step, and an inline
    * table expression would be copied (and recomputed) at every one of
    * those references. */
  def backtrack(word: Column, table: Column, model: Unigram.SeedModel): Column = {
    val cntMap = typedlit(model.pieces)
    val raw = backtrackWalk(word, table, cntMap, model)
    // OUT-OF-ALPHABET guard: a null cost table (word has a character the
    // model never saw — cross-corpus model reuse) makes every tight-edge
    // test false, the walk stalls, and the unguarded result would be
    // len(word) empty strings. Surface null instead, mirroring
    // [[viterbiStats]]' null stats (and explode() then drops the word
    // from [[expectedPieceCounts]] rather than polluting it).
    when(element_at(table, -1).isNull, lit(null).cast("array<string>"))
      .otherwise(raw)
  }

  private def backtrackWalk(word: Column, table: Column, cntMap: Column,
                            model: Unigram.SeedModel): Column = {
    val walked = aggregate(
      sequence(lit(1), length(word)),
      struct(length(word).as("pos"), array().cast("array<string>").as("rev")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val matchLen = (1 to Unigram.probeLen(model)).foldLeft(lit(0)) { (shorter, l) =>
          val piece = word.substr(pos - lit(l) + 1, lit(l))
          val cnt = element_at(cntMap, piece)
          when(pos >= l && cnt.isNotNull &&
            element_at(table, pos - lit(l) + 1) + lit(model.big) - cnt ===
              element_at(table, pos + 1), lit(l))
            .otherwise(shorter)
        }
        when(pos <= 0, acc).otherwise(
          struct((pos - matchLen).as("pos"),
            array_append(acc.getField("rev"),
              word.substr(pos - matchLen + 1, matchLen)).as("rev")))
      },
      acc => reverse(acc.getField("rev")))
    walked
  }
}
