package graft

import graft.functions.VectorOps
import graft.operators.{Unigram, UrlOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The interpreted forms of native kernels in `graft.functions`: the
  * `aggregate`-expression forms of the subword kernels
  * (`GreedyPieces.encode`, `UnigramViterbi.cost` and `.pieces`) and the
  * regexp/when-chain forms of the URL kernels (`UrlKernels.canonicalize`,
  * `.host` and `.resolve`, `RobotsMatcher.allowed`), and the
  * cross-join-plus-window form of the IVF probe-cell ranking
  * (`MatrixArg.topCosine`). Higher-order functions are CodegenFallback,
  * regexp chains re-scan each row and the window shuffles, which is why
  * the native kernels replaced them; they stay here as the reference
  * each kernel's parity spec checks row for row. */
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

  /** The when-chain form of [[graft.operators.UrlOps.robotsAllowed]]
    * (parity with the native matcher: UrlKernelsSpec) — the shape the
    * DuckDB oracles replay. */
  def robotsAllowedWhenChain(rules: UrlOps.RobotsRules)(path: Column): Column = {
    // (specificity when matched, allow) per rule; fold to the best
    // (longest pattern, allow-on-tie). Wildcard-free patterns keep the
    // cheap startsWith; wildcards go through the RFC regex.
    val scored = rules.rules.map { case (isAllow, pattern) =>
      val matches =
        if (pattern.contains('*') || pattern.endsWith("$"))
          path.rlike(UrlOps.robotsPatternRegex(pattern))
        else path.startsWith(pattern)
      (when(matches, lit(pattern.length)).otherwise(lit(-1)), isAllow)
    }
    scored.foldLeft((lit(-1), lit(true))) { case ((bestLen, bestAllow), (len, isAllow)) =>
      val better = (len > bestLen) || (len === bestLen && lit(isAllow) && !bestAllow)
      (when(better, len).otherwise(bestLen),
        when(better, lit(isAllow)).otherwise(bestAllow))
    }._2
  }

  /** The ~8-regexp column form of
    * [[graft.operators.UrlOps.canonicalizeUrl]] (parity with the native
    * kernel: UrlKernelsSpec) — the oracle's shape. */
  def canonicalizeUrlColumnForm(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    // RFC 3986 §6.2.2.1 lowercases only scheme and HOST — userinfo is
    // case-sensitive, so split it off before lowering (else
    // http://User@h/ and http://user@h/ collapse to one dedup key)
    val authority = regexp_extract(noFrag, "^[^:/?#]+://([^/?#]+)", 1)
    val userinfo = regexp_extract(authority, "^([^@]*@)", 1)
    val hostPort = lower(regexp_replace(authority, "^[^@]*@", ""))
    val bareHost = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val host = concat(userinfo, bareHost)
    val rawPath = regexp_extract(noFrag, "^[^:/?#]+://[^/?#]+([^?#]*)", 1)
    val path = regexp_replace(rawPath, "(.)/$", "$1") // non-root trailing slash
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(UrlOps.trackingRe))
    val sortedQ = array_join(array_sort(params), "&")
    // a URL without "://" is left untouched (not a canonicalizable
    // absolute URL — less cleaning, never a mangled key). An EMPTY
    // path normalizes to "/" (RFC 3986 §6.2.3: http://h and http://h/
    // are the same resource — the single most common dup pair).
    when(scheme === "", url).otherwise(concat(
      scheme, lit("://"), host,
      when(path === "", lit("/")).otherwise(path),
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ))))
  }

  /** The regexp form of [[graft.operators.UrlOps.urlHost]] (parity with
    * the native kernel: UrlKernelsSpec). */
  def urlHostColumnForm(url: Column): Column =
    lower(regexp_extract(url, "^[^:/?#]+://(?:[^/?#@]*@)?([^/?#:]+)", 1))

  /** The when-chain form of [[graft.operators.UrlOps.resolveUrl]]
    * (parity with the native kernel: UrlKernelsSpec) — the oracle's
    * shape. */
  def resolveUrlColumnForm(base: Column, href: Column): Column = {
    val scheme = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    val origin = regexp_extract(base, "^([^:/?#]+://[^/?#]+)", 1)
    val basePath = regexp_extract(base, "^[^:/?#]+://[^/?#]+([^?#]*)", 1)
    val baseDir = when(basePath.contains("/"),
      regexp_replace(basePath, "/[^/]*$", "/")).otherwise(lit("/"))
    when(href.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), href)
      .when(href.startsWith("//"), concat(scheme, lit(":"), href))
      .when(href.startsWith("/"), concat(origin, href))
      .when(href === "" || href.startsWith("#"), base)
      .when(href.startsWith("?"), concat(origin,
        when(basePath === "", lit("/")).otherwise(basePath), href))
      .otherwise(concat(origin, baseDir, href))
  }

  /** The window form of [[graft.operators.Similarity.probeCells]]: each
    * query id's `nprobe` cells, ranked in the plan against the broadcast
    * centroid table by `round(cosineNative(qvec, centroid), 6)` desc,
    * ties to the lowest cell (parity with the `topCosine` kernel:
    * IvfIndexSpec). */
  def probeCellsWindow(queries: DataFrame, cents: Seq[(Int, Seq[Float])], nprobe: Int,
                       qidCol: String, qvecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centroids = cents.toDF("cell", "centroid")
    val w = Window.partitionBy(col(qidCol)).orderBy(col("c_score").desc, col("cell"))
    broadcast(queries).join(broadcast(centroids))
      .withColumn("c_score", round(VectorOps.cosineNative(col(qvecCol), col("centroid")), 6))
      .withColumn("p_rank", row_number().over(w))
      .filter(col("p_rank") <= nprobe)
      .select(col(qidCol), col(qvecCol), col("cell"))
  }
}
