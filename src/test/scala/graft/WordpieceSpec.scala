package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Bpe, Wordpiece}

/** WordPiece trainer + encoder: likelihood scoring (vs BPE's counts),
  * ##-marker algebra, artifact replay parity, and a pure-Scala
  * reference trainer the distributed one must reproduce exactly. */
class WordpieceSpec extends SparkSpec {

  import spark.implicits._

  /** n deterministic draws from g (seeded — no flaky CI). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7117L + i)))

  private def corpusDf(texts: Seq[String]) = texts.toDF("text")

  // --- pure-Scala reference trainer (same semantics, no Spark) ---

  private def refMarked(w: String): List[String] =
    if (w.length <= 1) List(w)
    else w.head.toString :: w.tail.map("##" + _).toList

  private def refFuse(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.drop(2) else r)

  /** Leftmost non-overlapping single pass, as the padded replace does. */
  private def refMergePass(seq: List[String], l: String, r: String): List[String] =
    seq match {
      case a :: b :: rest if a == l && b == r => refFuse(a, b) :: refMergePass(rest, l, r)
      case a :: rest => a :: refMergePass(rest, l, r)
      case Nil => Nil
    }

  private def refApplyMerge(seq: List[String], l: String, r: String): List[String] = {
    var cur = seq
    var next = refMergePass(cur, l, r)
    while (next != cur) { cur = next; next = refMergePass(cur, l, r) }
    cur
  }

  private def refLearn(texts: Seq[String], numMerges: Int)
  : (List[(String, String, String, Long)], Map[String, (Long, List[String])]) = {
    val words = texts.flatMap(t => "[a-z]+".r.findAllIn(t.toLowerCase))
    var vocab: Map[String, (Long, List[String])] =
      words.groupBy(identity).map { case (w, ws) => w -> (ws.size.toLong, refMarked(w)) }
    val merges = List.newBuilder[(String, String, String, Long)]
    var k = 0
    var stop = false
    while (k < numMerges && !stop) {
      val symCnt = vocab.values.toList
        .flatMap { case (f, seq) => seq.map(_ -> f) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      val pairCnt = vocab.values.toList
        .flatMap { case (f, seq) => seq.zip(seq.tail).map(p => p -> f) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (pairCnt.isEmpty) stop = true
      else {
        val ((l, r), f) = pairCnt.minBy { case ((l, r), f) =>
          (-f.toDouble / (symCnt(l).toDouble * symCnt(r).toDouble), l, r)
        }
        merges += ((l, r, refFuse(l, r), f))
        vocab = vocab.view.mapValues { case (fw, seq) =>
          (fw, refApplyMerge(seq, l, r))
        }.toMap
        k += 1
      }
    }
    (merges.result(), vocab)
  }

  test("markedSeq seeds the BERT alphabet: first char plain, rest ##-marked") {
    val out = Wordpiece.wordVocab(corpusDf(Seq("key abc a")))
      .select("word", "seq").as[(String, String)].collect().toMap
    assert(out("key") == "k ##e ##y")
    assert(out("abc") == "a ##b ##c")
    assert(out("a") == "a")
  }

  test("fuse keeps only the leading marker") {
    assert(Wordpiece.fuse("##e", "##y") == "##ey")
    assert(Wordpiece.fuse("k", "##e") == "ke")
    assert(Wordpiece.fuse("k", "e") == "ke") // degenerate, unmarked rhs
  }

  test("likelihood argmax differs from count argmax where the denominators dictate") {
    // "aa" dominates by COUNT (freq 8) but its symbols are everywhere
    // (freq(a) huge), while "x ##z" is rare-but-exclusive: likelihood
    // picks (x, ##z), BPE picks the count winner. 8×"aab", 3×"xz":
    // pair (a,##a) freq 8, fa·fb ≈ 16·8; pair (x,##z) freq 3, 3·3.
    val texts = Seq.fill(8)("aab").map(w => w) ++ Seq.fill(3)("xz")
    val docs = corpusDf(Seq(texts.mkString(" ")))
    val (wpMerges, _) = Wordpiece.learnMerges(docs, numMerges = 1)
    val (bpeMerges, _) = Bpe.learnMerges(docs, numMerges = 1)
    assert(wpMerges.head.lhs == "x" && wpMerges.head.rhs == "##z")
    assert(wpMerges.head.merged == "xz")
    assert((bpeMerges.head.lhs, bpeMerges.head.rhs) == ("a", "a"))
  }

  test("distributed trainer reproduces the pure-Scala reference merge sequence") {
    val texts = Seq("the cat sat on the mat", "the bat and the cat chat",
      "that hat is flat", "rats chase bats")
    val docs = corpusDf(texts)
    val (merges, finalVocab) = Wordpiece.learnMerges(docs, numMerges = 6)
    val (refMerges, refVocab) = refLearn(texts, 6)
    assert(merges.map(m => (m.lhs, m.rhs, m.merged, m.freq)) == refMerges)
    val got = finalVocab.select("word", "seq").as[(String, String)].collect().toMap
    refVocab.foreach { case (w, (_, seq)) => assert(got(w) == seq.mkString(" "), s"word $w") }
  }

  test("encode: markers carried, detokenization round-trips, greedy is longest-match") {
    val docs = corpusDf(Seq("banana bandana ban", "banana banana band"))
    val (_, finalVocab) = Wordpiece.learnMerges(docs, numMerges = 5)
    val pieces = Wordpiece.pieceInventory(finalVocab)
    val enc = finalVocab
      .select(col("word"), Wordpiece.wordpiecePieces(col("word"), pieces).as("ps"))
      .as[(String, Seq[String])].collect()
    enc.foreach { case (w, ps) =>
      assert(ps.nonEmpty)
      assert(!ps.head.startsWith("##"), s"initial piece marked for $w")
      assert(ps.tail.forall(_.startsWith("##")), s"unmarked continuation in $w: $ps")
      val detok = ps.head + ps.tail.map(_.drop(2)).mkString
      assert(detok == w, s"round-trip broke: $w -> $ps")
    }
  }

  test("native wordpiece encode kernel equals the HOF expression form row-for-row") {
    val (_, finalVocab) = Wordpiece.learnMerges(
      corpusDf(Seq("the cat sat on the mat", "that fat bat had a hat")), numMerges = 5)
    val pieces = Wordpiece.pieceInventory(finalVocab)
    val wordGen = Gen.choose(0, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 't', 'h', 'c', 'z')).map(_.mkString))
    val words = (samples(wordGen, 300) :+ "" :+ "zzz" :+ "thatthatthat").distinct
    val rows = words.toDF("word")
      .select(col("word"), Wordpiece.wordpiecePieces(col("word"), pieces).as("nat"),
        ReferenceForms.wordpiecePiecesHof(col("word"), pieces).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](1) === r.getSeq[String](2),
      s"kernel/HOF divergence for '${r.getString(0)}'"))
  }

  test("artifact replay: save → load → applyMergeHistory equals the trained vocab") {
    val docs = corpusDf(Seq("the cat sat", "the bat chat", "flat hat"))
    val (merges, finalVocab) = Wordpiece.learnMerges(docs, numMerges = 4)
    val dir = java.nio.file.Files.createTempDirectory("wp-model").toString + "/m"
    Bpe.saveModel(spark, merges, dir)
    val loaded = Bpe.loadModel(spark, dir)
    assert(loaded == merges)
    val replayed = Wordpiece.applyMergeHistory(
      Wordpiece.wordVocab(docs).select("word", "freq"), loaded)
      .select("word", "seq").as[(String, String)].collect().toMap
    val trained = finalVocab.select("word", "seq").as[(String, String)].collect().toMap
    assert(replayed == trained)
  }

  test("property: trainer matches reference and encode round-trips on random corpora") {
    // 1-in-4 words are LONG single-char runs (8–24 chars): the case
    // where the old single-spaced 4-pass replace converged to a
    // DIFFERENT fixpoint than token-level greedy (alternating merges —
    // this very test found it in r14, prompting the exact
    // spread-replace-collapse form); the reference below is token-level,
    // so any regression on runs diverges here
    val runGen = for {
      c <- Gen.oneOf('a' to 'e')
      n <- Gen.choose(8, 24)
    } yield c.toString * n
    val wordGen = Gen.frequency(
      3 -> Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a' to 'e')).map(_.mkString)),
      1 -> runGen)
    val caseGen = for {
      n <- Gen.choose(3, 12)
      words <- Gen.listOfN(n, wordGen)
      k <- Gen.choose(1, 4)
    } yield (words, k)
    samples(caseGen, 12).foreach { case (words, k) =>
      val docs = corpusDf(Seq(words.mkString(" ")))
      val (merges, finalVocab) = Wordpiece.learnMerges(docs, numMerges = k)
      val (refMerges, _) = refLearn(Seq(words.mkString(" ")), k)
      assert(merges.map(m => (m.lhs, m.rhs, m.merged, m.freq)) == refMerges,
        s"corpus $words k=$k")
      val pieces = Wordpiece.pieceInventory(finalVocab)
      val enc = finalVocab
        .select(col("word"), Wordpiece.wordpiecePieces(col("word"), pieces).as("ps"))
        .as[(String, Seq[String])].collect()
      enc.foreach { case (w, ps) =>
        val detok = ps.head + ps.tail.map(_.drop(2)).mkString
        assert(detok == w && ps.tail.forall(_.startsWith("##")) && !ps.head.startsWith("##"),
          s"corpus $words k=$k word $w -> $ps")
      }
    }
  }
}
