package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** n deterministic draws from g (seeded — no flaky CI). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(4242L + i)))

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  /** Pure-Scala reference: TOKEN-LEVEL greedy leftmost non-overlapping
    * merge — the published BPE rule the engine's spread-replace-collapse
    * must equal exactly (one scan is exhaustive: a merge never creates
    * a new (l, r) adjacency, the fused symbol being strictly longer). */
  private def refApply(seq: String, l: String, r: String): String = {
    val syms = seq.split(' ')
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += l + r; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.mkString(" ")
  }

  test("wordVocab: frequencies over [a-z]+ runs, seq is space-joined chars") {
    val v = Bpe.wordVocab(docs("Key agg key", "agg agg 42 x-ray"))
      .orderBy("word").collect()
    assert(v.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq === Seq(
      ("agg", 3L, "a g g"), ("key", 2L, "k e y"), ("ray", 1L, "r a y"), ("x", 1L, "x")))
  }

  test("pairCounts: adjacent pairs weighted by word freq; 1-symbol words drop") {
    val v = Seq(("aa", 3L, "a a"), ("ab", 2L, "a b"), ("a", 9L, "a"))
      .toDF("word", "freq", "seq")
    val p = Bpe.pairCounts(v).orderBy("lhs", "rhs").collect()
    assert(p.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("a", "a", 3L), ("a", "b", 2L)))
  }

  test("applyMerge matches the token-level greedy reference on hostile chains") {
    // long same-symbol runs are where a single-spaced replace's
    // consumed delimiter used to diverge (r14: " a a a a a " merged
    // alternately, a DIFFERENT fixpoint than token greedy); "babab"
    // exercises the symbol-boundary hazard a naive unpadded replace hits
    val rows = Seq("a a a a a", "b a b a b", "a b a b a b a b", "x", "a b",
        "a a a a a a a a a a a a a", "b a a a a a a b")
      .toDF("seq")
    val out = rows.select(col("seq"), Bpe.applyMerge(col("seq"), "a", "b").as("m"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) === refApply(r.getString(0), "a", "b"), s"seq='${r.getString(0)}'")
    }
    // self-pair, the other overlap family
    val out2 = rows.select(col("seq"), Bpe.applyMerge(col("seq"), "a", "a").as("m")).collect()
    out2.foreach { r =>
      assert(r.getString(1) === refApply(r.getString(0), "a", "a"), s"seq='${r.getString(0)}'")
    }
  }

  test("applyMerge is exhaustive on the real corpus vocabulary (reapply = identity)") {
    // one token-greedy pass removes every (l, r) adjacency and can
    // never create one, so applying the same merge twice must change
    // nothing — the invariant the old multi-pass form only approximated
    val d = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    val vocab = Bpe.wordVocab(d)
    val (merges, _) = Bpe.learnMerges(d, numMerges = 6)
    var v1 = vocab
    var v2 = vocab
    merges.foreach { m =>
      v1 = v1.withColumn("seq", Bpe.applyMerge(col("seq"), m.lhs, m.rhs)).localCheckpoint()
      v2 = v2.withColumn("seq", Bpe.applyMerge(
        Bpe.applyMerge(col("seq"), m.lhs, m.rhs), m.lhs, m.rhs)).localCheckpoint()
    }
    val diff = v1.as("a").join(v2.as("b"), "word")
      .filter(col("a.seq") =!= col("b.seq")).count()
    assert(diff === 0L)
  }

  test("learnMerges: hand-computed merge sequence and exhaustion") {
    // vocab: aa(freq 2, 'a a'), ab(1, 'a b') → merge1 (a,a,2), merge2 (a,b,1), then dry
    val (merges, finalVocab) = Bpe.learnMerges(docs("aa ab aa"), numMerges = 5)
    assert(merges === Seq(
      Bpe.Merge(1, "a", "a", "aa", 2L), Bpe.Merge(2, "a", "b", "ab", 1L)))
    val fv = finalVocab.orderBy("word").collect()
    assert(fv.map(r => (r.getString(0), r.getString(2))).toSeq ===
      Seq(("aa", "aa"), ("ab", "ab")))
  }

  test("batched trainer: merge sequence identical to sequential, far fewer jobs") {
    val d = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    def jobsDuring(tag: String)(body: => Unit): Int = {
      val sc = spark.sparkContext
      sc.setJobGroup(tag, tag, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      // statusTracker trails the listener bus — poll until stable
      var last = -1
      var cur = sc.statusTracker.getJobIdsForGroup(tag).length
      while (cur != last) {
        last = cur; Thread.sleep(200)
        cur = sc.statusTracker.getJobIdsForGroup(tag).length
      }
      cur
    }
    var seqM: Seq[Bpe.Merge] = Seq.empty
    var batM: Seq[Bpe.Merge] = Seq.empty
    val seqJobs = jobsDuring("bpe-seq") { seqM = Bpe.learnMerges(d, 12, maxBatch = 1)._1 }
    val batJobs = jobsDuring("bpe-bat") { batM = Bpe.learnMerges(d, 12, maxBatch = 16)._1 }
    assert(batM === seqM, "batching must not change the merge sequence")
    assert(batM.size === 12, "corpus must support 12 merges for this measurement")
    // early character-level merges share symbols heavily (th/he/er...),
    // so prefix batches stay small at first — still a ~2× cut here, and
    // the amortization grows with the longer, more disjoint symbols of a
    // production 50k-merge run
    assert(batJobs * 3 <= seqJobs * 2,
      s"batched trainer ran $batJobs jobs vs sequential $seqJobs — expected <= 2/3")
  }

  test("learnMerges tie-break is (freq desc, lhs asc, rhs asc)") {
    // pairs (b,a) and (a,c) both freq 1 → (a,c) wins on lhs
    val (merges, _) = Bpe.learnMerges(docs("ba ac"), numMerges = 1)
    assert(merges.head === Bpe.Merge(1, "a", "c", "ac", 1L))
  }

  /** In-memory replay of the EXACT shipped semantics: the
    * spread-replace-collapse string form (java String.replace is
    * leftmost non-overlapping, same as Spark's and DuckDB's) — kept as
    * a STRING-level twin so the property below can check it against
    * the token-level [[refApply]] independently of Spark. */
  private def applyP(seq: String, l: String, r: String): String =
    (" " + seq.replace(" ", "  ") + " ")
      .replace(s" $l  $r ", s" $l$r ").replace("  ", " ").trim

  test("property: string-form merge == token-level greedy on random symbol sequences") {
    val symsGen = Gen.choose(2, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b")))
    val pairGen = Gen.oneOf(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"))
    samples(Gen.zip(symsGen, pairGen), 400).foreach { case (syms, (l, r)) =>
      val s = syms.mkString(" ")
      val once = applyP(s, l, r)
      assert(once === refApply(s, l, r), s"diverged: $syms merge ($l,$r)")
      assert(applyP(once, l, r) === once, s"not exhaustive: $syms merge ($l,$r)")
    }
  }

  test("property: distributed trainer equals the in-memory reference on random corpora") {
    def refTrain(texts: Seq[String], k: Int)
        : (Seq[Bpe.Merge], Map[String, (Long, String)]) = {
      val words = texts.flatMap(t => "[a-z]+".r.findAllIn(t.toLowerCase))
      var vocab: Map[String, (Long, String)] = words.groupBy(identity)
        .map { case (w, ws) => w -> (ws.size.toLong, w.map(_.toString).mkString(" ")) }
      val merges = Seq.newBuilder[Bpe.Merge]
      var rank = 1
      var done = false
      while (rank <= k && !done) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.values.foreach { case (f, seq) =>
          seq.split(' ').sliding(2).filter(_.length == 2)
            .foreach(p => pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + f)
        }
        if (pc.isEmpty) done = true
        else {
          val ((l, r), f) = pc.minBy { case ((l, r), f) => (-f, l, r) }
          merges += Bpe.Merge(rank, l, r, l + r, f)
          vocab = vocab.map { case (w, (f0, seq)) => w -> (f0, applyP(seq, l, r)) }
          rank += 1
        }
      }
      (merges.result(), vocab)
    }
    val wordGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b')))
      .map(_.mkString)
    val docGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val corpusGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, docGen))
    samples(corpusGen, 8).foreach { texts =>
      val (refM, refV) = refTrain(texts, 4)
      val (gotM, gotV) = Bpe.learnMerges(docs(texts: _*), numMerges = 4)
      assert(gotM === refM, s"merges diverged for corpus $texts")
      val gotVocab = gotV.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(gotVocab === refV, s"final vocab diverged for corpus $texts")
    }
  }

  test("model artifact: save/load roundtrip; loaded history re-tokenizes a NEW corpus") {
    val dir = java.nio.file.Files.createTempDirectory("bpe-model").toString + "/m"
    val (merges, fvTrain) = Bpe.learnMerges(docs("aa ab aa", "aa aa b"), numMerges = 3)
    Bpe.saveModel(spark, merges, dir)
    assert(Bpe.loadModel(spark, dir) === merges, "roundtrip must be exact")
    // transfer: apply the LOADED history to an unseen corpus and check
    // against the in-memory padded-replace fold in rank order
    val fresh = docs("aab ba aa")
    val got = Bpe.applyMergeHistory(
        Bpe.wordVocab(fresh).select("word", "freq"), Bpe.loadModel(spark, dir))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    def refHistory(w: String): String =
      merges.sortBy(_.rank).foldLeft(w.map(_.toString).mkString(" "))(
        (s, m) => applyP(s, m.lhs, m.rhs))
    got.foreach { case (w, seq) => assert(seq === refHistory(w), s"word=$w") }
    // and on the TRAINING corpus the history reproduces the trainer's
    // final vocab exactly (merge order is the model)
    val replayed = Bpe.applyMergeHistory(
        Bpe.wordVocab(docs("aa ab aa", "aa aa b")).select("word", "freq"), merges)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    val trained = fvTrain.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(replayed === trained)
  }

  test("property: batched trainer equals sequential on wider alphabets (threat-rule stress)") {
    // {a,b,c} words give richer pair spaces than the in-memory-reference
    // property above: more disjoint top pairs (bigger batches taken) AND
    // more adjacent-pair threats (batches cut short) — both sides of
    // selectBatch's acceptance rule. Sequential (maxBatch=1) IS the
    // semantics; the batched run must reproduce it bit-for-bit.
    val wordGen = Gen.choose(1, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))).map(_.mkString)
    val docGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val corpusGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, docGen))
    samples(corpusGen, 10).foreach { texts =>
      val (seqM, seqV) = Bpe.learnMerges(docs(texts: _*), numMerges = 6, maxBatch = 1)
      val (batM, batV) = Bpe.learnMerges(docs(texts: _*), numMerges = 6, maxBatch = 8)
      assert(batM === seqM, s"merge sequence diverged for corpus $texts")
      val sv = seqV.collect().map(r => (r.getString(0), r.getString(2))).toMap
      val bv = batV.collect().map(r => (r.getString(0), r.getString(2))).toMap
      assert(bv === sv, s"final vocab diverged for corpus $texts")
    }
  }

  test("tokenCounts: per-doc word and token totals under the trained vocab") {
    val corpus = docs("aa ab", "aa aa b")
    val (merges, fv) = Bpe.learnMerges(corpus, numMerges = 1)
    assert(merges.head.merged === "aa")
    val tc = Bpe.tokenCounts(corpus, fv).orderBy("doc_id").collect()
    // after (a,a): aa→1 token, ab→'aa'? no — ab is 'a b', untouched → 2; b→1
    assert(tc.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 2L, 3L), (1L, 3L, 3L)))
  }

  /** Pure-Scala greedy longest-match reference (the WordPiece tokenize
    * loop) for the encode properties. */
  private def refGreedy(word: String, pieces: Set[String]): Seq[String] = {
    val maxL = pieces.map(_.length).max
    val out = Seq.newBuilder[String]
    var pos = 0
    while (pos < word.length) {
      val l = (math.min(maxL, word.length - pos) to 1 by -1)
        .find(l => pieces(word.substring(pos, pos + l))).getOrElse(1)
      out += word.substring(pos, pos + l)
      pos += l
    }
    out.result()
  }

  test("greedyPieces: hand cases — longest-first, OOV char fallback, end guard") {
    val pieces = Seq("a", "ab", "abc", "bc", "c")
    val rows = Seq("abcabc", "abab", "xay", "cba", "b").toDF("word")
      .select(col("word"), Bpe.greedyPieces(col("word"), pieces).as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(rows("abcabc") === Seq("abc", "abc"))
    // after 'ab', remainder "ab": longest match again 'ab'
    assert(rows("abab") === Seq("ab", "ab"))
    // x and y are out-of-inventory → single-char fallback
    assert(rows("xay") === Seq("x", "a", "y"))
    // at pos 1 remainder "ba": 'b' not in inventory alone → fallback "b"
    assert(rows("cba") === Seq("c", "b", "a"))
    assert(rows("b") === Seq("b"))
  }

  test("greedyPieces: empty word segments to [], not a spurious empty piece") {
    // sequence(1, 0) yields [1, 0] (step -1); the unguarded fold would
    // emit [""] — the guard pins [] for the public Column API
    val got = Seq("", "a").toDF("word")
      .select(col("word"), Bpe.greedyPieces(col("word"), Seq("a")).as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("") === Seq.empty)
    assert(got("a") === Seq("a"))
  }

  test("greedyPieces: end-of-word truncation cannot impersonate a shorter piece") {
    // inventory has "aa" but NOT trailing 'a'-at-end 3-char probe; word
    // "baa" at pos 2: probing length 2 beyond the end must not match
    // piece "aa" via a truncated substring and overshoot the cursor
    val pieces = Seq("aa", "ba", "a", "b")
    val got = Seq("baa", "ab", "aab").toDF("word")
      .select(col("word"), Bpe.greedyPieces(col("word"), pieces).as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    got.foreach { case (w, ps) =>
      assert(ps === refGreedy(w, pieces.toSet), s"word=$w")
      assert(ps.mkString === w, s"concat invariant broke for $w")
    }
  }

  test("property: greedyPieces equals the in-memory reference; concat invariant") {
    val pieceGen = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)
    val invGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, pieceGen)).map(_.distinct)
    val wordGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')))
      .map(_.mkString)
    val caseGen = Gen.zip(invGen, Gen.listOfN(12, wordGen))
    samples(caseGen, 40).foreach { case (inv, words) =>
      val got = words.distinct.toDF("word")
        .select(col("word"), Bpe.greedyPieces(col("word"), inv).as("p"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      words.distinct.foreach { w =>
        assert(got(w) === refGreedy(w, inv.toSet), s"word=$w inv=$inv")
        assert(got(w).mkString === w, s"concat invariant broke: $w inv=$inv")
      }
    }
  }

  test("native greedy kernel equals the HOF expression form row-for-row") {
    val pieceGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)
    val invGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, pieceGen)).map(_.distinct)
    val wordGen = Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'z')))
      .map(_.mkString)
    samples(Gen.zip(invGen, Gen.listOfN(10, wordGen)), 30).foreach { case (inv, words) =>
      val rows = (words :+ "").distinct.toDF("word")
        .select(col("word"), Bpe.greedyPieces(col("word"), inv).as("nat"),
          ReferenceForms.greedyPiecesHof(col("word"), inv).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"kernel/HOF divergence for '${r.getString(0)}' inv=$inv"))
    }
  }

  test("greedyPieceCounts and greedyTokenCounts: weighted totals reconcile") {
    val corpus = docs("aa ab aa", "ab b")
    val (_, fv) = Bpe.learnMerges(corpus, numMerges = 2)
    val pieceTotal = Bpe.greedyPieceCounts(fv)
      .agg(sum("freq")).collect()(0).getLong(0)
    val docTotal = Bpe.greedyTokenCounts(corpus, fv)
      .agg(sum("n_pieces")).collect()(0).getLong(0)
    // corpus-wide piece mass must equal the per-doc rollup's mass
    assert(pieceTotal === docTotal)
    // and every vocab word's pieces concatenate back to the word
    val pieces = Bpe.pieceInventory(fv)
    fv.select(col("word"), Bpe.greedyPieces(col("word"), pieces).as("p"))
      .collect().foreach(r => assert(r.getSeq[String](1).mkString === r.getString(0)))
  }
}
