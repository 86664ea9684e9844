package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Retrieval}

class RetrievalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("keyword scoring replicates the reference's substring-containment quirk") {
    // reference main.py:143 counts substring containment: "car" matches "card"
    val questions = Seq((0, "car wash")).toDF("question_id", "question")
    val chunks = Seq((1L, "a CARD game"), (2L, "wash the car"), (3L, "nothing"))
      .toDF("doc_id", "text")
    val out = Retrieval.keywordSearch(questions, chunks, k = 3)
      .orderBy("rank").collect()
    // doc 2 matches both words (score 1.0); doc 1 matches "car" via "CARD"
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq ===
      Seq((2L, 1.0), (1L, 0.5)))
  }

  test("a whitespace-padded question does not match the whole corpus") {
    // split('\s+') keeps a boundary empty token for padded input, and
    // ""-containment is true for every text — without the trim+filter
    // every chunk matches and n_words counts the phantom word
    val questions = Seq((0, "  car wash  ")).toDF("question_id", "question")
    val chunks = Seq((1L, "a CARD game"), (2L, "wash the car"), (3L, "nothing"))
      .toDF("doc_id", "text")
    val out = Retrieval.keywordSearch(questions, chunks, k = 3)
      .orderBy("rank").collect()
    // identical to the unpadded run: doc 3 must NOT appear, scores use
    // n_words = 2 (not 3 or 4 with boundary empties)
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq ===
      Seq((2L, 1.0), (1L, 0.5)))
  }

  test("knn top-k orders by rounded score desc with id tiebreak") {
    val q = Seq((0L, Seq(1f, 0f))).toDF("q_vec_id", "q_embedding")
    val idx = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = Retrieval.knnCosine(
      q.select(col("q_vec_id"), col("q_embedding").cast("array<float>").as("q_embedding")),
      idx, k = 2).orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq === Seq(1L, 2L))
    assert(out.head.getAs[Double]("score") === 1.0)
  }

  test("exact dedup flags duplicates with whitespace/case-invariant fp " +
      "and points each at its min-id keeper") {
    val docs = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDups(docs).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Boolean]("is_duplicate")).toSeq === Seq(false, true, false))
    assert(out.map(r => Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)).toSeq
      === Seq(None, Some(1L), None))
    // plan shape: the keeper is a partial-combined aggregate + fp join,
    // NOT a corpus-wide window (a boilerplate fp would serialize the
    // corpus through one window task at scale)
    val plan = Dedup.exactDups(docs).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"expected no Window node, got:\n$plan")
  }

  test("incremental dedup: cross-snapshot / in-batch / original classify " +
      "against the ledger; ledgerAfter keeps prior keepers") {
    val prior = Seq((10L, "seen before"), (11L, "also known")).toDF("doc_id", "text")
    val ledger = Dedup.fpLedger(prior)
    val batch = Seq(
      (20L, "Seen  BEFORE"),   // cross-snapshot (normalization-invariant)
      (21L, "fresh content a"),
      (22L, "fresh content a"),// in-batch dup of 21
      (23L, "fresh content b")
    ).toDF("doc_id", "text")
    val out = Dedup.exactDupsIncremental(batch, ledger).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("is_duplicate"), r.getAs[String]("dup_class"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
    assert(out(20L) === ((true, "cross_snapshot", Some(10L))))
    assert(out(21L) === ((false, "original", None)))
    assert(out(22L) === ((true, "in_batch", Some(21L))))
    assert(out(23L) === ((false, "original", None)))
    // plan shape: in-batch keeper via aggregate + join, no fp window
    val plan = Dedup.exactDupsIncremental(batch, ledger)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"expected no Window node, got:\n$plan")
    // REPLAY STABILITY: a redelivered batch sees its own fingerprints
    // in the ledger (keeper == own id) and must classify original —
    // never a cross_snapshot duplicate of itself, which would make a
    // drop-duplicates consumer delete the corpus's only copy. The
    // smaller-id fresh arrival sharing its fp classifies against the
    // canonical keeper, not the other way around.
    val replayLedger = Dedup.ledgerAfter(batch, ledger)
    val replay = Seq(
      (21L, "fresh content a"),  // its own keeper in the ledger
      (5L, "fresh content a"),   // smaller id, but 21 stays canonical
      (30L, "never seen")
    ).toDF("doc_id", "text")
    val rout = Dedup.exactDupsIncremental(replay, replayLedger).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("is_duplicate"), r.getAs[String]("dup_class"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
    assert(rout(21L) === ((false, "original", None)),
      "a self-keeper ledger hit is the canonical copy re-arriving")
    assert(rout(5L) === ((true, "cross_snapshot", Some(21L))))
    assert(rout(30L) === ((false, "original", None)))
    // the updated ledger: prior keepers survive even against SMALLER
    // batch ids (keeper = first sighting, not min id); new fps enter
    val batch2 = Seq((1L, "seen before"), (2L, "brand new")).toDF("doc_id", "text")
    val after = Dedup.ledgerAfter(batch2, ledger).collect()
      .map(r => r.getAs[String]("fp") -> r.getAs[Long]("keeper_id")).toMap
    val fpOf = Dedup.fpLedger(Seq((0L, "seen before")).toDF("doc_id", "text"))
      .collect().head.getAs[String]("fp")
    assert(after(fpOf) === 10L, "prior keeper wins over the smaller batch id")
    assert(after.size === 3)
  }

  test("simhash ledger: batch near-dups classify against prior snapshots; " +
      "the updated ledger stays capped per bucket") {
    val base = "the crawl pipeline fetches pages politely and extracts " +
      "the main content with care while boilerplate removal decides " +
      "corpus quality so the extractor measures link density for every " +
      "block and clean prose survives the published filters"
    val prior = Seq((10L, base)).toDF("doc_id", "text")
    val ledger = Dedup.simhashLedger(prior, cap = 2)
    val batch = Seq(
      (20L, base.replace("politely", "carefully")), // one-word edit of prior 10
      (21L, "completely different vocabulary entirely here now"),
      (22L, "completely different vocabulary entirely here now") // in-batch
    ).toDF("doc_id", "text")
    val out = Dedup.simhashPairsIncremental(batch, ledger, cap = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.contains(("ledger", 10L, 20L)),
      "the one-word edit must resolve to the prior snapshot's keeper")
    assert(out.contains(("batch", 21L, 22L)))
    assert(!out.exists(t => t._1 == "ledger" && t._3 == 21L),
      "fresh content matches no prior keeper")
    // a REPLAYED prior doc meets only itself in the ledger => no pairs
    // (the self-id exclusion; without it every redelivery reported the
    // canonical copy as a near-dup of itself at hamming 0)
    assert(Dedup.simhashPairsIncremental(prior, ledger, cap = 2).collect().isEmpty)
    // ledger update: add 50 same-text docs; every bucket stays <= cap
    val flood = (100L to 149L).map(i => (i, base)).toDF("doc_id", "text")
    val after = Dedup.simhashLedgerAfter(flood, ledger, cap = 2)
    val worst = after.groupBy("band", "bucket").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(worst <= 2L, "the artifact is O(buckets x cap) by construction")
    // prior keeper 10 outranks every flood id inside its buckets
    assert(after.filter(col("id") === 10L).count() === 4L)
    // prior keepers win their slots even against SMALLER batch ids —
    // ids are not ordered across snapshots, so a bare-id re-rank would
    // evict keeper 10 here and near-dups against that history would be
    // silently missed in buckets that never exceeded the cap
    val smallIds = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val after2 = Dedup.simhashLedgerAfter(smallIds, ledger, cap = 2)
    assert(after2.filter(col("id") === 10L).count() === 4L,
      "the prior keeper holds all four band slots against smaller batch ids")
    // replay idempotence: re-unioning rows the ledger already holds is
    // a no-op, not a double-counted slot
    val replayed = Dedup.simhashLedgerAfter(prior, ledger, cap = 2)
    assert(replayed.collect().toSet === ledger.collect().toSet)
  }

  test("simhashPairsCapped: a cap one below the fullest bucket's occupancy " +
      "drops no pair (generative, seeded)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // word pool small enough that copies and one-word edits near-dup
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val freshDoc = Gen.choose(4, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pool)).map(_.mkString(" ")))
    val corpusGen: Gen[Seq[String]] = for {
      n <- Gen.choose(8, 20)
      texts <- Gen.listOfN(n, freshDoc)
    } yield texts.zipWithIndex.map {
      case (_, i) if i >= 2 && i % 4 == 0 => texts(i / 2) // exact copy
      case (_, i) if i >= 2 && i % 3 == 0 =>                // one-word edit
        (pool(i % pool.size) +: texts(i / 2).split(" ").drop(1)).mkString(" ")
      case (t, _) => t
    }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    (0 until 6).flatMap(i => corpusGen.apply(Gen.Parameters.default, Seed(1300L + i)))
      .foreach { texts =>
        val docs = texts.zipWithIndex.map { case (t, j) => (j + 1L, t) }.toDF("doc_id", "text")
        // the fullest (band, bucket) of the 4-band banding
        val fullest = docs.select(Dedup.simhash60Col(col("text")).as("fp"))
          .select(posexplode(array((0 until 4).map(b =>
            shiftright(col("fp"), b * 15).bitwiseAND(lit(32767L))): _*))
            .as(Seq("band", "bucket")))
          .groupBy(col("band"), col("bucket")).count()
          .agg(max(col("count"))).head().getLong(0).toInt
        // a bucket's largest id is never a pair source (pairs run from
        // the smaller id), so the tightest cap that drops nothing is one
        // below the fullest bucket's occupancy
        val cap = math.max(1, fullest - 1)
        assert(pairs(Dedup.simhashPairsCapped(docs, cap = cap)) ===
          pairs(Dedup.simhashPairs(docs)), s"cap=$cap must not drop a pair")
      }
  }

  test("minhash ledger: batch near-dups classify against prior snapshots; " +
      "a replayed prior doc is not a near-dup of itself") {
    val base = "the quick brown fox jumps over the lazy dog near the river " +
      "bank while the miller watches the water wheel turn slowly all day"
    val prior = Seq((10L, base)).toDF("doc_id", "text")
    val ledger = Dedup.minhashLedger(prior, cap = 2)
    val batch = Seq(
      (20L, base), // identical content arriving under a new id
      (21L, "completely different vocabulary entirely here now today"),
      (22L, "completely different vocabulary entirely here now today")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashPairsIncremental(batch, ledger, cap = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.contains(("ledger", 10L, 20L)),
      "identical content must resolve to the prior snapshot's keeper")
    assert(out.contains(("batch", 21L, 22L)))
    assert(!out.exists(t => t._1 == "ledger" && t._3 == 21L))
    // a REPLAYED prior doc meets itself in the ledger: excluded (the
    // self-keeper rule), not a near-dup of itself
    val replayOut = Dedup.minhashPairsIncremental(prior, ledger, cap = 2).collect()
    assert(!replayOut.exists(r => r.getLong(1) == 10L && r.getLong(2) == 10L))
  }

  test("semantic incremental: ledger reps flag batch dups under frozen " +
      "centroids; self-replay stays original") {
    import graft.operators.Similarity
    // 12 vectors in two well-separated directions; ids chosen so the
    // prior third (id%3==0) covers both cells
    def vec(dir: Int, eps: Float) = Array.tabulate(4)(d =>
      (if (d == dir) 1f else 0f) + (if (d == (dir + 1) % 4) eps else 0f))
    val rows = Seq(
      (3L, vec(0, 0.01f)), (6L, vec(2, 0.01f)), (9L, vec(0, 0.02f)),
      (1L, vec(0, 0.015f)), (2L, vec(2, 0.015f)), (4L, vec(1, 0.9f)),
      (5L, vec(2, 0.025f)), (7L, vec(0, 0.03f)), (8L, vec(3, 0.9f))
    )
    val all = rows.toDF("vec_id", "embedding")
    val prior = all.filter(col("vec_id") % 3 === 0)
    val batch = all.filter(col("vec_id") % 3 =!= 0)
    val cents = Similarity.coarseCentroids(prior, 2, "vec_id", "embedding")
    val ledger = Dedup.semanticLedger(prior, cents, maxCellReps = 2)
    val out = Dedup.semanticDedupIncremental(batch, ledger, cents,
      threshold = 0.95, maxCellReps = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Boolean]("is_semantic_dup"), r.getAs[String]("dup_source")))).toMap
    assert(out(1L) === ((true, "ledger")),
      "a batch vector within threshold of a prior rep is a ledger dup")
    assert(out(7L) === ((true, "ledger")))
    assert(out(5L) === ((true, "ledger")),
      "direction-2 batch vectors resolve against the direction-2 rep")
    // the replayed prior doc meets only ITSELF above threshold (its
    // nearest non-self rep lands at ~0.99995 after round-6) => original
    val replay = Dedup.semanticDedupIncremental(
      all.filter(col("vec_id") === 9L), ledger, cents,
      threshold = 0.99999, maxCellReps = 2).collect()
    assert(replay.forall(!_.getAs[Boolean]("is_semantic_dup")),
      "a replayed vector must not become a semantic dup of itself")
  }

  test("gram ledger: cross-snapshot duplicated passages are caught, " +
      "batch-only runs are blind to them") {
    val passage = "the quick brown fox jumps over the lazy dog beside the river"
    val prior = Seq((100L, s"opening words here $passage closing words here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (200L, s"totally different intro $passage and a different outro"),
      (201L, "no shared passages in this one at all whatsoever today")
    ).toDF("doc_id", "text")
    // batch-only: the passage appears in ONE batch doc => no spans
    assert(Dedup.duplicatedSpans(batch).collect().isEmpty)
    // incremental: the ledger remembers the prior sighting => the span
    val ledger = Dedup.gramLedger(prior)
    val spans = Dedup.duplicatedSpansIncremental(batch, ledger).collect()
    assert(spans.nonEmpty && spans.forall(_.getAs[Long]("doc_id") == 200L),
      "the cross-snapshot duplicated passage must surface, on the batch doc")
  }

  test("kmeansLoop round 1 equals kmeansStep; later rounds re-center") {
    import graft.operators.Similarity
    val vecs = (1L to 40L).map(i => (i,
      Array.tabulate(4)(d => ((i % 5) + 1).toFloat * (d + 1) + (if (d == (i % 4)) 3f else 0f))))
      .toDF("vec_id", "embedding")
    val r1 = Similarity.kmeansLoop(vecs, kCents = 4, rounds = 1).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val step = Similarity.kmeansStep(vecs, kCents = 4).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(r1 === step, "rounds = 1 is exactly the single step")
    val r3 = Similarity.kmeansLoop(vecs, kCents = 4, rounds = 3).collect()
    assert(r3.nonEmpty)
    // sufficient-statistics invariant: every round partitions the same
    // nonzero vectors, so per-dim member totals are conserved
    val nPerDim = r3.groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(nPerDim.values.toSet === Set(40L))
    // determinism: the fixed-round fit replays bit-identically
    val r3b = Similarity.kmeansLoop(vecs, kCents = 4, rounds = 3).collect()
    assert(r3.map(_.toSeq).toSet === r3b.map(_.toSeq).toSet)
  }

  test("minhash estimated jaccard is 1.0 for identical docs") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = Dedup.minhashCandidates(docs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("est_jaccard") === 1.0)
  }

  test("duplicated spans find the shared passage, not the distinct surroundings") {
    val passage = "the quick brown fox jumps over the lazy dog tonight"   // 10 words
    val docs = Seq(
      (1L, s"intro one two three $passage outro alpha beta"),
      (2L, s"completely different lead in here $passage and a different tail"),
      (3L, "no shared material at all in this document body whatsoever"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, n = 4, minDocs = 2, minSpanWords = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(4)))).toMap
    // doc 1: passage starts at word 4 (0-based), doc 2: at word 5
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((4, 13, 10)))
    assert(out(2L) == ((5, 14, 10)))
  }

  test("duplicated spans: within-doc repetition is not cross-doc duplication") {
    val docs = Seq(
      (1L, "alpha beta gamma delta alpha beta gamma delta alpha beta gamma delta"),
      (2L, "entirely unrelated words in this second document right here"))
      .toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(docs, n = 4, minDocs = 2, minSpanWords = 4)
      .count() === 0)
  }

  test("duplicated spans merge overlapping gram windows into one maximal span") {
    // two docs share one contiguous 12-word block: every 4-gram inside it
    // is duplicated, and they must fuse into a single span, not 9 pieces
    val block = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq((1L, s"header $block"), (2L, s"$block trailer words here"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, n = 4, minDocs = 2, minSpanWords = 8)
      .collect()
    assert(spans.length === 2) // exactly one span per doc
    assert(spans.forall(_.getInt(4) == 12))
  }

  test("clipDuplicatedSpans removes exactly the span words, keeps everything else in order") {
    val passage = "the quick brown fox jumps over the lazy dog tonight" // 10 words
    val docs = Seq(
      (1L, s"intro one two three $passage outro alpha beta"),
      (2L, s"completely different lead in here $passage and a different tail"),
      (3L, "no shared material at all in this document body whatsoever"))
      .toDF("doc_id", "text")
    val out = Dedup.clipDuplicatedSpans(docs, n = 4, minDocs = 2, minSpanWords = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("intro one two three outro alpha beta", 17, 10)))
    assert(out(2L) == (("completely different lead in here and a different tail", 19, 10)))
    // untouched doc comes through whole
    assert(out(3L)._3 == 0 && out(3L)._1.startsWith("no shared material"))
  }

  test("clipDuplicatedSpans preserves casing: detection is case-insensitive, shipped text is not") {
    // the shared passage differs in case across the two docs — detection
    // must still fire (lowercased grams), but the SURVIVING text must
    // keep its original casing, and an untouched single-space document
    // must round-trip byte-identically
    val docs = Seq(
      (1L, "Intro McDonald gave IBM the quick Brown Fox jumps over the Lazy Dog tonight"),
      (2L, "other lead-in words go here THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG TONIGHT"),
      (3L, "No Shared Material AT ALL in This Document BODY whatsoever OK"))
      .toDF("doc_id", "text")
    val out = Dedup.clipDuplicatedSpans(docs, n = 4, minDocs = 2, minSpanWords = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(3)))).toMap
    assert(out(1L) == (("Intro McDonald gave IBM", 10)))
    assert(out(2L) == (("other lead-in words go here", 10)))
    assert(out(3L) == (("No Shared Material AT ALL in This Document BODY whatsoever OK", 0)))
  }

  test("simhash is deterministic and insensitive to case") {
    val a = Dedup.simhash32(Seq((1L, "Some Text Here")).toDF("doc_id", "text")).head.getLong(1)
    val b = Dedup.simhash32(Seq((9L, "some text here")).toDF("doc_id", "text")).head.getLong(1)
    assert(a === b)
    assert(a >= 0 && a < (1L << 32))
  }

  test("semantic dedup flags the larger id of a near-identical pair, keeps the smaller") {
    // vec 1 and 7 are (near-)parallel → same cell, cosine 1.0; vec 3 is
    // orthogonal to both
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (7L, Seq(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, -1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, nClusters = 2, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.keySet == Set(1L, 3L, 4L, 7L), "one row per input vector")
    assert(!out(1L) && out(7L), "keeper is the smallest id of the near-dup pair")
    assert(!out(3L) && !out(4L), "orthogonal/opposite vectors are not dups")
  }

  test("semantic dedup derives k from corpus size when nClusters is not pinned") {
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 90L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    // 90 rows / targetCellSize 16 → k = ceil(90/16) = 6 cells
    val out = Dedup.semanticDedup(vecs, threshold = 0.99, targetCellSize = 16)
    assert(out.count() === 90, "one row per input vector")
    val cells = out.select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.max < 6 && cells.min >= 0, s"cells must be drawn from 0..5, got $cells")
  }

  test("semantic dedup pair cap bounds candidates per cell and caps only the rep side") {
    // generative: seeded random vectors + random cell skew, several draws
    val rnd = new scala.util.Random(17)
    for (draw <- 1 to 5) {
      val nCells = 1 + rnd.nextInt(4)
      val maxReps = 1 + rnd.nextInt(5)
      val n = 20 + rnd.nextInt(60)
      // skewed assignment: cell 0 gets ~half the rows
      val assigned = (0L until n.toLong).map { i =>
        val cell = if (rnd.nextBoolean()) 0 else rnd.nextInt(nCells)
        (i, Seq.fill(6)(rnd.nextFloat() * 2 - 1), cell)
      }.toDF("vec_id", "embedding", "cell")
      val pairs = Dedup.semanticCandidatePairs(assigned, maxReps, "vec_id", "embedding")
        .collect()
      val cellSizes = assigned.groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      // (1) pair volume per cell is linear: ≤ min(maxReps, |cell|) · |cell|
      pairs.groupBy(_.getInt(0)).foreach { case (cell, ps) =>
        val size = cellSizes(cell)
        assert(ps.length <= math.min(maxReps, size) * size,
          s"draw $draw cell $cell: ${ps.length} pairs exceeds the cap bound")
      }
      // (2) every id_a is one of its cell's maxReps lowest ids; id_a < id_b
      val lowIds = assigned.collect().map(r => (r.getInt(2), r.getLong(0)))
        .groupBy(_._1).map { case (c, xs) =>
          c -> xs.map(_._2).sorted.take(maxReps).toSet }
      pairs.foreach { p =>
        assert(p.getLong(1) < p.getLong(2))
        assert(lowIds(p.getInt(0)).contains(p.getLong(1)),
          s"draw $draw: id_a ${p.getLong(1)} is not a representative of cell ${p.getInt(0)}")
      }
      // (3) an unbinding cap reproduces the full all-pairs candidate set
      val uncapped = Dedup.semanticCandidatePairs(assigned, n, "vec_id", "embedding")
      val allPairs = assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .count()
      assert(uncapped.count() === allPairs, s"draw $draw: uncapped must be all-pairs")
    }
  }

  test("leakage-safe split: no near-dup pair straddles train/test; id-hash split would") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 500)
    val pairs = Dedup.minhashCandidates(docs).localCheckpoint()
    assert(pairs.count() > 0, "corpus must actually contain near-dup pairs")
    val split = Dedup.leakageSafeSplit(docs, pairs)
    val bySide = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySide.getOrElse("train", 0L) > 0 && bySide.getOrElse("test", 0L) > 0,
      s"both sides populated: $bySide")
    def straddles(assign: org.apache.spark.sql.DataFrame): Long =
      pairs.join(assign.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(assign.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .filter(col("sa") =!= col("sb")).count()
    assert(straddles(split) === 0L, "a near-dup pair crossed the split")
    // the guarantee is not vacuous: the naive per-document hash split
    // DOES tear pairs apart on this same corpus (md5-deterministic)
    val naive = graft.operators.Sampling.trainTestSplit(docs, "doc_id", 0.2)
      .select(col("doc_id"), col("split"))
    assert(straddles(naive) > 0L,
      "expected the id-hash split to violate cluster purity on this corpus")
  }
}
