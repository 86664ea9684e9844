package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Relational, Retrieval, Sampling}

class SamplingRelationalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq.tabulate(100)(i =>
    (i.toLong, s"word$i common text ${"x " * (i % 7)}", if (i % 3 == 0) "en" else "de",
      10L + i)).toDF("doc_id", "text", "lang", "n_chars")

  test("train/test split is deterministic, keyed, and ~10% test") {
    val a = Sampling.trainTestSplit(docs, "doc_id").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.trainTestSplit(docs.repartition(7), "doc_id")
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b) // partitioning-invariant: pure function of the key
    val testFrac = a.values.count(_ == "test").toDouble / a.size
    assert(testFrac > 0.0 && testFrac < 0.3)
  }

  test("stratified sample keeps exactly ceil(frac*n) per stratum") {
    val out = Sampling.stratifiedSample(docs, "lang", "doc_id", frac = 0.1)
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { case (lang, n) =>
      assert(counts(lang) === math.ceil(n * 0.1).toLong, s"stratum $lang") }
  }

  test("epoch mixture repeats data exactly per the plan, partial epoch by hash") {
    // aa: 2 docs x 5 tokens = 10 available; target 40 -> exactly 4 full
    // epochs, zero remainder. bb: 4 docs x 5 = 20 available; target 10
    // -> 0 full epochs, remainder rate 32768/65536 of the hash space.
    val corpus = (Seq((1L, "a b c d e", "aa"), (2L, "f g h i j", "aa")) ++
      Seq.tabulate(4)(i => ((10 + i).toLong, "k l m n o", "bb")))
      .toDF("doc_id", "text", "lang")
    val out = Sampling.epochMixture(corpus, Seq(("aa", 0.8), ("bb", 0.2)),
      budgetTokens = 50L)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val aa = rows.filter(_._2 == "aa")
    assert(aa.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap ==
      Map(1L -> Seq(0L, 1L, 2L, 3L), 2L -> Seq(0L, 1L, 2L, 3L)))
    val bb = rows.filter(_._2 == "bb")
    assert(bb.forall(_._3 == 0L), "bb must only reach the partial epoch")
    // the partial epoch keeps the docs under the SALTED 64k hash cut
    // (salted so composing with trainTestSplit/domainResample cannot
    // skew or empty it) PLUS the stratum's hash-minimal doc
    def saltedBucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:epoch".getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 4), 16)
    }
    val bbIds = corpus.filter(col("lang") === "bb")
      .select("doc_id").collect().map(_.getLong(0))
    val expected = bbIds.filter(saltedBucket(_) < 32768).toSet +
      bbIds.minBy(id => (saltedBucket(id), id))
    assert(bb.map(_._1).toSet == expected)
    // a funded remainder far below the 1/65536 quantum STILL emits —
    // exactly the hash-minimal doc (available 200000 >> 65536 x target
    // 1 puts the unfloored cut at zero; the guarantee costs one doc)
    val bigIds = (1L to 50L).map(_ + 1000000L)
    val big = bigIds.map(id => (id, ("w " * 4000).trim, "cc"))
      .toDF("doc_id", "text", "lang")
    val guaranteed = Sampling.epochMixture(big, Seq(("cc", 1.0)), budgetTokens = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(guaranteed.toSeq == Seq((bigIds.minBy(id => (saltedBucket(id), id)), 0L)),
      "the funded remainder must emit exactly the stratum's hash-minimal doc")
    // deterministic under re-run and repartitioning
    assert(Sampling.epochMixture(corpus.repartition(5), Seq(("aa", 0.8), ("bb", 0.2)),
      budgetTokens = 50L).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq == rows.sorted.toSeq)
  }

  test("epoch mixture fails fast past maxEpochs and runs bounded at the limit") {
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    // 1 doc x 5 tokens, budget 10M -> 2,000,000 full epochs: far past the
    // default 65536 cap; must raise the documented error, not allocate
    val tiny = Seq((1L, "a b c d e", "aa")).toDF("doc_id", "text", "lang")
    val err = intercept[Throwable] {
      Sampling.epochMixture(tiny, Seq(("aa", 1.0)), budgetTokens = 10000000L).collect()
    }
    assert(msgs(err).contains("maxEpochs=65536"), s"got: ${msgs(err)}")
    // at the boundary the run is bounded and complete: 4 full epochs with
    // maxEpochs=4 emits all of them; maxEpochs=3 rejects the same plan
    val out = Sampling.epochMixture(tiny, Seq(("aa", 1.0)), budgetTokens = 20L,
      maxEpochs = 4L).collect().map(_.getLong(2)).sorted
    assert(out.toSeq == Seq(0L, 1L, 2L, 3L))
    val err2 = intercept[Throwable] {
      Sampling.epochMixture(tiny, Seq(("aa", 1.0)), budgetTokens = 20L,
        maxEpochs = 3L).collect()
    }
    assert(msgs(err2).contains("maxEpochs=3"))
  }

  test("PII redaction replaces URLs, emails, and phones with typed placeholders") {
    val docs = Seq(
      (1L, "mail me at a.user+x@test.org or see https://ex.com/p?q=1 or call 555-123-4567"),
      (2L, "clean text, nothing to scrub")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.redactPii(docs)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("redacted") ===
      "mail me at [EMAIL] or see [URL] or call [PHONE]")
    assert((out(0).getAs[Number]("n_urls").longValue,
      out(0).getAs[Number]("n_emails").longValue,
      out(0).getAs[Number]("n_phones").longValue) === ((1L, 1L, 1L)))
    assert(out(1).getAs[String]("redacted") === "clean text, nothing to scrub")
  }

  test("repetition stats flag duplicate lines and dominant bigrams") {
    val docs = Seq(
      (1L, "spam line\nspam line\nspam line\nunique one"),
      (2L, "all fresh lines\nno repeats here")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.repetitionStats(docs)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("n_lines") === 4)
    assert(out(0).getAs[Int]("n_distinct_lines") === 2)
    assert(out(0).getAs[Double]("dup_line_ratio") === 0.5)
    // "spam line" bigram appears 3 times of 7 bigrams
    assert(out(0).getAs[Long]("top_bigram_tf") === 3L)
    assert(out(1).getAs[Double]("dup_line_ratio") === 0.0)
  }

  test("shard packing: every doc in exactly one shard, budget respected modulo one doc") {
    val corpus = Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(10 + i % 40)("w").mkString(" "))).toDF("doc_id", "text")
    val out = graft.operators.Sampling.packShards(corpus, tokenBudget = 100, nBuckets = 4)
    assert(out.count() === 200) // exactly one row per doc
    val shardTotals = out.groupBy("shard_id")
      .agg(sum("n_tokens").as("total"), max("n_tokens").as("biggest"))
      .collect()
    shardTotals.foreach { r =>
      // cumulative packing can overshoot by at most the straddling doc
      assert(r.getAs[Long]("total") <= 100 + r.getAs[Int]("biggest"),
        s"shard ${r.get(0)} over budget") }
    // deterministic under repartitioning
    val a = out.orderBy("doc_id").collect().map(_.getString(2)).toSeq
    val b = graft.operators.Sampling.packShards(corpus.repartition(7), 100, 4)
      .orderBy("doc_id").collect().map(_.getString(2)).toSeq
    assert(a === b)
  }

  test("winsorize clips exactly the tails and leaves the body untouched") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("event_id", "value")
    val out = graft.operators.Sampling.winsorize(df, "value", lo = 0.05, hi = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    val clipped = out.values.count(_._2 == true)
    assert(clipped > 0 && clipped <= 10) // ~5% per tail
    assert(out(50L)._1 === 50.0 && !out(50L)._2) // body untouched
    val lo = out.values.map(_._1).min
    assert(out(1L)._1 === lo && out(1L)._2) // bottom tail clamps to cutoff
  }

  test("quantile buckets cover all rows and respect cutoff ordering") {
    val out = Sampling.quantileBuckets(docs, "n_chars", nBuckets = 4)
    assert(out.count() === 100)
    val perBucket = out.groupBy("bucket")
      .agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
      .orderBy("bucket").collect()
    // value ranges of consecutive buckets must not interleave
    perBucket.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"))
      case _ => ()
    }
  }

  test("pivot equals manual conditional aggregation") {
    val orders = Seq((1L, "F", "HIGH", 10.0), (2L, "O", "HIGH", 20.0),
      (3L, "F", "LOW", 5.0), (4L, "P", "LOW", 2.5))
      .toDF("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    val out = Relational.pivotOrderStatus(orders).orderBy("o_orderpriority").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("HIGH", "LOW"))
    assert(out(0).getAs[Double]("F") === 10.0 && out(0).getAs[Double]("O") === 20.0)
    assert(out(0).isNullAt(out(0).fieldIndex("P")))
    assert(out(1).getAs[Double]("P") === 2.5)
  }

  test("unpivot emits one row per (key, metric)") {
    val cust = Seq((1L, 50.5, 3)).toDF("c_custkey", "c_acctbal", "c_nationkey")
    val out = Relational.unpivotCustomer(cust).orderBy("metric").collect()
    assert(out.map(r => (r.getString(1), r.getDouble(2))).toSeq ===
      Seq(("acctbal", 50.5), ("nationkey", 3.0)))
  }

  test("set ops split nation keys into disjoint tagged layers") {
    val cust = Seq(1, 1, 2, 3).map(n => (n.toLong, n)).toDF("c_custkey", "c_nationkey")
    val supp = Seq(2, 3, 4).map(n => (n.toLong, n)).toDF("s_suppkey", "s_nationkey")
    val out = Relational.nationSetOps(cust, supp)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toSet
    assert(out === Set(2 -> "both", 3 -> "both", 1 -> "customer_only", 4 -> "supplier_only"))
  }

  test("bm25 ranks the doc with more matching rarer terms first") {
    val corpus = (Seq((0L, "apple banana cherry"), (1L, "apple apple apple"),
      (2L, "banana date elderberry")) ++
      Seq.tabulate(20)(i => (10L + i, "filler text goes here"))).toDF("doc_id", "text")
    val qs = Seq((0, "apple banana")).toDF("question_id", "question")
    val out = Retrieval.bm25Search(qs, corpus, k = 3).orderBy("rank").collect()
    // doc 0 matches both terms; docs 1/2 one each
    assert(out.head.getAs[Long]("doc_id") === 0L)
    assert(out.head.getAs[Long]("n_terms") === 2L)
    assert(out.length === 3)
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("multiset ops keep bag multiplicities that distinct set ops lose") {
    val orders = (Seq.fill(3)(("F", "HIGH")) ++ Seq.fill(1)(("O", "HIGH")) ++
      Seq.fill(2)(("F", "LOW"))).zipWithIndex
      .map { case ((st, pr), i) => (i.toLong, st, pr) }
      .toDF("o_orderkey", "o_orderstatus", "o_orderpriority")
    val out = graft.operators.Relational
      .multisetPriorityOps(orders)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // HIGH: 3 F vs 1 O → intersect_all 1, except_all 2; LOW: 2 F vs 0 O → except_all 2
    assert(out === Set(("HIGH", 1L, "intersect_all"),
      ("HIGH", 2L, "except_all"), ("LOW", 2L, "except_all")))
  }

  test("trailing RANGE window counts only events inside the time band") {
    val ev = Seq(
      (1L, 1L, 1000_000_000_000L, 1.0),   // t=1000s
      (2L, 1L, 1500_000_000_000L, 2.0),   // t=1500s: within 600s of #1
      (3L, 1L, 2200_000_000_000L, 4.0),   // t=2200s: outside both
      (4L, 2L, 1000_000_000_000L, 8.0))
      .toDF("event_id", "user_id", "ts_ns", "value")
    val out = graft.operators.Relational.trailingEventWindow(ev, windowSec = 600)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq === Seq((1L, 1L, 1.0), (2L, 2L, 3.0), (3L, 1L, 4.0), (4L, 1L, 8.0)))
  }

  test("doc keywords rank rare high-tf terms above common ones") {
    val docs = (Seq((0L, "zebra zebra zebra common common"),
      (1L, "common word word")) ++
      Seq.tabulate(8)(i => (10L + i, "common filler"))).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.topTfidfTerms(docs, k = 2)
    val top0 = out.filter(col("doc_id") === 0 && col("rank") === 1)
      .select("term").head().getString(0)
    assert(top0 === "zebra") // tf=3 × rare beats tf=2 × ubiquitous
    assert(out.filter(col("rank") > 2).count() === 0)
  }

  test("approx sketches land within tolerance of the exact aggregates") {
    val events = Seq.tabulate(5000)(i =>
      (s"t${i % 3}", (i * 7919L) % 1200, (i % 100).toDouble))
      .toDF("event_type", "user_id", "value")
    val out = graft.operators.Relational.approxEventStats(events).collect()
    assert(out.length === 3)
    out.foreach { r =>
      val (approx, exact) = (r.getAs[Long]("approx_users"), r.getAs[Long]("exact_users"))
      assert(math.abs(approx - exact).toDouble / exact < 0.15,
        s"HLL estimate $approx too far from exact $exact")
      val (p50a, p50e) = (r.getAs[Double]("approx_p50"), r.getAs[Double]("exact_p50"))
      assert(math.abs(p50a - p50e) <= 2.0, s"approx p50 $p50a vs exact $p50e")
      // the driver-checkable verdict columns must agree with the bounds
      assert(r.getAs[Boolean]("users_ok") && r.getAs[Boolean]("p50_ok"),
        s"verdict columns must hold: $r")
    }
  }

  test("scalar quantization reconstructs within half a step") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(3)
    val vecs = Seq.tabulate(50)(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 4 - 2))).toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantize(vecs)
      .join(vecs, "vec_id")
      .selectExpr("vec_id", "q_min", "q_scale",
        "from_json(q_codes, 'array<int>') AS codes", "embedding")
      .collect()
    out.foreach { r =>
      val (qmin, qscale) = (r.getDouble(1), r.getDouble(2))
      val codes = r.getSeq[Int](3); val orig = r.getSeq[Float](4)
      codes.zip(orig).foreach { case (c, x) =>
        assert(c >= 0 && c <= 255)
        assert(math.abs((qmin + c * qscale) - x) <= qscale * 0.51 + 1e-6,
          s"dequant error beyond half a step for $x") }
    }
  }

  test("scalar quantization of a constant vector is all zeros, scale 0") {
    import graft.operators.Similarity
    val vecs = Seq((1L, Seq(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val r = Similarity.scalarQuantize(vecs).head()
    assert(r.getDouble(2) === 0.0 && r.getString(3) === "[0,0,0]")
  }

  test("JL projection preserves relative distances roughly and is deterministic") {
    import graft.operators.Embedding
    val rnd = new scala.util.Random(9)
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val out = Embedding.randomProjection(vecs, inDim = 64, outDim = 16)
    assert(out.count() === 40L * 16)
    // deterministic across partitionings
    val a = out.orderBy("vec_id", "out_pos").collect().map(_.getDouble(2)).toSeq
    val b = Embedding.randomProjection(vecs.repartition(7), 64, 16)
      .orderBy("vec_id", "out_pos").collect().map(_.getDouble(2)).toSeq
    assert(a === b)
    // JL property (loose): projected norm within 2x of scaled original
    val byVec = out.orderBy("vec_id", "out_pos").collect()
      .grouped(16).map(rs => (rs.head.getLong(0),
        math.sqrt(rs.map(r => r.getDouble(2) * r.getDouble(2)).sum))).toMap
    val orig = vecs.collect().map(r => (r.getLong(0),
      math.sqrt(r.getSeq[Float](1).map(x => x * x.toDouble).sum))).toMap
    orig.foreach { case (id, n0) =>
      val ratio = byVec(id) / n0
      assert(ratio > 0.4 && ratio < 2.5, s"vec $id norm ratio $ratio out of range") }
  }

  test("label centroids equal the arithmetic mean per component") {
    import graft.operators.Embedding
    val vecs = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 6.0f)), (1, Seq(10.0f, 0.0f)))
      .toDF("label", "embedding")
    val out = Embedding.labelCentroids(vecs)
      .orderBy("label", "pos").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((0, 0, 2L, 2.0), (0, 1, 2L, 4.0), (1, 0, 1L, 10.0), (1, 1, 1L, 0.0)))
  }

  test("connected components converge on a multi-hop chain where one-hop is wrong") {
    val d = Seq.tabulate(8)(i => Tuple1(i.toLong)).toDF("doc_id")
    // chain 0-3-5-6-7 (diameter 4) + pair 1-2 + isolated 4
    val pairs = Seq((3L, 5L), (0L, 3L), (5L, 6L), (6L, 7L), (1L, 2L))
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(d, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 0L, 3L -> 0L, 5L -> 0L, 6L -> 0L, 7L -> 0L,
      1L -> 1L, 2L -> 1L, 4L -> 4L))
    // the single-round approximation provably differs on the chain tail
    val oneHop = Dedup.dupClusters(d, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneHop(7L) === 6L && out(7L) === 0L)
  }

  test("connected components agree with union-find on random graphs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val docs = (0 until n).map(i => Tuple1(i.toLong)).toDF("doc_id")
      val pairs = edges.toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(docs, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("dup clusters: every member points at the minimum id of its pair group") {
    val d = Seq.tabulate(6)(i => Tuple1(i.toLong)).toDF("doc_id")
    val pairs = Seq((0L, 3L), (3L, 5L), (1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(d, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(0L) === (0L, true))
    assert(out(3L) === (0L, false))
    assert(out(5L) === (3L, false)) // one-hop label: 5's neighbors = {3}
    assert(out(1L) === (1L, true) && out(2L) === (1L, false))
    assert(out(4L) === (4L, true)) // isolated doc is its own canonical
  }

  test("count-min sketch: est >= exact always, exact at ample width, overestimates under collision") {
    val docs = Seq((1L, "a a a b b c"), (2L, "a c d")).toDF("doc_id", "text")
    val wide = graft.operators.TextAnalysis
      .cmsTermCounts(docs, Seq("a", "b", "c", "d", "nope"), depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(wide("a") == ((4L, 4L)) && wide("b") == ((2L, 2L)))
    assert(wide("c") == ((2L, 2L)) && wide("d") == ((1L, 1L)))
    assert(wide("nope")._2 == 0L && wide("nope")._1 >= 0L)
    // width 1: every key shares the single bucket per row → est = total tokens
    val tiny = graft.operators.TextAnalysis
      .cmsTermCounts(docs, Seq("a", "d"), depth = 2, width = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tiny("a") == 9L && tiny("d") == 9L) // overestimate, never under
  }

  test("count-min sketch merge is element-wise and order-free") {
    val agg = new graft.functions.CountMinAgg(3, 16)
    val keys = Seq("x", "y", "x", "z", "x", "y")
    val whole = keys.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = keys.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(whole.toSeq == merged.toSeq)
    // the estimate of a key is the min over its row buckets
    assert((0 until 3).map(i =>
      whole(i * 16 + graft.functions.CountMinAgg.bucket(i, "x", 16))).min == 3L)
  }

  test("unigramSurprisal: hand-computed corpus unigram surprisal") {
    // counts: a=2, b=2, c=1, total=5 → s(a)=s(b)=ln(2.5), s(c)=ln(5)
    val tiny = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.unigramSurprisal(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((3L, 0.9163)))  // 3·916291 / 3 / 1e6 rounded
    assert(out(2L) == ((2L, 1.2629)))  // (916291+1609438) / 2 / 1e6
  }

  test("tokenBudgetPlan: exact shares, and a trillion-token budget does not wrap") {
    val plan = Sampling.tokenBudgetPlan(docs, Seq("en" -> 0.7, "de" -> 0.3),
      budgetTokens = 1000L).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("target_tokens"), r.getAs[Boolean]("repeats_data")))).toMap
    // floor(1000 * 0.7) / floor(1000 * 0.3): exact integer share math
    assert(plan("en")._1 == 700L && plan("de")._1 == 300L)
    // the silent-negative-wrap regression: 15e12 * 1e6 > 2^63 overflows a
    // plain Long multiply; the DECIMAL(38,0) form must keep every target
    // positive and sum (to within per-stratum floor loss) to the budget
    val big = Sampling.tokenBudgetPlan(docs, Seq("en" -> 1.0, "de" -> 0.5),
      budgetTokens = 15_000_000_000_000L).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("target_tokens"),
        r.getAs[Boolean]("repeats_data")))
    assert(big.forall(_._2 > 0), s"trillion-token targets must stay positive: $big")
    val total = big.map(_._2).sum
    assert(total <= 15_000_000_000_000L && total > 15_000_000_000_000L - 2,
      s"targets must partition the budget, got $total")
    assert(big.forall(_._3), "targets far beyond available tokens must repeat data")
  }

  test("yearSpineAgg: recursive spine includes empty years between min and max") {
    val orders = Seq(
      (1L, 10L, java.sql.Date.valueOf("1994-03-01")),
      (2L, 10L, java.sql.Date.valueOf("1994-07-15")),
      (3L, 20L, java.sql.Date.valueOf("1997-01-02")) // 1995/1996 have no orders
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val out = graft.operators.Relational.yearSpineAgg(orders).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1994, 1995, 1996, 1997))
    assert(out(1994) == ((2L, 1L)))
    assert(out(1995) == ((0L, 0L)))
    assert(out(1996) == ((0L, 0L)))
    assert(out(1997) == ((1L, 1L)))
  }
}
