package graft

import org.apache.spark.sql.functions._
import graft.operators.{Relational, Retrieval, Similarity, Validation}

class HybridSaltedSpec extends SparkSpec {
  import spark.implicits._

  test("IVF with nprobe == nlist is exact: equals brute-force top-k") {
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val cands = Seq.tabulate(200)(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val qs = Seq.tabulate(3)(i => (i.toLong, vec())).toDF("q_vec_id", "q_embedding")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_vec_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = key(Retrieval.knnCosine(qs, cands, k = 5))
    val ivf = key(Similarity.ivfTopK(qs, cands, k = 5, nlist = 4, nprobe = 4)
      .select("q_vec_id", "vec_id", "score", "rank"))
    assert(ivf === exact)
  }

  test("MLlib BRP-LSH: ranks by cosine, strong recall@10 vs brute force, run-reproducible") {
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val cands = Seq.tabulate(300)(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val qs = Seq.tabulate(5)(i => (i.toLong, vec())).toDF("q_vec_id", "q_embedding")
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Retrieval.knnCosine(qs, cands, k = 10))
    // generous single-table params: every pair shares a bucket often enough
    val a = Similarity.brpLshTopK(qs, cands, k = 10, bucketLength = 4.0,
      numHashTables = 4)
    val recall = (hits(a) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@10 = $recall")
    // same seed → identical output across runs (the rows-only driver
    // check depends on this)
    val b = Similarity.brpLshTopK(qs, cands, k = 10, bucketLength = 4.0,
      numHashTables = 4)
    assert(a.orderBy("q_vec_id", "rank").collect().toSeq ==
      b.orderBy("q_vec_id", "rank").collect().toSeq)
    // a zero vector is unrankable: it must be excluded, not scored 0.5
    val withZero = cands.union(Seq((999L, Seq.fill(16)(0f))).toDF("vec_id", "embedding"))
    val z = Similarity.brpLshTopK(qs, withZero, k = 300, bucketLength = 4.0,
      numHashTables = 4)
    assert(!z.collect().exists(_.getLong(1) == 999L))
  }

  test("pqCodes: codebook vectors quantize to themselves in every subspace") {
    val rnd = new scala.util.Random(13)
    val vecs = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(32)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val out = Similarity.pqCodes(vecs, m = 4, k = 8).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(c => r.getInt(c))).toMap
    // recompute the codebook selection independently (md5 hash-minimal ids)
    def bucket(id: Long) = Integer.parseInt(java.security.MessageDigest
      .getInstance("MD5").digest(id.toString.getBytes)
      .map("%02x".format(_)).mkString.substring(0, 4), 16)
    val cbIds = (0L until 60L).sortBy(id => (bucket(id), id)).take(8)
    cbIds.zipWithIndex.foreach { case (id, j) =>
      assert(out(id) == Seq.fill(4)(j),
        s"codebook vector $id (codeword $j) must be its own nearest codeword")
    }
    // codes are within range for everyone
    out.values.foreach(cs => cs.foreach(c => assert(c >= 0 && c < 8)))
  }

  test("pqAdcTopK: k ranked rows per query, cosine-bounded scores, partitioning-invariant") {
    val rnd = new scala.util.Random(17)
    def vec() = Seq.fill(32)(rnd.nextFloat() * 2 - 1)
    val cands = Seq.tabulate(80)(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val qs = Seq.tabulate(3)(i => (i.toLong, vec())).toDF("q_vec_id", "q_embedding")
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.pqAdcTopK(qs, c, k = 5, m = 4, codebookSize = 8)
        .orderBy("q_vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val out = run(cands)
    assert(out.size == 15)
    assert(out.groupBy(_._1).values.forall(_.map(_._4).sorted == Seq(1, 2, 3, 4, 5)))
    assert(out.forall(r => r._3 >= -1.0001 && r._3 <= 1.0001))
    assert(run(cands.repartition(7)) == out) // codebook + ranks stable under partitioning
    // a zero-norm query is unrankable: excluded, not ranked with NULL scores
    val qz = qs.union(Seq((9L, Seq.fill(32)(0f))).toDF("q_vec_id", "q_embedding"))
    val z = Similarity.pqAdcTopK(qz, cands, k = 5, m = 4, codebookSize = 8).collect()
    assert(!z.exists(_.getLong(0) == 9L))
  }

  test("multi-probe LSH never hurts recall and never scores a candidate twice") {
    val rnd = new scala.util.Random(21)
    def vec() = Seq.fill(12)(rnd.nextFloat() * 2 - 1)
    val cands = Seq.tabulate(300)(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val qs = Seq.tabulate(5)(i => (i.toLong, vec())).toDF("q_vec_id", "q_embedding")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("q_vec_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Retrieval.knnCosine(qs, cands, k = 5))
    val single = Similarity.lshTopK(qs, cands, k = 5, dims = 4, probes = 1)
    val multi = Similarity.lshTopK(qs, cands, k = 5, dims = 4, probes = 5)
    val dups = multi.groupBy("q_vec_id", "vec_id").count()
      .filter(col("count") > 1).count()
    assert(dups === 0)
    val rs = (hits(single) & exact).size
    val rm = (hits(multi) & exact).size
    assert(rm >= rs, s"multi-probe recall $rm fell below single-probe $rs")
    assert(rm > 0)
    // zero-norm exclusion, the family-wide contract (brp/pq siblings
    // have the twin assertions): a zero CANDIDATE must not surface as a
    // NULL-score row, and a zero QUERY is unrankable and emits nothing
    val zc = cands.union(Seq((999L, Seq.fill(12)(0f))).toDF("vec_id", "embedding"))
    assert(!Similarity.lshTopK(qs, zc, k = 300, dims = 4).collect()
      .exists(_.getLong(1) == 999L), "zero-norm candidate must be excluded")
    val zq = qs.union(Seq((99L, Seq.fill(12)(0f))).toDF("q_vec_id", "q_embedding"))
    assert(!Similarity.lshTopK(zq, cands, k = 5, dims = 4).collect()
      .exists(_.getLong(0) == 99L), "zero-norm query must emit no rows")
  }

  test("recallAudit: exact path scores 1.0, approximate paths stay in [0, 1]") {
    val rnd = new scala.util.Random(13)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val cands = Seq.tabulate(200)(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val qs = Seq.tabulate(3)(i => (i.toLong, vec())).toDF("q_vec_id", "q_embedding")
    val exact = Retrieval.knnCosine(qs, cands, k = 5)
    val out = Similarity.recallAudit(exact, Seq(
      // nprobe == nlist probes everything → exact → recall must be 1.0
      "ivf_all" -> Similarity.ivfTopK(qs, cands, k = 5, nlist = 4, nprobe = 4),
      "sign_lsh" -> Similarity.lshTopK(qs, cands, k = 5, dims = 4)))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("ivf_all")._3 === 1.0)
    assert(out("sign_lsh")._3 >= 0.0 && out("sign_lsh")._3 <= 1.0)
    assert(out("ivf_all")._2 === 15) // 3 queries × k=5
  }

  test("IVF-SQ8 self-query hits itself at ~1.0 and tracks uncompressed IVF") {
    val rnd = new scala.util.Random(19)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val cands = Seq.tabulate(250)(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    // query 0 IS candidate 7's vector: the dequantized copy must still
    // win with a score within the 255-step grid's reach of 1.0
    val c7 = cands.filter(col("vec_id") === 7L).collect().head.getSeq[Float](1)
    val qs = (Seq((0L, c7)) ++ Seq.tabulate(3)(i => ((i + 1).toLong, vec())))
      .toDF("q_vec_id", "q_embedding")
    val sq = Similarity.ivfSq8TopK(qs, cands, k = 5, nlist = 4, nprobe = 4)
    val top0 = sq.filter(col("q_vec_id") === 0L).orderBy("rank").collect().head
    assert(top0.getLong(1) == 7L && top0.getDouble(2) >= 0.999)
    // at equal parameters the compressed index agrees with uncompressed
    // IVF on >= 80% of the returned pairs
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_vec_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Similarity.ivfTopK(qs, cands, k = 5, nlist = 4, nprobe = 4))
    val agree = (pairs(sq) & full).size.toDouble / full.size
    assert(agree >= 0.8, s"SQ8 agreement with IVF fell to $agree")
    // partitioning cannot move codes, cells, or ranks
    assert(pairs(Similarity.ivfSq8TopK(qs, cands.repartition(7), k = 5,
      nlist = 4, nprobe = 4)) == pairs(sq))
  }

  test("recallAudit materializes the exact baseline once for all consumers") {
    val rnd = new scala.util.Random(17)
    def vec() = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
    val cands = Seq.tabulate(100)(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val qs = Seq.tabulate(2)(i => (i.toLong, vec())).toDF("q_vec_id", "q_embedding")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    // branch construction has its own driver-state jobs (IVF collects
    // its codebook sample) — build everything first, then isolate the
    // jobs recallAudit itself runs
    val exact = Retrieval.knnCosine(qs, cands, k = 5)
    val branches = Seq("a" -> Similarity.lshTopK(qs, cands, k = 5, dims = 4),
      "b" -> Similarity.ivfTopK(qs, cands, k = 5, nlist = 4, nprobe = 2))
    spark.sparkContext.addSparkListener(listener)
    try {
      val audit = Similarity.recallAudit(exact, branches)
      // listener delivery is async; the checkpoint action itself is not
      val deadline = System.currentTimeMillis() + 5000
      while (jobs < 1 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      // the checkpoint is EAGER: brute force runs at audit build (AQE
      // materializes its stages as >=1 job here), not once per consumer
      assert(jobs >= 1, "exact baseline was not materialized at audit build")
      val jobsAtBuild = jobs
      // ...and the audit plan reads that one checkpointed RDD in every
      // consumer (expected-aggregate + each method branch) — the exact
      // path's own plan appears nowhere, so collecting the audit cannot
      // re-derive it
      val plan = audit.queryExecution.optimizedPlan.toString
      val nRdd = "LogicalRDD".r.findAllIn(plan).size
      assert(nRdd === 3, // expected-aggregate + 2 method branches
        s"expected 3 checkpoint reads in the plan, saw $nRdd:\n$plan")
      assert(jobsAtBuild === jobs, "plan inspection must not run jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("IVF cells partition the candidates: each id scored at most once per query") {
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
    val cands = Seq.tabulate(100)(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val qs = Seq.tabulate(2)(i => (i.toLong, vec())).toDF("q_vec_id", "q_embedding")
    val out = Similarity.ivfTopK(qs, cands, k = 100, nlist = 5, nprobe = 5)
    val dups = out.groupBy("q_vec_id", "vec_id").count().filter(col("count") > 1).count()
    assert(dups === 0)
    assert(out.count() === 200) // k=100 ≥ candidates: every candidate ranked once
  }

  test("Q3 hybrid prefers vector results, falls back per-question") {
    val vector = Seq((0, 10L, 0.9, 1), (1, 11L, 0.8, 1))
      .toDF("question_id", "doc_id", "score", "rank")
    val keyword = Seq((0, 99L, 0.5, 1), (2, 12L, 0.4, 1))
      .toDF("question_id", "doc_id", "score", "rank")
    val out = Retrieval.hybridSearch(vector, keyword).orderBy("question_id").collect()
    // q0: vector wins (keyword row dropped); q1: vector; q2: keyword fallback
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getString(4))).toSeq ===
      Seq((0, 10L, "vector"), (1, 11L, "vector"), (2, 12L, "keyword")))
  }

  test("salted two-phase aggregation equals the direct groupBy") {
    val df = Seq.tabulate(1000)(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i.toLong))
      .toDF("key", "v")
    val salted = Relational.saltedCountSum(df, "key", "v", saltBuckets = 8)
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val direct = df.groupBy("key").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(salted.toSeq === direct.toSeq)
  }

  test("observe counters ride the job without a second pass") {
    val docs = Seq((1L, "good text", "en", 9L), (2L, "", "en", 0L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val validated = Validation.validate(docs, maxChars = 500, langWhitelist = Seq("en"))
    val observed = Validation.withUsageCounters(validated)
    observed.collect() // any action materializes the metrics
    val m = observed.queryExecution.observedMetrics("ingest_metrics")
    assert(m.getAs[Long]("total") === 2L)
    assert(m.getAs[Long]("valid") === 1L)
    assert(m.getAs[Long]("chars_processed") === 9L)
  }
}
