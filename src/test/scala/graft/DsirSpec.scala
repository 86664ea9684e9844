package graft

import org.apache.spark.sql.functions._
import graft.operators.Dsir
import graft.functions.{Kernel, NgramJoin}
import org.apache.spark.sql.types.{ArrayType, StringType}

/** DSIR importance resampling: feature extraction, a hand-computed
  * weight under a degenerate 1-bucket model, target-affinity ordering,
  * partitioning invariance, the Gumbel-top-k determinism, and the
  * artifact roundtrip. */
class DsirSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "lang", "text")

  private val tgt = coalesce(col("lang"), lit("")) === "en"

  /** The engine's fixed-point step, reimplemented independently. */
  private def micro(x: Double): Long =
    (BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP) * BigDecimal(1000000)).toLongExact

  test("NgramJoin kernel equals the composed HOF n-gram forms row-for-row") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(99L + i)))
    val wordGen = Gen.choose(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val arrGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, wordGen))
    val arrs = samples(arrGen, 300) :+ Seq.empty[String] :+ Seq("solo") :+
      Seq("x", "x", "x", "x")
    val df = arrs.toDF("ws")
    def kernel(n: Int, distinct: Boolean) =
      Kernel.call(NgramJoin, "ngrams", ArrayType(StringType, containsNull = false),
        col("ws"), n, distinct)
    // the three composed forms the kernel replaces, evaluated side by side
    val bigramsHof = when(size(col("ws")) >= 2,
      transform(sequence(lit(1), size(col("ws")) - 1),
        i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    def shinglesHof(n: Int) =
      when(size(col("ws")) >= n,
        transform(sequence(lit(0), size(col("ws")) - n),
          i => array_join(slice(col("ws"), i + 1, lit(n)), " ")))
    val rows = df.select(
      bigramsHof.as("bh"), kernel(2, distinct = false).as("bn"),
      array_distinct(shinglesHof(3)).as("s3h"), kernel(3, distinct = true).as("s3n"),
      shinglesHof(4).as("s4h"), kernel(4, distinct = false).as("s4n")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1), s"bigram mismatch: $r")
      assert(Option(r.get(2)).map(_ => r.getSeq[String](2)).getOrElse(Seq()) ===
        r.getSeq[String](3), s"distinct 3-shingle mismatch: $r")
      assert(Option(r.get(4)).map(_ => r.getSeq[String](4)).getOrElse(Seq()) ===
        r.getSeq[String](5), s"4-gram mismatch: $r")
    }
  }

  test("featuresFromWords emits word unigrams plus adjacent bigrams") {
    def features(ws: Seq[String]): Seq[String] =
      Seq(ws).toDF("ws").select(Dsir.featuresFromWords(col("ws")).as("f"))
        .as[Seq[String]].collect()(0)
    assert(features(Seq("big", "cats", "run", "fast")) == Seq("big", "cats", "run", "fast",
      "big cats", "cats run", "run fast"))
    assert(features(Seq("solo")) == Seq("solo"))
    assert(features(Seq.empty).isEmpty)
  }

  test("fitBuckets counts are consistent and every row carries the totals") {
    val d = docs((1L, "en", "alpha beta alpha"), (2L, "de", "beta gamma"))
    // features: doc1 = alpha beta alpha + 2 bigrams = 5 (target),
    //           doc2 = beta gamma + 1 bigram = 3 (raw only)
    val m = Dsir.fitBuckets(d, tgt, numBuckets = 16).collect()
    assert(m.map(_.getAs[Long]("raw_cnt")).sum == 8L)
    assert(m.map(_.getAs[Long]("tgt_cnt")).sum == 5L)
    assert(m.forall(r => r.getAs[Long]("tgt_cnt") <= r.getAs[Long]("raw_cnt")))
    assert(m.forall(r => r.getAs[Long]("tgt_tot") == 5L &&
      r.getAs[Long]("raw_tot") == 8L && r.getAs[Long]("n_buckets") == 16L))
  }

  test("hand-computed weights when no buckets collide") {
    val d = docs((1L, "en", "alpha beta"), (2L, "de", "gamma"))
    // features: alpha/beta/"alpha beta" (target), gamma (raw only);
    // tgt_tot=3, raw_tot=4. 4 occupied buckets proves md5 put each
    // feature in its own bucket, so the hand math below is exact.
    val m = Dsir.fitBuckets(d, tgt)
    assert(m.count() == 4)
    val tFeat = micro(math.log((2.0 * (4 + 1024)) / (2.0 * (3 + 1024))))
    val gamma = micro(math.log((1.0 * (4 + 1024)) / (2.0 * (3 + 1024))))
    val w = Dsir.logImportance(d, m).orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(w == Seq((1L, 3L, 3 * tFeat / 1e6), (2L, 1L, gamma / 1e6)))
  }

  test("the 1-bucket degenerate model weights every feature identically") {
    // B=1 collapses p and q to the same point mass: every llr is
    // ln((T+1)(R+1)/((R+1)(T+1))) = 0 — the fixed-size contract's
    // floor case stays total and exact instead of erroring
    val d = docs((1L, "en", "alpha beta"), (2L, "de", "gamma"))
    val w = Dsir.logImportance(d, Dsir.fitBuckets(d, tgt, numBuckets = 1))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(w == Seq((1L, 3L, 0.0), (2L, 1L, 0.0)))
  }

  test("weights order documents by target affinity") {
    // target docs speak 'alpha', raw-only docs speak 'omega'
    val d = docs(
      (1L, "en", "alpha alpha alpha"), (2L, "en", "alpha alpha common"),
      (3L, "de", "omega omega omega"), (4L, "de", "omega omega common"),
      (5L, "xx", "alpha alpha alpha"), (6L, "xx", "omega omega omega"))
    val w = Dsir.logImportance(d, Dsir.fitBuckets(d, tgt))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the alpha-speaking raw doc outweighs the omega-speaking one
    assert(w(5L) > w(6L))
    // and target-ish docs outweigh anti-target ones generally
    assert(w(1L) > w(3L) && w(2L) > w(4L))
  }

  test("weights are partitioning-invariant (order-free long sums)") {
    val d = docs((1L, "en", "a b c d e f"), (2L, "de", "c d q q z"),
      (3L, "en", "z z q y b"), (4L, "fr", "f e d c b a"))
    val m = Dsir.fitBuckets(d, tgt, numBuckets = 8)
    val a = Dsir.logImportance(d, m).orderBy("doc_id").collect().toSeq
    val b = Dsir.logImportance(d.repartition(7), m.repartition(5))
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("scoreWith under a collected model equals logImportance row-for-row") {
    val d = docs(
      (1L, "en", "alpha beta beta gamma"), (2L, "de", "beta gamma"),
      (3L, "en", "alpha alpha"), (4L, "fr", "123 456"), (5L, "xx", "omega alpha"))
    val m = Dsir.fitBuckets(d, tgt, numBuckets = 32)
    val joinPath = Dsir.logImportance(d, m).orderBy("doc_id").collect().toSeq
    val mapPath = Dsir.scoreWith(Dsir.collectModel(m), d)
      .orderBy("doc_id").collect().toSeq
    // bit-identical including schema order: same llr6 Spark expressions,
    // only the delivery differs (broadcast join vs map literal)
    assert(mapPath == joinPath)
    // the tokenless doc (id 4) is dropped by BOTH paths
    assert(!joinPath.exists(_.getLong(0) == 4L) && joinPath.size == 4)
  }

  test("scoreWith runs UNCHANGED on a stream and equals the batch scores") {
    // the stateless-claim cash-out: no aggregation, no watermark, no
    // state store — the same scoreWith call compiles as an append-mode
    // streaming query, and its rows equal the batch run's exactly
    implicit val sqlCtx = spark.sqlContext
    val d = docs(
      (1L, "en", "alpha beta beta gamma"), (2L, "de", "beta gamma"),
      (3L, "en", "alpha alpha"), (4L, "fr", "123 456"), (5L, "xx", "omega alpha"))
    val dm = Dsir.collectModel(Dsir.fitBuckets(d, tgt, numBuckets = 32))
    val batch = Dsir.scoreWith(dm, d).orderBy("doc_id").collect().toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q = Dsir.scoreWith(dm, input.toDS().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "en", "alpha beta beta gamma"), (2L, "de", "beta gamma"))
      q.processAllAvailable()
      input.addData((3L, "en", "alpha alpha"), (4L, "fr", "123 456"),
        (5L, "xx", "omega alpha"))
      q.processAllAvailable()
      val streamed = spark.table("dsir_stream").orderBy("doc_id").collect().toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("gumbelTopK is deterministic, sized, and ranked by perturbed weight") {
    val d = docs((1 to 40).map(i =>
      (i.toLong, if (i % 3 == 0) "en" else "de", s"word$i alpha beta gamma")): _*)
    val w = Dsir.logImportance(d, Dsir.fitBuckets(d, tgt))
    val s1 = Dsir.gumbelTopK(w, n = 10).collect().toSeq
    val s2 = Dsir.gumbelTopK(w.repartition(9), n = 10).collect().toSeq
    assert(s1.size == 10 && s1 == s2)
    // keys are emitted descending (ties impossible at 9 decimals here)
    val keys = s1.map(_.getAs[Double]("g_key"))
    assert(keys == keys.sorted.reverse)
  }

  test("artifact roundtrip: save → load → weight equals in-memory") {
    val d = docs((1L, "en", "alpha beta beta"), (2L, "es", "beta gamma"),
      (3L, "en", "alpha alpha"))
    val m = Dsir.fitBuckets(d, tgt)
    val dir = java.nio.file.Files.createTempDirectory("dsir-model").toString + "/m"
    Dsir.saveDsir(m, dir)
    assert(Dsir.logImportance(d, Dsir.loadDsir(spark, dir)).orderBy("doc_id")
      .collect().toSeq ==
      Dsir.logImportance(d, m).orderBy("doc_id").collect().toSeq)
  }

  test("loadDsir rejects a wrong-shaped artifact with the column list") {
    val dir = java.nio.file.Files.createTempDirectory("dsir-bad").toString + "/m"
    Seq((1L, "x")).toDF("a", "b").write.parquet(dir)
    val e = intercept[IllegalArgumentException](Dsir.loadDsir(spark, dir))
    assert(e.getMessage.contains("tgt_cnt"))
  }

  test("logImportance refuses an empty target slice descriptively") {
    val d = docs((1L, "de", "nur deutsch hier"))
    val e = intercept[IllegalArgumentException](
      Dsir.logImportance(d, Dsir.fitBuckets(d, tgt)).collect())
    assert(e.getMessage.contains("target"))
  }
}
