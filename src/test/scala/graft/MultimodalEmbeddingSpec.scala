package graft

import org.apache.spark.sql.functions._
import graft.operators.{Embedding, Multimodal}

class MultimodalEmbeddingSpec extends SparkSpec {
  import spark.implicits._

  test("columnar decodeMeta: byte length, head hex and the length-derived geometry") {
    val docs = Seq((1L, "hello world"), (2L, "x" * 250)).toDF("doc_id", "text")
    val meta = Multimodal.decodeMeta(Multimodal.binaryDocs(docs))
      .select("doc_id", "byte_len", "head_hex", "width", "height", "n_frames")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // width = 64 + len % 576, height = 64 + 7·len % 416, frames = len / 100 + 1
    assert(meta === Seq(
      Seq(1L, 11, "68656c6c6f20776f", 75, 141, 1L),
      Seq(2L, 250, "7878787878787878", 314, 150, 3L)))
  }

  test("frame sampling emits every step-th frame with 25fps timestamps") {
    val meta = Seq((1L, 25L)).toDF("doc_id", "n_frames")
    val out = Multimodal.frameSample(meta, step = 10).orderBy("sample_idx").collect()
    assert(out.map(_.getAs[Long]("frame_idx")).toSeq === Seq(0L, 10L, 20L))
    assert(out.map(_.getAs[Long]("frame_ts_ms")).toSeq === Seq(0L, 400L, 800L))
  }

  test("E1 featurizer emits unit-norm vectors of the configured dim") {
    val docs = Seq((1L, "spark engines process data fast"),
      (2L, "vectors embed documents")).toDF("doc_id", "text")
    val model = Embedding.fit(docs, dim = 32)
    val out = Embedding.embed(model, docs)
    val norms = out.select(
      sqrt(aggregate(col("embedding").cast("array<double>"), lit(0.0),
        (a, x) => a + x * x)).as("n")).as[Double].collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-5))
    assert(out.select(size(col("embedding"))).as[Int].collect().forall(_ === 32))
  }

  test("E1 featurizer is deterministic across fits") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("doc_id", "text")
    val v1 = Embedding.embed(Embedding.fit(docs, dim = 16), docs)
      .select("embedding").as[Seq[Float]].collect().toSeq
    val v2 = Embedding.embed(Embedding.fit(docs, dim = 16), docs)
      .select("embedding").as[Seq[Float]].collect().toSeq
    assert(v1 === v2)
  }

  test("tfBuckets counts tokens into stable md5 buckets, stopwords removed") {
    val docs = Seq((1L, "the quick brown fox the fox")).toDF("doc_id", "text")
    val out = Embedding.tfBuckets(docs, dim = 64).collect()
    // "the" (stopword, ×2) removed; quick, brown ×1; fox ×2
    assert(out.map(_.getAs[Long]("tf")).sum === 4)
    assert(out.forall { r =>
      val b = r.getAs[Long]("bucket"); b >= 0 && b < 64
    })
  }
}
