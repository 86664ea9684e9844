package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
import graft.functions.{Kernel, MatrixArg, VectorOps}
import graft.operators.Similarity

/** [[graft.functions.MatrixArg]] — the scale-safe quantizer assignment
  * kernel. The contract under test: bit-identical results to the
  * per-centroid expression compositions it replaced (argmax over
  * `array(round(cosine(v, c_j), 6))`, argmin over per-codeword
  * `aggregate(zip_with(...))` distances, per-codeword HOF dots), plus the
  * null/skip edge semantics, at matrix widths the old form could never
  * compile (nlist = 256).
  */
class MatrixArgSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private def randVec(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextFloat() * 2 - 1)

  private def vecDf(vs: Seq[Seq[Float]]) =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

  test("argmax_cosine is bit-identical to the per-centroid round+array_position form") {
    val dim = 16
    val cents = Seq.fill(9)(randVec(dim))
    val df = vecDf(Seq.fill(40)(randVec(dim)) :+ Seq.fill(dim)(0f))
    val old = array(cents.map(c =>
      round(VectorOps.cosineNative(col("embedding"), typedLit(c)), 6)): _*)
    val rows = df.select(
      MatrixArg.argmaxCosine(VectorOps.asDouble(col("embedding")),
        cents.map(_.map(_.toDouble)), 6).as("nu"),
      (array_position(old, array_max(old)) - 1).cast("int").as("legacy")).collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("argmin_sqdist is bit-identical to the aggregate(zip_with) distance form") {
    val dim = 8
    val cw = Seq.fill(7)(randVec(dim).map(_.toDouble))
    val df = vecDf(Seq.fill(40)(randVec(dim)))
    val v = VectorOps.asDouble(col("embedding"))
    val ds = array(cw.map(c => round(aggregate(
      zip_with(v, typedLit(c), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, x) => a + x), 6)): _*)
    val rows = df.select(
      MatrixArg.argminSqdist(v, cw, 6).as("nu"),
      (array_position(ds, array_min(ds)) - 1).cast("int").as("legacy")).collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("dots is bit-identical to the per-row HOF dot products") {
    val dim = 12
    val cw = Seq.fill(5)(randVec(dim).map(_.toDouble))
    val df = vecDf(Seq.fill(30)(randVec(dim)))
    val v = VectorOps.asDouble(col("embedding"))
    val legacy = array(cw.map(c => aggregate(
      zip_with(v, typedLit(c), (x, y) => x * y), lit(0.0), (a, x) => a + x)): _*)
    val rows = df.select(
      MatrixArg.dots(v, cw).as("nu"), legacy.as("legacy")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](0) === r.getSeq[Double](1)) // bit-identical
    }
  }

  test("ties keep the lowest index; zero-norm vectors score 0.0 everywhere") {
    val c = Seq(1.0, 2.0, 3.0)
    val m = Seq(c, Seq(9.0, 9.0, 9.0), c) // rows 0 and 2 tie at cosine 1
    val df = Seq(Seq(1f, 2f, 3f), Seq(0f, 0f, 0f)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val got = df.orderBy("vec_id")
      .select(MatrixArg.argmaxCosine(VectorOps.asDouble(col("embedding")), m, 6))
      .collect().map(_.getInt(0))
    assert(got(0) === 0)
    // all rows score round(0.0) → every index ties → lowest wins
    assert(got(1) === 0)
  }

  test("null/mismatched rows are skipped in arg modes, null elements in dots") {
    val df = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val m = Array(Array(9.9), null, Array(1.0, 0.0))
    val v = VectorOps.asDouble(col("embedding"))
    val r = df.select(Kernel.call(MatrixArg, "argmaxCosine", IntegerType, v, m, 6),
      Kernel.call(MatrixArg, "argminSqdist", IntegerType, v, m, 6),
      Kernel.call(MatrixArg, "dots", ArrayType(DoubleType), v, m)).head
    assert(r.getInt(0) === 2) // rows 0 (wrong dim) and 1 (null) skipped
    assert(r.getInt(1) === 2)
    val dots = r.getSeq[java.lang.Double](2)
    assert(dots(0) == null && dots(1) == null && dots(2) === 1.0)
  }

  test("null vector and all-invalid matrix yield null") {
    val df = Seq((1L, Option.empty[Seq[Float]]), (2L, Some(Seq(1f, 2f))))
      .toDF("vec_id", "embedding")
    val allBad = Seq(Seq(1.0), Seq(1.0, 2.0, 3.0)) // no row matches dim 2
    val rows = df.orderBy("vec_id").select(
      MatrixArg.argmaxCosine(VectorOps.asDouble(col("embedding")),
        allBad, 6).as("c")).collect()
    assert(rows(0).isNullAt(0)) // null vector
    assert(rows(1).isNullAt(0)) // no valid row
  }

  test("interpreted eval (no codegen) matches the codegen path") {
    val dim = 10
    val cw = Seq.fill(6)(randVec(dim).map(_.toDouble))
    val df = vecDf(Seq.fill(20)(randVec(dim)))
    val v = VectorOps.asDouble(col("embedding"))
    val sel = df.orderBy("vec_id").select(
      MatrixArg.argmaxCosine(v, cw, 6), MatrixArg.argminSqdist(v, cw, 6),
      MatrixArg.dots(v, cw))
    val withCodegen = sel.collect()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = sel.collect()
      assert(withCodegen.map(_.toString).toSeq === interpreted.map(_.toString).toSeq)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("ivfTopK runs at nlist=256 (the width the per-centroid form could not compile)") {
    val dim = 16
    val cands = vecDf(Seq.fill(400)(randVec(dim)))
    val queries = Seq.fill(3)(randVec(dim)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("q_vec_id", "q_embedding")
      .select(col("q_vec_id"), col("q_embedding").cast("array<float>").as("q_embedding"))
    val got = Similarity.ivfTopK(queries, cands, k = 5, nlist = 256, nprobe = 16)
      .collect()
    assert(got.length === 15) // 3 queries × k
    val byQ = got.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to 5)) // dense ranks
      val scores = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }
}
