package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def df2(a: Seq[Float], b: Seq[Float]) =
    Seq((a, b)).toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))

  test("native expression equals the higher-order-function composition") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val n = 1 + rnd.nextInt(64)
      val a = Seq.fill(n)(rnd.nextFloat() * 2 - 1)
      val b = Seq.fill(n)(rnd.nextFloat() * 2 - 1)
      val row = df2(a, b).select(
        VectorOps.cosineNative(col("a"), col("b")).as("nat"),
        VectorOps.cosine(col("a"), col("b")).as("hof")).head
      assert(row.getDouble(0) === row.getDouble(1)) // bit-identical, not approx
    }
  }

  test("l2Normalize: unit-norm output, bit-identical to the naive per-element form") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 20) {
      val n = 1 + rnd.nextInt(64)
      val v = Seq.fill(n)(rnd.nextFloat() * 2 - 1)
      val row = Seq(Tuple1(v)).toDF("v")
        .select(col("v").cast("array<float>").as("v"))
        .select(
          VectorOps.l2Normalize(col("v")).as("fast"),
          // the naive O(d^2) form the fold-once rewrite must match bit
          // for bit: same left-to-right squared-sum, sqrt, division
          transform(col("v").cast("array<double>"),
            x => x / sqrt(aggregate(col("v").cast("array<double>"),
              lit(0.0), (acc, y) => acc + y * y))).as("naive"))
        .head
      val fast = row.getSeq[Double](0)
      assert(fast == row.getSeq[Double](1), "must equal the naive form exactly")
      val norm = math.sqrt(fast.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"output must be unit-norm, got $norm")
    }
  }

  test("orthogonal, identical, and opposite vectors") {
    def c(a: Seq[Float], b: Seq[Float]): Double =
      df2(a, b).select(VectorOps.cosineNative(col("a"), col("b"))).head.getDouble(0)
    assert(c(Seq(1f, 0f), Seq(0f, 1f)) === 0.0)
    assert(math.abs(c(Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)) - 1.0) < 1e-12)
    assert(math.abs(c(Seq(1f, 0f), Seq(-1f, 0f)) + 1.0) < 1e-12)
  }

  test("zero vector yields 0.0 (the reference's zero-vector fallback)") {
    val v = df2(Seq(0f, 0f), Seq(1f, 2f))
      .select(VectorOps.cosineNative(col("a"), col("b"))).head.getDouble(0)
    assert(v === 0.0)
  }

  test("null input yields null") {
    val row = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]])).toDF("a", "b")
      .select(VectorOps.cosineNative(col("a"), col("b")).as("s")).head
    assert(row.isNullAt(0))
  }

  test("cosine_sim is callable from SQL after registration") {
    GraftExtensions.register(spark)
    val sql = "SELECT cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), " +
      "CAST(array(1.0, 0.0) AS ARRAY<FLOAT>))"
    assert(math.abs(spark.sql(sql).head.getDouble(0) - 1.0) < 1e-12)
  }

  test("count_contained matches the HOF composition incl. null/empty edges") {
    GraftExtensions.register(spark)
    val rows = spark.sql("""SELECT
      count_contained(array('car', 'wash'), 'a card game') AS a,
      count_contained(array('x', CAST(NULL AS STRING)), 'xyz') AS b,
      count_contained(CAST(array() AS ARRAY<STRING>), 'xyz') AS c,
      count_contained(array('x'), CAST(NULL AS STRING)) AS d""").head
    assert(rows.getInt(0) === 1)   // substring quirk: "car" in "card"
    assert(rows.getInt(1) === 1)   // null word not contained
    assert(rows.getInt(2) === 0)   // empty word set
    assert(rows.isNullAt(3))       // null text -> null
    // SQL input comes from outside the program: a wrong arity fails in
    // the builder, an argument that cannot be cast fails analysis
    val arity = intercept[Exception](spark.sql("SELECT count_contained(array('x'))").collect())
    assert(arity.getMessage.contains("count_contained takes exactly 2 arguments"))
    val typed = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT count_contained(map('a', 1), 'xyz')").collect())
    assert(typed.getMessage.contains("DATATYPE_MISMATCH"), typed.getMessage)
  }

  test("cosine_sim rejects a wrong arity and a non-ARRAY<FLOAT> argument") {
    GraftExtensions.register(spark)
    val floats = "CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)"
    val arity = intercept[Exception](spark.sql(s"SELECT cosine_sim($floats)").collect())
    assert(arity.getMessage.contains("cosine_sim takes exactly 2 arguments"))
    // an ARRAY<INT> or ARRAY<DOUBLE> would cast implicitly; the function
    // takes ARRAY<FLOAT> only, and says so at analysis
    for (arg <- Seq("array(1, 0)", "array(1.0D, 0.0D)", "map('a', 1)")) {
      val typed = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT cosine_sim($arg, $floats)").collect())
      assert(typed.getMessage.contains("DATATYPE_MISMATCH"), typed.getMessage)
      assert(typed.getMessage.contains("cosine_sim expects (ARRAY<FLOAT>, ARRAY<FLOAT>)"),
        typed.getMessage)
    }
  }

  test("cosine_sim returns null on mismatched dimensions") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), " +
      "CAST(array(1.0) AS ARRAY<FLOAT>))").head
    assert(r.isNullAt(0))
  }
}
