package graft

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

import graft.functions._
import graft.operators.{Bpe, Dedup, Dsir, TextAnalysis, Unigram, UrlOps, Wordpiece}

/** The native kernels of `graft.functions` that run through [[Kernel]]:
  * each stays a direct call inside whole-stage codegen and keeps its
  * null rule. Inputs derive from `spark.range` — a local Seq would
  * constant-fold into a LocalTableScan, the interpreted path. */
class KernelCodegenSpec extends SparkSpec {

  /** One kernel use: the call its generated code must contain, the
    * input on row 0 (row 1 holds a null of the same type), the column
    * under test, and that column's value on the null row. */
  private case class Case(call: String, value: Column, build: Column => Column, onNull: Any)

  private def static(obj: String, method: String) =
    Pattern.quote(s"graft.functions.$obj.$method(")

  private val strings = ArrayType(StringType, containsNull = false)
  private val model = Unigram.SeedModel(Map("a" -> 5L, "b" -> 3L, "ab" -> 4L), 2, 1000L)
  private def unigram(method: String, dataType: org.apache.spark.sql.types.DataType) =
    (w: Column) => Kernel.call(UnigramViterbi, method, dataType, w,
      UnigramViterbi.toJavaMap(model.pieces), model.big, 2)
  private val words = array(lit("a"), lit("b"), lit("c"))
  private val vec = array(lit(1.0), lit(0.0))
  private val matrix = Seq(Seq(0.0, 1.0), Seq(1.0, 0.0), Seq(1.0, 1.0))

  private val cases = Seq(
    Case(static("UrlKernels", "host"), lit("http://u@Ex.com:80/a"), UrlOps.urlHost, null),
    Case(static("UrlKernels", "canonicalize"), lit("http://Ex.com/a/?utm_x=1&b=2"),
      UrlOps.canonicalizeUrl, null),
    // a null href is null; a null base still resolves a scheme-carrying
    // href, and only that
    Case(static("UrlKernels", "resolve"), lit("rel"), UrlOps.resolveUrl(lit("http://h/a/"), _), null),
    Case(static("UrlKernels", "resolve"), lit("http://h/a/"),
      UrlOps.resolveUrl(_, lit("https://x/y")), "https://x/y"),
    Case(static("UrlKernels", "resolve"), lit("http://h/a/"), UrlOps.resolveUrl(_, lit("rel")), null),
    // a null path is allowed
    Case(Pattern.quote("graft.functions.RobotsMatcher) references[") + "\\d+" +
      Pattern.quote("] /* literal */).allowed("), lit("/a/b"),
      UrlOps.robotsAllowed(UrlOps.RobotsRules(Seq((false, "/a"))))(_), true),
    Case(static("FixMojibake", "fix"), lit("cafÃ©"), TextAnalysis.fixMojibake, null),
    Case(static("NormalizeText", "normalize"), lit("Café"), TextAnalysis.normalizeText(_), null),
    Case(static("GopherCounts", "counts"), lit("- a\nb..."),
      Kernel.call(GopherCounts, "counts", ArrayType(LongType, containsNull = false), _), null),
    Case(static("NgramJoin", "ngrams"), words, Kernel.call(NgramJoin, "ngrams", strings, _, 2, true), null),
    Case(static("SimHash60", "fp60"), lit("a b c"), Dedup.simhash60Col, null),
    // the SQL function, so its declared input types are part of the plan
    Case(static("CountContained", "count"), words, _ => expr("count_contained(in, 'a card')"), null),
    Case(static("CountContained", "count"), lit("a card"),
      _ => expr("count_contained(array('car', 'x'), in)"), null),
    Case(static("DsirScoreSum", "score"), words,
      Kernel.call(DsirScoreSum, "score", LongType, _, Array(1L, 2L, 3L), -1L), null),
    Case(static("GreedyPieces", "encode"), lit("abcab"), Bpe.greedyPieces(_, Seq("ab", "abc")), null),
    Case(static("GreedyPieces", "encode"), lit("abcab"),
      Wordpiece.wordpiecePieces(_, Seq("ab", "##c", "##ab")), null),
    Case(static("UnigramViterbi", "cost"), lit("abab"), unigram("cost", LongType), null),
    Case(static("UnigramViterbi", "pieces"), lit("abab"), unigram("pieces", strings), null),
    Case(static("CosineSimilarity", "cosine"), array(lit(1f), lit(2f)),
      VectorOps.cosineNative(_, array(lit(2f), lit(1f))), null),
    Case(static("MatrixArg", "argmaxCosine"), vec, MatrixArg.argmaxCosine(_, matrix, 6), null),
    Case(static("MatrixArg", "argminSqdist"), vec, MatrixArg.argminSqdist(_, matrix, 6), null),
    Case(static("MatrixArg", "dots"), vec, MatrixArg.dots(_, matrix), null),
    // a null vector reaches the kernel and gets the lowest rows
    Case(static("MatrixArg", "topCosine"), vec, MatrixArg.topCosine(_, matrix, 6, 2), Seq(0, 1)))

  test("every kernel is a direct call in generated code and keeps its null rule") {
    GraftExtensions.register(spark)
    cases.foreach { c =>
      val df = spark.range(2).select(col("id"), when(col("id") === 0, c.value).as("in"))
        .select(col("id"), c.build(col("in")).as("out"))
      val rows = df.collect().map(r => r.getLong(0) -> r).toMap
      val code = codegenString(df.queryExecution.executedPlan)
      assert(Pattern.compile(c.call).matcher(code).find(), s"no ${c.call} in\n$code")
      assert(!rows(0).isNullAt(1), s"${c.call}: null on a non-null input")
      assert(rows(1).get(1) == c.onNull, s"${c.call}: wrong result on the null row")
    }
  }

  test("robotsAllowed is non-nullable; resolveUrl with both inputs null is null") {
    val df = spark.range(1).select(lit(null).cast("string").as("s"), col("id"))
      .select(UrlOps.robotsAllowed(UrlOps.RobotsRules(Seq((false, "/"))))(col("s")).as("a"),
        UrlOps.resolveUrl(col("s"), col("s")).as("r"))
    assert(!df.schema("a").nullable)
    assert(df.head().getBoolean(0))
    assert(df.head().isNullAt(1))
  }

  test("frame-level operators keep the direct call; out-of-alphabet words cost null") {
    val vocab = spark.range(3).select(
      element_at(array(lit("ab"), lit("abz"), lit("ba")), col("id").cast("int") + 1).as("word"),
      lit(1L).as("freq"))
    val stats = Unigram.viterbiStats(vocab, model)
    val byWord = stats.collect().map(r => r.getString(0) -> r).toMap
    assert(codegenString(stats.queryExecution.executedPlan)
      .contains("graft.functions.UnigramViterbi.cost("))
    assert(byWord("abz").isNullAt(2) && byWord("abz").isNullAt(3))
    assert(byWord("ab").getLong(2) === 1L)
    val counts = Unigram.expectedPieceCounts(vocab, model)
    assert(counts.collect().map(_.getString(0)).toSet.subsetOf(model.pieces.keySet))
    assert(codegenString(counts.queryExecution.executedPlan)
      .contains("graft.functions.UnigramViterbi.pieces("))
    val docs = spark.range(2).select(col("id").as("doc_id"),
      concat(lit("a b "), col("id").cast("string")).as("text"))
    val scored = Dsir.scoreWith(Dsir.DsirModel(Map(0L -> 5L), -1L, 4), docs)
    assert(scored.collect().length === 2)
    assert(codegenString(scored.queryExecution.executedPlan)
      .contains("graft.functions.DsirScoreSum.score("))
  }

  test("graft.functions holds exactly one Expression class, ComputeOnce") {
    val pkg = new java.io.File(
      Kernel.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val names = new java.io.File(pkg, "graft/functions").listFiles()
      .map(_.getName).filter(_.endsWith(".class")).map(_.stripSuffix(".class"))
    val expressions = names
      .map(n => Class.forName(s"graft.functions.$n", false, getClass.getClassLoader))
      .filter(classOf[Expression].isAssignableFrom)
      .map(_.getSimpleName).toSet
    assert(expressions === Set("ComputeOnce"))
  }
}
