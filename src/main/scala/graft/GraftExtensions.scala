package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, StringType}
import graft.functions.{CosineSimilarity, CountContained, Kernel}

/** Engine SQL surface: `spark.sql.extensions=graft.GraftExtensions`
  * registers the engine's native functions so plain `spark.sql(...)`
  * users get them too (the Spark-idiomatic way to ship custom
  * expressions — no internal APIs, works on any session including
  * Connect server-side).
  *
  * Currently: `cosine_sim(ARRAY<FLOAT>, ARRAY<FLOAT>) -> DOUBLE`
  * ([[graft.functions.CosineSimilarity.cosine]]; the builder, which
  * analysis calls with resolved arguments, rejects any other argument
  * type, without implicit casts) and
  * `count_contained(ARRAY<STRING>, STRING) -> INT`
  * ([[graft.functions.CountContained.count]]; its declared input types
  * give SQL callers Spark's implicit casts and analysis-time check).
  */
object GraftExtensions {
  /** Each function's name and builder; both registration paths read it. */
  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    binary("cosine_sim") { (a, b) =>
      val types = Seq(a, b).map(_.dataType)
      if (!types.forall { case ArrayType(FloatType, _) => true; case _ => false })
        throw new AnalysisException("DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT", Map(
          "sqlExpr" -> s"\"cosine_sim(${a.sql}, ${b.sql})\"", "hint" -> "",
          "msg" -> s"cosine_sim expects (ARRAY<FLOAT>, ARRAY<FLOAT>), got (${types
            .map(_.simpleString).mkString(", ")})"))
      Kernel.expr(CosineSimilarity, "cosine", DoubleType, Seq(a, b))
    },
    binary("count_contained")((words, text) =>
      Kernel.expr(CountContained, "count", IntegerType, Seq(words, text),
        inputTypes = Seq(ArrayType(StringType), StringType))))

  private def binary(name: String)(build: (Expression, Expression) => Expression) =
    name -> { (children: Seq[Expression]) =>
      require(children.size == 2, s"$name takes exactly 2 arguments")
      build(children.head, children(1))
    }

  /** Register the same functions on an already-running session (for
    * sessions not built with the extensions config). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      org.apache.spark.sql.GraftColumns.registerFunction(spark, name, builder)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}
