package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SparkSession

class ToolSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** One command line on the suite's session: (exit status, stdout
    * lines, stderr). */
  private def tool(args: String*)(session: => SparkSession = spark): (Int, Seq[String], String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val code = Console.withOut(out)(Console.withErr(err)(Tool.run(args, session, sf)))
    (code, out.toString("UTF-8").linesIterator.toSeq, err.toString("UTF-8"))
  }

  private def labels(lines: Seq[String], prefix: String): Seq[String] =
    lines.filter(_.startsWith(prefix + " ")).map(_.split(" ")(1))

  test("every leg plans at sf0.001, one PLAN line per frame it would time") {
    assert(Legs.all.keySet.intersect(SparkEntry.queries.keySet).isEmpty)
    val legs = Legs.all.keys.toSeq.sorted
    val (code, lines, _) = tool("plan" +: "--scale" +: "0.01" +: legs: _*)()
    assert(code === 0, lines.filter(_.contains("FAILED")).mkString("\n"))
    val shape = "PLAN \\S+ shuf=\\d+ bex=\\d+ smj=\\d+ bhj=\\d+ bnlj=\\d+ win=\\d+ gen=\\d+ agg=\\d+ " +
      "oagg=\\d+ [0-9.]+ s stages=\\d+"
    lines.filter(_.startsWith("PLAN ")).foreach(l => assert(l.matches(shape), l))
    val planned = labels(lines, "PLAN")
    legs.foreach(leg => assert(planned.exists(_.startsWith(s"$leg/")), s"$leg printed no plan"))
    assert(planned.distinct === planned)
    // the same leg under the timer prints one row per planned frame
    val (dcode, drilled, _) = tool("drill", "--reps", "1", "--scale", "0.01", "quality")()
    assert(dcode === 0)
    assert(labels(drilled, "DRILL") === planned.filter(_.startsWith("quality/")))
    drilled.filter(_.startsWith("DRILL ")).foreach(l =>
      assert(l.matches("DRILL \\S+ [0-9.]+ s stages=\\d+ max_task=[0-9.]+ s n=5\\d\\d .*"), l))
  }

  test("an unknown name exits 2, lists the valid names and builds no session") {
    val noSession = () => throw new AssertionError("session built for rejected arguments")
    val (code, _, err) = tool("time", "q06_forecast_revenue", "no_such_query")(noSession())
    assert(code === 2)
    assert(err.contains("no_such_query") && err.contains("q06_forecast_revenue, "))
    // a leg is not a query, and a query is not a leg
    val (legCode, _, legErr) = tool("drill", "golden_e2e")(noSession())
    assert(legCode === 2 && legErr.contains("valid names: bfs, bfs_deep, crawl_corpus"))
    assert(tool("time", "--reps", "0", "q06_forecast_revenue")(noSession())._1 === 2)
    assert(tool("bench", "q06_forecast_revenue")(noSession())._1 === 2)
  }

  test("--conf k=a,b times every value and then restores k") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val (code, lines, _) = tool("time", "--reps", "1", "--conf", s"$key=2,3",
      "q06_forecast_revenue")()
    assert(code === 0)
    assert(labels(lines, "TIME") === Seq("q06_forecast_revenue", "q06_forecast_revenue"))
    assert(lines.count(_.contains(s" $key=2 ")) === 1 && lines.count(_.contains(s" $key=3 ")) === 1)
    assert(spark.conf.get(key) === before)
    // a key unset before the run is unset after it
    val fresh = "spark.graft.tool.spec.probe"
    assert(tool("plan", "--conf", s"$fresh=a,b", "q06_forecast_revenue")()._1 === 0)
    assert(spark.conf.getOption(fresh).isEmpty)
  }
}
