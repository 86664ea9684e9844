package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** The measurement layer under [[Tool]]: one session, one warm-up, one
  * listener and one timer, shared by every query and drill leg.
  *
  * A leg hands each frame it measures to [[time]] and each eager action
  * it needs between frames to [[step]]. What [[time]] does with a frame
  * is the subcommand's business:
  *  - `time`/`drill`: min-of-`reps` runs to a noop sink, printing the
  *    fastest rep's seconds, stage count and longest task;
  *  - `plan`: the static plan's shape counts, plus the formatted plan
  *    as a file under `--out`;
  *  - `aqe`: runs the frame's own QueryExecution, then counts join
  *    flavors in the finalized adaptive plan.
  * Every row carries the seconds and stage count of what ran: for `plan`
  * that is building the frame, eager plan-time work included, after
  * the shape counts so two SF dirs' shapes still diff field by field.
  *
  * Frames are by-name and rebuilt per run, so plan-time work is timed
  * and each `--conf` value is in force while its frame is built. With
  * several values the runs interleave (rep 1 of every value, then rep
  * 2, ...), so host weather and JIT state fall on all of them alike.
  */
final class Harness(val spark: SparkSession, val sfDir: String, cmd: String,
                    reps: Int, scale: Double, conf: Option[(String, Seq[String])],
                    out: Option[String]) {
  private val timing = cmd == "time" || cmd == "drill"
  /** Reps per frame: plan and aqe look at each frame once. */
  val runs: Int = if (timing) reps else 1
  private val prior = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
  /** One (key, value) per `--conf` value, or a single run with none. */
  private val variants: Seq[Option[(String, String)]] =
    conf.fold(Seq(Option.empty[(String, String)])) { case (k, vs) => vs.map(v => Some(k -> v)) }
  private var scope = ""

  private val stages = new AtomicInteger
  private val maxTaskMs = new AtomicLong
  private val listener = new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    // the longest task flags a straggler: one hot partition whose task
    // grows with its key while every other core idles
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) { maxTaskMs.accumulateAndGet(e.taskInfo.duration, math.max(_, _)); () }
  }
  spark.sparkContext.addSparkListener(listener)
  variants.head.foreach(set) // steps before the first frame see the first value
  if (timing) // JVM, codegen and parquet-reader warm-up, as Bench does first
    try spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("count(distinct lower(text))").collect()
    catch { case NonFatal(_) => () }

  /** A leg's base row count times `--scale`, at least 1. */
  def size(base: Long): Long = math.max(1L, math.round(base * scale))

  /** Measures one frame (see the class doc) and returns the last frame
    * built. `items` and `bytes` add per-second rates to a timing row;
    * `count` adds the frame's row count, taken outside the clock. */
  def time(label: String, items: Long = 0, bytes: Long = 0, count: Boolean = false,
           reps: Int = runs)(frame: => DataFrame): DataFrame = {
    val name = if (label.isEmpty) scope else s"$scope/$label"
    val samples = for (_ <- 1 to reps; v <- variants) yield {
      v.foreach(set)
      val tag = name + v.fold("") { case (k, x) => s" $k=$x" }
      val (df, secs, nStages, taskSecs) = measure {
        val df = frame
        cmd match {
          case "plan" => ()
          case "aqe" => df.queryExecution.toRdd.foreachPartition(_.foreach(_ => ()))
          case _ => df.write.mode("overwrite").format("noop").save()
        }
        df
      }
      cmd match {
        case "plan" => println(s"PLAN $tag ${planShape(df)} ${cost(secs, nStages)}${dump(tag, df)}")
        case "aqe" => println(s"AQE $tag ${aqeShape(df)} ${cost(secs, nStages)}")
        case _ => ()
      }
      (tag, df, secs, nStages, taskSecs)
    }
    if (timing) for (tag <- samples.map(_._1).distinct) {
      val rs = samples.filter(_._1 == tag)
      val (_, df, secs, nStages, taskSecs) = rs.minBy(_._3)
      val rates = (if (items > 0) f" n=$items ${items / secs}%.0f/s" else "") +
        (if (bytes > 0) f" ${bytes / secs / 1e6}%.1f MB/s" else "") +
        (if (count) s" rows=${df.count()}" else "")
      println(f"${cmd.toUpperCase} $tag ${cost(secs, nStages)} max_task=$taskSecs%.3f s" +
        s"$rates reps=${rs.map(r => f"${r._3}%.3f").mkString(",")}")
    }
    samples.last._2
  }

  /** Runs one eager action once, printing its seconds and stage count. */
  def step[A](label: String)(f: => A): A = {
    val (a, secs, nStages, _) = measure(f)
    println(s"STEP $scope/$label ${cost(secs, nStages)}")
    a
  }

  /** Runs one query or leg under its name; a failure is printed, not
    * thrown, so the rest of the names still run. */
  def run(name: String, body: Harness => Unit): Boolean = {
    scope = name
    try { body(this); true }
    catch { case NonFatal(e) => println(s"${cmd.toUpperCase} $name FAILED $e"); false }
  }

  /** Puts every `--conf` key back to its value before the run and
    * detaches the listener. */
  def close(): Unit = {
    prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    spark.sparkContext.removeSparkListener(listener)
  }

  private def cost(secs: Double, nStages: Int): String = f"$secs%.3f s stages=$nStages"

  private def set(kv: (String, String)): Unit = spark.conf.set(kv._1, kv._2)

  /** The clock stops before the listener-bus drain, so the wait for the
    * stage and task counts never lands inside the timed interval. */
  private def measure[A](f: => A): (A, Double, Int, Double) = {
    stages.set(0); maxTaskMs.set(0)
    val t0 = System.nanoTime()
    val a = f
    val secs = (System.nanoTime() - t0) / 1e9
    GraftColumns.drainListeners(spark.sparkContext)
    (a, secs, stages.get, maxTaskMs.get / 1e3)
  }

  private def counts(plan: String, patterns: (String, String)*): String =
    patterns.map { case (k, re) => s"$k=${re.r.findAllIn(plan).size}" }.mkString(" ")

  /** Static plan shape: shuffle exchanges apart from broadcast ones,
    * join flavors, windows, generators, and hash aggregates apart from
    * their object variant. Shapes should not change with SF for a
    * scale-safe query, so diffing two SF dirs' shape fields finds plan
    * flips. */
  private def planShape(df: DataFrame): String =
    counts(df.queryExecution.explainString(ExplainMode.fromString("simple")),
      "shuf" -> "(?<!Broadcast)(?<!Reused)Exchange", "bex" -> "BroadcastExchange",
      "smj" -> "SortMergeJoin", "bhj" -> "BroadcastHashJoin",
      "bnlj" -> "BroadcastNestedLoopJoin", "win" -> "(?<!Group)Window(?!GroupLimit)",
      "gen" -> "Generate", "agg" -> "(?<!Object)HashAggregate",
      "oagg" -> "ObjectHashAggregate")

  /** Join flavors of the FINAL adaptive plan: AQE may turn a static
    * sort-merge join back into a broadcast once it sees a side's real
    * size. The finalized plan also prints its "Initial Plan"; only the
    * part before it counts. `wgl` is the WindowGroupLimit pushdown of a
    * rank <= k filter, apart from full windows. */
  private def aqeShape(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val adaptive = p.contains("AdaptiveSparkPlan")
    if (adaptive && !p.contains("isFinalPlan=true")) "NOT-FINAL"
    else counts(p, "smj" -> "SortMergeJoin", "bhj" -> "BroadcastHashJoin",
      "bnlj" -> "BroadcastNestedLoopJoin", "shj" -> "ShuffledHashJoin",
      "win" -> "\\bWindow\\b", "wgl" -> "WindowGroupLimit") +
      s" final=${if (adaptive) "aqe" else "static"}"
  }

  private def dump(tag: String, df: DataFrame): String = out.fold("") { dir =>
    val file = Paths.get(dir, tag.replaceAll("[^A-Za-z0-9_.=-]+", "_") + ".txt")
    Files.createDirectories(file.getParent)
    Files.write(file, df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .getBytes("UTF-8"))
    s" -> $file"
  }
}

object Harness {
  /** The session of the env contract Bench also reads: `local[N]` and N
    * shuffle partitions, N = `SPARK_GRAFT_CPUS` or the host's cores. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
