package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-wide counters, read as deltas between two snapshots. Job,
  * stage and task counts and task metrics come from a SparkListener;
  * planning-phase times and executed-plan scan metrics come from a
  * QueryExecutionListener (one event per action). Both buses are
  * asynchronous, so [[snapshot]] drains them first. */
final class Counters(spark: SparkSession) {
  import Counters._
  private val c = Array.fill(Names.size)(new AtomicLong)
  private def add(k: Int, v: Long): Unit = c(k).addAndGet(v): Unit

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(Jobs, 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(Stages, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(Tasks, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(RunMs, m.executorRunTime)
        add(GcMs, m.jvmGCTime)
        add(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
        add(Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
        add(InputBytes, m.inputMetrics.bytesRead)
        add(OutputBytes, m.outputMetrics.bytesWritten)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      add(PlanMs, Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum)
      leaves(qe.executedPlan).foreach { p =>
        p.metrics.get("numOutputRows").foreach(m => add(ScanRows, m.value))
        p match {
          case s: FileSourceScanExec => s.metrics.get("numFiles").foreach(m => add(FilesRead, m.value))
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Leaf operators of an executed plan, through AQE stages and subqueries. */
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case l if l.children.isEmpty => Seq(l) ++ l.subqueries.flatMap(leaves)
    case o => o.children.flatMap(leaves) ++ o.subqueries.flatMap(leaves)
  }

  def snapshot(): Array[Long] = {
    PerfbenchBus.drain(spark.sparkContext)
    c.map(_.get)
  }
}

object Counters {
  val Names: IndexedSeq[String] = IndexedSeq("jobs", "stages", "tasks", "task_run_ms",
    "gc_ms", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "plan_ms", "scan_rows", "files_read")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val RunMs = 3; val GcMs = 4
  val ShuffleWrite = 5; val Spill = 6; val InputBytes = 7; val OutputBytes = 8
  val PlanMs = 9; val ScanRows = 10; val FilesRead = 11

  def delta(a: Array[Long], b: Array[Long]): Array[Long] = b.zip(a).map { case (x, y) => x - y }
}

/** One recorded span: a call into a layer, with the counter deltas taken
  * at its boundaries. `op` groups the spans of one operation. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long, counters: Array[Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest by call order on whichever thread
  * runs them (a stream's foreachBatch runs on the stream thread while
  * the caller blocks, so calls never interleave). Written out once, when
  * the run ends. Without counters (the untraced run) a span is just its
  * body. */
final class Tracer(counters: Option[Counters]) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op = 0

  // the body runs outside the lock: a span around a stream trigger waits
  // for a span the stream thread opens
  def span[T](name: String)(body: => T): T = counters.fold(body)(recorded(name, _)(body))

  private def recorded[T](name: String, counters: Counters)(body: => T): T = {
    val (id, parent) = synchronized {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      (id, parent)
    }
    val c0 = counters.snapshot()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val d = Counters.delta(c0, counters.snapshot())
      synchronized {
        stack = stack.tail
        spans += Span(id, name, parent, op, t0, t1, d)
      }
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Duration minus the part of it covered by the span's children. */
  def selfMs(s: Span): Double = s.ms - all.filter(_.parent == s.id).map(_.ms).sum

  /** Mean duration per operation of the spans named `name` (0 when absent). */
  def msPerOp(name: String, ops: Int): Double =
    all.filter(_.name == name).map(_.ms).sum / math.max(ops, 1)

  def counterPerOp(name: String, counter: Int, ops: Int): Double =
    all.filter(_.name == name).map(_.counters(counter)).sum.toDouble / math.max(ops, 1)

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)},""" +
      Counters.Names.zip(s.counters).map { case (n, v) => s""""$n":$v""" }.mkString(",") + "}"
  }.mkString("[", ",\n", "]")
}
