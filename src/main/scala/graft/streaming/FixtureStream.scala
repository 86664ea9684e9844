package graft.streaming

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.DataStreamWriter

/** The micro-batch lifecycle of a stream query fed from fixed batches,
  * written once for every `*_stream_e2e` query and the `ivf` drill leg.
  *
  * A run owns the `MemoryStream`, the session conf the query runs
  * under, a fresh checkpoint, one `addData` + `processAllAvailable` per
  * batch (the batch boundaries the DuckDB oracles replay) and `stop`.
  * It leaves nothing behind: every scoped conf key gets its prior value
  * back (or is unset again) and the checkpoint is deleted, also when
  * the query or a hook fails.
  */
private[graft] object FixtureStream {

  /** Wraps each named phase of a run; the `ivf` drill leg times them. */
  trait Phase { def apply[T](label: String)(f: => T): T }

  val untimed: Phase = new Phase { def apply[T](label: String)(f: => T): T = f }

  /** Two shuffle partitions. The stateful operators keep one state
    * store per shuffle partition and every stage pays one task per
    * partition, so the session default is pure fixed overhead for a
    * fixture stream of a few rows per batch (measured 4.7 s of
    * `frontier_stream_e2e` at 32 partitions). The checkpoint pins the
    * value per query, so each run's fresh checkpoint reads it anew. */
  val narrow: Map[String, String] = Map("spark.sql.shuffle.partitions" -> "2")

  /** [[narrow]] plus the RocksDB state-store provider the
    * `transformWithState` queries need. */
  val narrowRocksDb: Map[String, String] = narrow + ("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Runs one stream over `batches`, start to stop. `sink` turns the
    * input and the checkpoint dir into the query's writer; `afterBatch`
    * gets each batch's index once that batch is processed, while the
    * query is still live. */
  def run[A: Encoder](spark: SparkSession, batches: Seq[Seq[A]],
                      conf: Map[String, String] = Map.empty,
                      afterBatch: Int => Unit = _ => (),
                      phase: Phase = untimed)
                     (sink: (Dataset[A], String) => DataStreamWriter[_]): Unit = {
    val prior = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    val ck = Files.createTempDirectory("graft-stream-ck")
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      implicit val ctx: SQLContext = spark.sqlContext
      val input = MemoryStream[A]
      val q = phase("start") {
        sink(input.toDS(), ck.toString).option("checkpointLocation", ck.toString).start()
      }
      try batches.zipWithIndex.foreach { case (batch, i) =>
        phase(s"batch$i") { input.addData(batch); q.processAllAvailable() }
        afterBatch(i)
      } finally phase("stop")(q.stop())
    } finally {
      prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      FileUtils.deleteQuietly(ck.toFile)
    }
  }
}
