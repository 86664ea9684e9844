package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.io.IvfIndex
import graft.operators._

/** One benchmark run of one workload in one warm local session.
  *
  *   Main --workload ask|ingest --seed N
  *        --seconds S --trace 0|1 --inputs DIR --work DIR --out FILE
  *        [--corrupt 1]
  *
  * The untraced run times one action per operation and reports the
  * end-to-end figures. The traced run alternates untraced operations,
  * with listener counters read at their boundaries (the `spark.*`
  * figures), and traced ones that force each step inside its own span
  * (the `operators.*`, `io.*` and `streaming.*` figures); then it runs
  * the kernel timers (`functions.*`). `--corrupt 1` perturbs each
  * workload's expected output so the benchmark's own tests can see every
  * correctness check fail. Results go to `--out` as one JSON object. */
object Main {

  /** IVF cells built and probed, on both workloads. */
  val Nlist = 16
  val Nprobe = 4
  /** IVF index builds per run; `setup_s` counts their median. */
  val SetupReps = 3
  /** The least `answer_recall` the `ask` check accepts. */
  val MinRecall = 0.5
  /** `ingest` batches per compaction cycle. */
  val CompactEvery = 3

  final class Run(val spark: SparkSession, args: Map[String, String]) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val corrupt: Boolean = args.get("corrupt").contains("1")
    val inputs: String = args("inputs")
    val work: String = args("work")
    val cores: Int = spark.sparkContext.defaultParallelism
    val counters: Option[Counters] =
      if (traced) Some(new Counters(spark)) else None
    val tracer = new Tracer(counters)

    private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    /** Records when a run phase ended, in ms since JVM start. */
    def mark(phase: String): Double = {
      val t = (System.currentTimeMillis() - jvmStart).toDouble
      report(s"t_$phase") = t; t
    }

    val layer = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.LinkedHashMap.empty[String, Any]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var attempted = 0
    var failed = 0
    def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
      checks += ((name, ok, if (ok) "" else detail)); ok
    }

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
    }

    /** Listener-counter deltas per operation for the `spark.*` figures. */
    val perOp = mutable.ArrayBuffer.empty[(Array[Long], Double)]
    def countedOp[T](body: => T): (T, Double) = counters match {
      case None => timed(body)
      case Some(c) =>
        val c0 = c.snapshot()
        val (r, ms) = timed(body)
        perOp += ((Counters.delta(c0, c.snapshot()), ms)); (r, ms)
    }

    def sparkLayer(): Unit = {
      val n = math.max(perOp.size, 1).toDouble
      def sum(i: Int) = perOp.map(_._1(i)).sum.toDouble
      Seq("spark.jobs" -> Counters.Jobs, "spark.stages" -> Counters.Stages,
        "spark.tasks" -> Counters.Tasks, "spark.plan_ms" -> Counters.PlanMs,
        "spark.task_run_ms" -> Counters.RunMs, "spark.gc_ms" -> Counters.GcMs,
        "spark.shuffle_write_bytes" -> Counters.ShuffleWrite,
        "spark.spill_bytes" -> Counters.Spill, "spark.input_bytes" -> Counters.InputBytes)
        .foreach { case (k, i) => layer(k) = sum(i) / n }
      val wall = perOp.map(_._2).sum
      layer("spark.idle_frac") =
        if (wall > 0) 1.0 - sum(Counters.RunMs) / (wall * cores) else 0.0
    }

    def local(rows: Array[Row], like: DataFrame): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, like.schema)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least 10 samples above it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted; val n = s.size
    (99 to 50 by -1).iterator.map { pc =>
      val i = math.ceil(pc / 100.0 * n).toInt - 1
      (pc, i)
    }.find { case (_, i) => i >= 0 && n - 1 - i >= 10 }.map { case (pc, i) => (pc, s(i)) }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Every file under `f` with its length. */
  def listing(f: java.io.File): Set[(String, Long)] =
    if (f.isFile) Set((f.getPath, f.length()))
    else Option(f.listFiles()).map(_.toSet.flatMap(listing)).getOrElse(Set.empty)

  // ---------------------------------------------------------------------
  // ask: the paper's request path, closed loop, one client.

  /** A workload's figures: the set-up passes (ms), the wall time from JVM
    * start to the first timed operation (ms), the untraced operation
    * latencies (ms) and the throughput (1/s). */
  final case class Result(setupReps: Seq[Double], setupEnd: Double, lat: Seq[Double], tput: Double)

  def ask(r: Run): Result = {
    import r.spark.implicits._
    val spark = r.spark
    val tr = r.tracer
    val indexDir = s"${r.work}/ask_index"
    val pool: IndexedSeq[String] = (Retrieval.goldenQuestions ++
      spark.read.parquet(s"${r.inputs}/questions.parquet").collect().map(_.getString(0))).toIndexedSeq
    val chunks = tr.span("operators.Chunking.chunk") {
      val c = Chunking.paragraphChunks(spark.read.parquet(s"${r.inputs}/documents.parquet"),
        minChars = 20).select(col("chunk_id"), col("document_id"), col("content").as("text"))
        .cache()
      c.count(); c
    }
    val model = tr.span("operators.Embedder.fit")(TfIdfEmbedder(dim = 384).fit(chunks))
    val vecs = tr.span("operators.Embedder.embed_corpus") {
      val v = model.embed(chunks).select(col("chunk_id"), col("embedding")).cache()
      v.count(); v
    }

    def qFrame(ids: Seq[Int]): DataFrame =
      ids.map(i => (i, pool(i))).toDF("question_id", "question")
    def qVecs(q: DataFrame): DataFrame =
      model.embed(q.withColumnRenamed("question", "text"))
        .select(col("question_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    def ivfLeg(qv: DataFrame, k: Int, nprobe: Int): DataFrame =
      IvfIndex.probe(spark, indexDir, qv, k = k, nprobe = nprobe, idCol = "chunk_id")
    def exactLeg(qv: DataFrame, k: Int): DataFrame =
      Retrieval.knnCosine(qv, vecs, k = k, idCol = "chunk_id")
    def assemble(vector: DataFrame, lexical: DataFrame): DataFrame =
      Retrieval.answersPayload(
        Retrieval.rrfFuse(vector.withColumnRenamed("q_vec_id", "question_id"), lexical,
          k = 3, idCol = "chunk_id").withColumnRenamed("rrf6", "score"),
        idCol = "chunk_id")

    /** One request: one action (collect) over the whole plan. */
    def request(ids: Seq[Int], exact: Boolean = false): Array[Row] = {
      val q = qFrame(ids)
      val qv = qVecs(q)
      val vector = if (exact) exactLeg(qv, 10) else ivfLeg(qv, 10, Nprobe)
      assemble(vector, Retrieval.bm25Search(q, chunks, k = 10, idCol = "chunk_id")).collect()
    }

    /** The same request with every step forced inside its own span. Each
      * call runs inside its span too: some do eager work (IvfIndex.probe
      * reads the centroids and lists the probed cells while planning). */
    def tracedRequest(ids: Seq[Int]): Array[Row] = tr.span("op") {
      def forced(span: String)(step: => DataFrame): DataFrame =
        tr.span(span) { val df = step; r.local(df.collect(), df) }
      val q = qFrame(ids)
      val qv = forced("operators.Embedder.embed")(qVecs(q))
      val vector = forced("io.IvfIndex.probe")(ivfLeg(qv, 10, Nprobe))
      val lexical = forced("operators.Retrieval.bm25")(
        Retrieval.bm25Search(q, chunks, k = 10, idCol = "chunk_id"))
      tr.span("operators.Retrieval.fuse")(assemble(vector, lexical).collect())
    }

    val setupMs = (1 to SetupReps).map(_ => r.timed(
      tr.span("io.IvfIndex.build")(IvfIndex.build(vecs, indexDir, Nlist, idCol = "chunk_id")))._2)
    // the warm-up is one batched request over the whole question pool,
    // whose payloads are the expected output of every later request, then
    // one request of each measured size (their plan shapes differ); later
    // requests still speed up as the JIT compiles, and with a few samples a
    // run the first measured one would otherwise set the median
    val all = pool.indices
    val (batched, warmMs) = r.timed {
      val b = request(all); (1 to 3).foreach(n => request(0 until n)); b
    }
    val setupEnd = r.mark("setup")
    r.layer("setup.warmup_ms") = warmMs
    r.report("setup_reps_ms") = setupMs.map(math.round).mkString(" ")

    def byQ(rows: Array[Row]): Map[Int, String] = rows.map(x => x.getInt(0) -> x.toString).toMap
    val expected = {
      val e = byQ(batched)
      if (r.corrupt) e.map { case (q, _) => q -> "corrupted" } else e
    }
    val answered = if (r.corrupt) expected.size - 1 else expected.size
    r.check("ask.batched_payload_complete", answered == pool.size,
      s"$answered of ${pool.size} questions answered")
    def top(rows: Array[Row]): Map[Int, Set[String]] = rows.map { x =>
      x.getInt(0) -> "\"chunk_id\":\"([^\"]+)\"".r.findAllMatchIn(x.getString(3)).map(_.group(1)).toSet
    }.toMap
    val exactTop = {
      val t = top(request(all, exact = true))
      if (r.corrupt) t.map { case (q, _) => q -> Set("corrupted") } else t
    }
    val ivfTop = top(batched)
    val recall = all.map(i => (exactTop(i) intersect ivfTop(i)).size).sum.toDouble /
      all.map(i => exactTop(i).size).sum
    r.layer("operators.Retrieval.answer_recall") = recall
    r.check("ask.answer_recall", recall >= MinRecall, f"answer_recall $recall%.3f < $MinRecall")

    // Closed loop, one client: the next request goes once the previous one
    // returned. Request sizes cycle 1, 2, 3 questions so that every seed
    // runs the same mix; the seed picks the questions. A traced run
    // alternates untraced and traced requests, so both sample the same JIT
    // and cache state; listener counters come from the untraced ones, spans
    // from the traced ones.
    val lat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    var questions = 0
    var answers = 0L
    r.mark("checked")
    val t0 = System.nanoTime()
    locally {
      val rnd = new java.util.Random(r.seed)
      var sent = 0
      while ((System.nanoTime() - t0) / 1e9 < r.seconds || sent == 0 || (r.traced && tracedLat.isEmpty)) {
        sent += 1
        val ids = Iterator.continually(rnd.nextInt(pool.size)).distinct.take(1 + sent % 3).toSeq
        val tracedOp = r.traced && sent % 2 == 0
        val (rows, ms) = if (tracedOp) { tr.op += 1; r.timed(tracedRequest(ids)) }
                         else r.countedOp(request(ids))
        val ok = rows.length == ids.size &&
          rows.forall(x => expected.get(x.getInt(0)).contains(x.toString))
        r.attempted += 1
        if (tracedOp) tracedLat += ms
        else {
          lat += ms
          questions += ids.size
          answers += rows.map(_.getLong(1)).sum
        }
        if (!ok) {
          r.failed += 1
          r.check(s"ask.batch_invariance[${r.attempted}]", ok = false,
            s"request ${ids.mkString(",")} payload differs from the batched payload")
        }
      }
    }
    r.mark("measured")
    val untracedLat = lat.toVector
    val untracedQs = questions
    if (r.traced) {
      r.sparkLayer()
      r.layer("operators.Retrieval.rows_examined_per_answer") =
        r.perOp.map(_._1(Counters.ScanRows)).sum.toDouble / math.max(answers, 1L)
      val ops = tracedLat.size
      Seq("operators.Embedder.embed", "io.IvfIndex.probe", "operators.Retrieval.bm25",
        "operators.Retrieval.fuse").foreach(n => r.layer(n + "_ms") = tr.msPerOp(n, ops))
      r.layer("io.IvfIndex.files_read") =
        tr.counterPerOp("io.IvfIndex.probe", Counters.FilesRead, ops)
      r.layer("trace.overhead_frac") = median(tracedLat.toSeq) / median(untracedLat) - 1
      // IVF leg vs exact, top-10, over the question pool
      def ids10(df: DataFrame) = df.collect().groupBy(_.getInt(0)).map { case (k, v) =>
        k -> v.map(_.getString(1)).toSet }
      val qv = qVecs(qFrame(all))
      val (e10, i10) = (ids10(exactLeg(qv, 10)), ids10(ivfLeg(qv, 10, Nprobe)))
      r.layer("io.IvfIndex.recall_at_10") =
        all.map(i => (e10.getOrElse(i, Set()) intersect i10.getOrElse(i, Set())).size).sum.toDouble /
          all.map(i => e10.getOrElse(i, Set()).size).sum
      Seq("operators.Chunking.chunk" -> 1, "operators.Embedder.fit" -> 1, "io.IvfIndex.build" -> SetupReps)
        .foreach { case (n, times) => r.layer(n + "_ms") = tr.msPerOp(n, times) }
      Kernels.cosine(r, vecs)
    }
    r.report("questions") = untracedQs
    Result(setupMs, setupEnd, untracedLat, untracedLat.size / (untracedLat.sum / 1000))
  }

  // ---------------------------------------------------------------------
  // ingest: a foreachBatch stream appending to the IVF index, with
  // a probe over unfolded appends and a compaction between triggers.

  def ingest(r: Run): Result = {
    val spark = r.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tr = r.tracer
    val dir = s"${r.work}/ingest_index"
    val base = spark.read.parquet(s"${r.inputs}/base.parquet").select("vec_id", "embedding").cache()
    val baseRows = base.count()
    val streamDf = spark.read.parquet(s"${r.inputs}/stream.parquet")
    val batches: IndexedSeq[Seq[(Long, Seq[Float])]] = streamDf.collect()
      .groupBy(_.getLong(2)).toSeq.sortBy(_._1)
      .map(_._2.map(x => (x.getLong(0), x.getSeq[Float](1))).toSeq).toIndexedSeq
    val qv0 = spark.read.parquet(s"${r.inputs}/queries.parquet")
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val qv = r.local(qv0.collect(), qv0)
    def probe(np: Int): Array[Row] = IvfIndex.probe(spark, dir, qv, k = 10, nprobe = np).collect()
    def rawBytes(rows: Long): Double = rows * 384.0 * 4

    val setupMs = (1 to SetupReps).map(_ =>
      r.timed(tr.span("io.IvfIndex.build")(IvfIndex.build(base, dir, Nlist)))._2)

    var tracing = false
    def traced[T](name: String)(body: => T): T = if (tracing) tr.span(name)(body) else body
    val input = MemoryStream[(Long, Seq[Float])]
    val query = input.toDF()
      .selectExpr("_1 AS vec_id", "CAST(_2 AS ARRAY<FLOAT>) AS embedding")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        traced("io.IvfIndex.append")(IvfIndex.append(b, dir, batchId = Some(id)))
      }
      .option("checkpointLocation", s"${r.work}/ingest_checkpoint")
      .start()

    /** One compaction cycle's figures; `trigger` holds each batch's
      * (triggerExecution, triggerExecution - addBatch) from its progress. */
    final case class Cycle(traced: Boolean, lat: Seq[Double], rows: Long, probeMs: Double,
                           compactMs: Double, trigger: Seq[(Double, Double)])
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val filesPerCell = mutable.ArrayBuffer.empty[Double] // at each traced probe
    var committed = 0
    var committedRows = 0L
    /** Adds the next batch and waits for its commit. */
    def commit(): (Double, Option[(Double, Double)]) = {
      def add(): Unit = { input.addData(batches(committed)); query.processAllAvailable() }
      val ms = if (tracing) r.timed(add())._2 else r.countedOp(add())._2
      committedRows += batches(committed).size
      committed += 1
      (ms, Option(query.lastProgress).map { prog =>
        val d = prog.durationMs
        val trig = d.getOrDefault("triggerExecution", 0L).toDouble
        (trig, trig - d.getOrDefault("addBatch", 0L).toDouble)
      })
    }
    def compact(): Double =
      r.timed(traced("io.IvfIndex.compact")(IvfIndex.compact(spark, dir, foldMinRatio = 0.0)))._2

    // warm-up: a probe, then batch 0 committed and folded like any other
    val (_, warmMs) = r.timed { probe(Nprobe); commit(); compact() }
    r.perOp.clear()
    r.layer("setup.warmup_ms") = warmMs
    r.report("setup_reps_ms") = setupMs.map(math.round).mkString(" ")
    val setupEnd = r.mark("setup")

    // an at-least-once redelivery of batch 0, committed and folded in the
    // warm-up, must leave the index unchanged
    locally {
      val before = listing(new java.io.File(dir))
      val replay = batches(0).toDF("vec_id", "embedding")
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
      IvfIndex.append(replay, dir, batchId = Some(0L))
      val want = if (r.corrupt) before + (("corrupted", 0L)) else before
      if (!r.check("ingest.replay_noop", want == listing(new java.io.File(dir)),
          "replaying committed batch 0 changed the index")) r.failed += 1
    }
    r.mark("checked")

    /** One compaction cycle: [[CompactEvery]] batches, a probe over their unfolded
      * appends, then a compaction between triggers. Runs are measured in
      * whole cycles, so every run amortizes compaction alike. A traced run
      * alternates untraced and traced cycles. */
    def cycle(): Unit = {
      val rows0 = committedRows
      val b = (1 to CompactEvery).map { _ =>
        if (tracing) tr.op += 1
        r.attempted += 1
        commit()
      }
      if (tracing) {
        val files = listing(new java.io.File(dir)).toSeq.map(_._1).filter(_.endsWith(".parquet"))
        val cells = files.flatMap("cell=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).distinct.size
        filesPerCell += files.size.toDouble / math.max(cells, 1)
      }
      val p = r.timed(traced("io.IvfIndex.probe")(probe(Nprobe)))._2
      cycles += Cycle(tracing, b.map(_._1), committedRows - rows0, p, compact(), b.flatMap(_._2))
    }
    val spaceAmp = try {
      val t0 = System.nanoTime()
      // at least two cycles: the first after the warm-up is still the
      // slowest, so a run that fits only one would read high (a traced
      // run's second cycle is its first traced one)
      do { tracing = r.traced && cycles.size % 2 == 1; cycle() }
      while (committed + CompactEvery <= batches.size &&
        ((System.nanoTime() - t0) / 1e9 < r.seconds || cycles.size < 2))
      tracing = false
      listing(new java.io.File(dir)).toSeq.map(_._2).sum.toDouble / rawBytes(baseRows + committedRows)
    } finally query.stop()
    val (plain, withSpans) = cycles.partition(!_.traced)
    val untracedLat = plain.flatMap(_.lat).toVector
    val rowsPerS = plain.map(_.rows).sum / ((untracedLat.sum + plain.map(_.compactMs).sum) / 1000)
    r.report("batches") = committed
    r.report("probe_p50_ms") = median(plain.map(_.probeMs).toSeq)
    r.report("compact_ms_total") = plain.map(_.compactMs).sum
    if (r.traced) {
      r.sparkLayer()
      val ops = withSpans.map(_.lat.size).sum
      val t = withSpans.flatMap(_.trigger)
      r.layer("streaming.trigger_ms") = t.map(_._1).sum / ops
      r.layer("streaming.overhead_ms") = t.map(_._2).sum / ops
      Seq("io.IvfIndex.append", "io.IvfIndex.probe", "io.IvfIndex.compact")
        .foreach(n => r.layer(n + "_ms") = tr.msPerOp(n, ops))
      r.layer("io.IvfIndex.files_read") = tr.counterPerOp("io.IvfIndex.probe", Counters.FilesRead, ops)
      val written = Seq("io.IvfIndex.append", "io.IvfIndex.compact")
        .map(n => tr.all.filter(_.name == n).map(_.counters(Counters.OutputBytes)).sum).sum.toDouble
      r.layer("io.IvfIndex.write_amp") = written / rawBytes(withSpans.map(_.rows).sum)
      r.layer("io.IvfIndex.files_per_cell") = median(filesPerCell.toSeq)
      r.layer("trace.overhead_frac") = median(withSpans.flatMap(_.lat).toSeq) / median(untracedLat) - 1
      r.layer("io.IvfIndex.build_ms") = tr.msPerOp("io.IvfIndex.build", SetupReps)
      Kernels.cosine(r, base)
      Kernels.matrixArg(r, base, IvfIndex.centroids(spark, dir))
    }
    r.layer("io.IvfIndex.space_amp") = spaceAmp
    r.mark("measured")

    // the final probe with every cell probed equals exact kNN over every
    // committed vector
    val committedIds = batches.take(committed).flatten.map(_._1).toSet
    val all = base.unionByName(streamDf.filter(col("batch") < committed).select("vec_id", "embedding"))
    val exact = Retrieval.knnCosine(qv, all, k = 10).collect().map(_.toString).toSet
    val got = probe(Nlist).map(_.toString).toSet
    val exp = if (r.corrupt) exact.drop(1) else exact
    if (!r.check("ingest.full_probe_equals_exact", got == exp,
        s"${(got diff exp).size} probe rows not in exact kNN, ${(exp diff got).size} missing")) r.failed += 1
    // every committed vector present exactly once, after folding every batch
    IvfIndex.compact(spark, dir, foldMinRatio = 0.0)
    val v = spark.read.parquet(s"$dir/vectors")
    val counts = v.agg(count(lit(1)), countDistinct("vec_id")).head()
    val (n, distinct) = (counts.getLong(0), counts.getLong(1))
    val want = baseRows + committedIds.size + (if (r.corrupt) 1 else 0)
    if (!r.check("ingest.exactly_once", n == want && distinct == want,
        s"index holds $n rows, $distinct distinct ids, expected $want")) r.failed += 1
    Result(setupMs, setupEnd, untracedLat, rowsPerS)
  }

  // ---------------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val flags = argv.grouped(2).map { case Array(k, v) => (k.stripPrefix("--"), v) }.toMap
    val work = flags("work")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // a bounded status store, as a long-running service would hit: the
      // retained heap then does not grow with the number of operations a
      // run happens to fit in its time
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.currentTimeMillis() - jvmStart).toDouble
    val r = new Run(spark, flags)
    r.layer("setup.session_ms") = sessionMs
    r.report("session_ms") = sessionMs
    val Result(setupReps, setupEnd, lat, tput) = r.workload match {
      case "ask" => ask(r)
      case "ingest" => ingest(r)
      case w => sys.error(s"unknown workload $w")
    }
    // several rounds: Spark's ContextCleaner frees broadcast blocks only
    // after a GC has shown them unreachable
    val heapMb = (1 to 4).map { _ =>
      System.gc(); Thread.sleep(250)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    // JVM start to the first timed operation, the repeated set-up pass
    // counted once, at its median: the JVM and session start, the one-off
    // set-up (ingest's stream start) and the warm-up are counted as paid
    val e2e = Map(
      "setup_s" -> (setupEnd - setupReps.sum + median(setupReps)) / 1000,
      "latency_p50_ms" -> median(lat),
      "throughput_per_s" -> tput,
      "retained_heap_mb" -> heapMb)
    r.report("samples") = lat.size
    r.report("latencies_ms") = lat.map(x => math.round(x)).mkString(" ")
    r.report("latency_mean_ms") = lat.sum / lat.size
    tail(lat).foreach { case (pc, v) => r.report(s"latency_p${pc}_ms") = v }
    if (tail(lat).isEmpty) r.report("latency_tail") = s"none: ${lat.size} samples, fewer than 11"
    r.report("cores") = cores
    r.report("spark_version") = spark.version
    r.report("java_version") = System.getProperty("java.version")
    r.report("max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576
    r.mark("done")
    if (r.traced)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/spans.json"), r.tracer.toJson)
    spark.stop()
    r.mark("stopped")
    val out = Json.obj(Seq(
      "e2e" -> e2e, "layer" -> r.layer.toMap, "report" -> r.report.toMap,
      "checks" -> r.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "attempted" -> r.attempted, "failed" -> r.failed))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(flags("out")), out)
  }
}

/** Kernel timers: a fixed batch of the run's own vectors, replicated to
  * about [[Rows]] rows and cached, then the kernel into a noop sink, warm.
  * The time of the same scan without the kernel is subtracted, so the
  * figure is the kernel's own ns per row. */
object Kernels {
  val Rows = 50000

  private def time(r: Main.Run, name: String, vecs: DataFrame)(
      kernel: DataFrame => DataFrame): Unit = {
    val v = vecs.select(col("embedding"))
    val reps = math.max(1L, Rows / v.count())
    val in = v.crossJoin(r.spark.range(reps).toDF("_rep")).drop("_rep").cache()
    val n = in.count()
    def ms(df: => DataFrame) = Main.median((1 to 3).map(_ => r.timed(Main.noop(df))._2))
    Main.noop(kernel(in)) // warm
    val scan = ms(in.select(size(col("embedding"))))
    val withKernel = ms(kernel(in))
    r.layer(s"functions.$name.ns_per_row") = (withKernel - scan) * 1e6 / n
    in.unpersist(blocking = true): Unit
  }

  def cosine(r: Main.Run, vecs: DataFrame): Unit = {
    val q = vecs.select("embedding").head().getSeq[Float](0)
    time(r, "CosineSimilarity", vecs)(
      _.select(VectorOps.cosineNative(col("embedding"), typedLit(q)).as("s")))
  }

  def matrixArg(r: Main.Run, vecs: DataFrame, cents: Seq[(Int, Seq[Float])]): Unit =
    time(r, "MatrixArg", vecs)(Similarity.assignCells(_, cents, "embedding").select("cell"))
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => apply(k) + ":" + apply(x) }.mkString("{", ",", "}")
}
