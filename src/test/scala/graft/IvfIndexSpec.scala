package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet}
import org.apache.spark.sql.functions._

import graft.io.IvfIndex
import graft.operators.Similarity
import scala.jdk.CollectionConverters._

/** The persisted IVF index: build/probe must be byte-for-byte the same
  * ranking as the in-query ivfTopK, the vector table must land
  * cell-partitioned, and a probe must PRUNE the unprobed cells at the
  * scan (the whole point of persisting the assignment). */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n)(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  /** The probe-result comparison key: (q_vec_id, vec_id, score, rank).
    * One definition for every test — a probe schema change is a
    * one-line edit, not fifteen. */
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  /** Parquet file count per `cell=<c>` directory under `root`. */
  private def cellFiles(root: String): Map[String, Int] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  test("persisted probe equals in-query ivfTopK row for row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val cands = vecs(300, 16, seed = 5)
    val qs = vecs(4, 16, seed = 99)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    IvfIndex.build(cands, dir, nlist = 8)
    val persisted = rows(IvfIndex.probe(spark, dir, qs, k = 10, nprobe = 3))
    val inQuery = rows(Similarity.ivfTopK(qs, cands, k = 10, nlist = 8, nprobe = 3))
    assert(persisted == inQuery)
    assert(persisted.nonEmpty)
    // rebuild over the same vectors: same index, same answers (S13
    // overwrite semantics)
    IvfIndex.build(cands, dir, nlist = 8)
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 10, nprobe = 3)) == inQuery)
  }

  test("append assigns against the STORED centroids and a stream keeps the index current") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val base = vecs(150, 16, seed = 3)
    val late = vecs(80, 16, seed = 31).withColumn("vec_id", col("vec_id") + 1000L)
    IvfIndex.build(base, dir, nlist = 6)
    val storedCents = IvfIndex.centroids(spark, dir)
    // feed the late vectors through a real micro-batch stream into the
    // foreachBatch append sink
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = input.toDF()
      .selectExpr("_1 AS vec_id", "CAST(_2 AS ARRAY<FLOAT>) AS embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        IvfIndex.append(batch, dir, batchId = Some(id))
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ivf-ck").toString)
      .start()
    try {
      input.addData(late.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1))))
      q.processAllAvailable()
    } finally q.stop()
    // probing the appended index == probeScore over base+late with the
    // BASE-derived centroids (append must NOT re-train)
    val qs = vecs(3, 16, seed = 77)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val expected = rows(Similarity.probeScore(
      Similarity.probeCells(qs, storedCents, nprobe = 3, "q_vec_id", "q_embedding"),
      Similarity.assignCells(base.unionByName(late), storedCents, "embedding"),
      k = 8, "q_vec_id", "q_embedding", "vec_id", "embedding"))
    val got = rows(IvfIndex.probe(spark, dir, qs, k = 8, nprobe = 3))
    assert(got == expected)
    // the appended ids are actually reachable
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 6))
      .exists(_._2 >= 1000L))
  }

  test("a replayed foreachBatch append is a no-op — no duplicate probe rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(150, 16, seed = 9), dir, nlist = 6)
    val late = vecs(60, 16, seed = 91).withColumn("vec_id", col("vec_id") + 2000L)
    val qs = vecs(3, 16, seed = 47)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    IvfIndex.append(late, dir, batchId = Some(7L))
    val once = IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(once.exists(_._2 >= 2000L), "the appended batch must be reachable")
    // at-least-once retry: the SAME batch id replays (the sink already
    // committed, the stream's checkpoint didn't) — must be a no-op
    IvfIndex.append(late, dir, batchId = Some(7L))
    val twice = IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(twice.toSeq.sorted == once.toSeq.sorted,
      "a replayed batch must not change probe results")
    val pairs = twice.map(r => (r._1, r._2))
    assert(pairs.distinct.length == pairs.length,
      s"duplicate (query, vec_id) rows after replay")
    // a retry over a CRASHED attempt (orphan per-attempt staging, no
    // commit) lands exactly once and sweeps the orphan
    val staging = new java.io.File(s"$dir/appends_staging/8_deadbeef")
    staging.mkdirs()
    new java.io.File(staging, "partial.parquet").createNewFile()
    IvfIndex.append(late.withColumn("vec_id", col("vec_id") + 1000L), dir, batchId = Some(8L))
    val after = IvfIndex.probe(spark, dir, qs, k = 300, nprobe = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(after.exists(_._2 >= 3000L) && after.distinct.length == after.length)
    assert(!staging.exists(), "crashed attempt's staging must be swept after commit")
  }

  test("an EMPTY committed batch does not break the probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(100, 16, seed = 17), dir, nlist = 4)
    val qs = vecs(2, 16, seed = 61)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 5, nprobe = 4))
    // an empty micro-batch (routine after recovery / AvailableNow):
    // publishes a batch dir with no data files — the probe must still
    // serve the base index, not die on schema inference
    IvfIndex.append(vecs(100, 16, seed = 17).limit(0), dir, batchId = Some(0L))
    assert(new java.io.File(s"$dir/appends/batch=0").exists())
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 5, nprobe = 4)) == before)
    // empty batch dirs are foldable cleanup: a forced fold retires the
    // dir into the manifest, and a replay still no-ops
    IvfIndex.compact(spark, dir, foldMinRatio = 0.0)
    assert(!new java.io.File(s"$dir/appends/batch=0").exists(),
      "a forced fold must retire even an empty batch dir")
    IvfIndex.append(vecs(100, 16, seed = 17).limit(0), dir, batchId = Some(0L))
    assert(!new java.io.File(s"$dir/appends/batch=0").exists(),
      "a replayed folded-empty batch must not re-publish")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 5, nprobe = 4)) == before)
  }

  test("append without a batch id fails before it writes anything") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(100, 16, seed = 17), dir, nlist = 4)
    def listing = {
      val root = new java.io.File(s"$dir/vectors").toPath
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.map(root.relativize(_).toString).toSet
      finally files.close()
    }
    val before = listing
    val late = vecs(40, 16, seed = 23).withColumn("vec_id", col("vec_id") + 1000L)
    intercept[IllegalArgumentException](IvfIndex.append(late.repartition(3), dir, batchId = None))
    assert(listing == before)
    assert(!new java.io.File(s"$dir/appends").exists())
  }

  test("compact folds committed appends into vectors/ and the manifest keeps replays no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(120, 16, seed = 19), dir, nlist = 4)
    val late = vecs(50, 16, seed = 191).withColumn("vec_id", col("vec_id") + 5000L)
    IvfIndex.append(late, dir, batchId = Some(3L))
    val qs = vecs(3, 16, seed = 71)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4))
    assert(before.exists(_._2 >= 5000L), "appended rows reachable before the fold")
    IvfIndex.compact(spark, dir)
    // answers unchanged; the appended rows now live in vectors/, the
    // batch dir is GONE, and the manifest records the folded id
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4)) == before)
    assert(!new java.io.File(s"$dir/appends/batch=3").exists(),
      "fold must remove the folded batch dir")
    assert(new java.io.File(s"$dir/appends_folded").exists(),
      "fold must write the folded-batch manifest")
    // a post-compact replay of the folded batch is STILL a no-op
    IvfIndex.append(late, dir, batchId = Some(3L))
    val after = IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(after.distinct.length == after.length,
      "replaying a folded batch must not duplicate rows")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4)) == before)
  }

  test("a zombie re-publish of a folded batch is pruned by probe and healed by the next fold") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(120, 16, seed = 23), dir, nlist = 4)
    val late = vecs(40, 16, seed = 231).withColumn("vec_id", col("vec_id") + 7000L)
    IvfIndex.append(late, dir, batchId = Some(9L))
    val qs = vecs(3, 16, seed = 72)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    IvfIndex.compact(spark, dir, foldMinRatio = 0.0) // fold batch 9 into vectors/
    val folded = rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4))
    // simulate the zombie: an attempt that passed the pre-check before
    // the fold, stalled, and published its staging AFTER the fold moved
    // the rows — the dir reappears although the manifest lists batch=9
    spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id") >= 7000L)
      .write.partitionBy("cell").parquet(s"$dir/appends/batch=9")
    // probe must PRUNE the stale dir — same answers, no duplicates
    val seen = IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(seen.distinct.length == seen.length, "stale re-publish must not duplicate")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4)) == folded)
    // the next fold deletes the stale dir instead of unioning it again
    IvfIndex.compact(spark, dir, foldMinRatio = 0.0)
    assert(!new java.io.File(s"$dir/appends/batch=9").exists(),
      "fold must delete a stale re-published batch dir")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4)) == folded)
  }

  test("compact collapses per-cell small files, preserves layout and answers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val base = vecs(120, 16, seed = 13)
    IvfIndex.build(base, dir, nlist = 4)
    // several committed batches, each written by several tasks -> several
    // files per touched cell across appends/
    for (s <- 1 to 3)
      IvfIndex.append(vecs(40, 16, seed = 100 + s).repartition(3)
        .withColumn("vec_id", col("vec_id") + s * 1000L), dir, batchId = Some(s.toLong))
    val qs = vecs(3, 16, seed = 55)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 10, nprobe = 4))
    val appended = (1 to 3).map(s => cellFiles(s"$dir/appends/batch=$s"))
    assert(appended.flatMap(_.values).max > 1, s"appends should accrete files: $appended")
    val cellsBefore = cellFiles(s"$dir/vectors").keySet ++ appended.flatMap(_.keySet)
    val total = IvfIndex.compact(spark, dir) // 120 appended vs 120 base: fold due
    val filesAfter = cellFiles(s"$dir/vectors")
    assert(filesAfter.keySet == cellsBefore, "partition layout must survive")
    assert(filesAfter.values.forall(_ == 1), s"expected 1 file per cell: $filesAfter")
    assert(total == filesAfter.values.sum)
    assert(!new java.io.File(s"$dir/appends/batch=1").exists())
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 10, nprobe = 4)) == before)
  }

  test("build over a multi-partition input writes one parquet file per cell") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val cands = vecs(400, 16, seed = 21).repartition(4)
    assert(cands.rdd.getNumPartitions >= 2)
    IvfIndex.build(cands, dir, nlist = 4)
    val files = cellFiles(s"$dir/vectors")
    assert(files.size == 4 && files.values.forall(_ == 1),
      s"expected one file in each of 4 cells: $files")
  }

  test("a fold under a small advisory size splits the big cell and keeps small cells whole") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(40, 16, seed = 33), dir, nlist = 4)
    // near-copies of centroid 0 all land in cell 0, which outgrows the
    // advisory size; written by 4 tasks, so the fold reads it from
    // several map outputs it can split along
    val c0 = IvfIndex.centroids(spark, dir).head._2
    val rnd = new scala.util.Random(331)
    val big = Seq.tabulate(3000)(i =>
      (100000L + i, c0.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)))
      .toDF("vec_id", "embedding").repartition(4)
    IvfIndex.append(big, dir, batchId = Some(1L))
    val qs = vecs(3, 16, seed = 57)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 20, nprobe = 2))
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "16k")
    try IvfIndex.compact(spark, dir, foldMinRatio = 0.0)
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(spark.conf.getOption(key) == saved)
    val files = cellFiles(s"$dir/vectors")
    assert(files.size == 4, s"every cell keeps its directory: $files")
    assert(files("cell=0") > 1, s"the big cell must be split: $files")
    assert((files - "cell=0").values.forall(_ == 1), s"small cells stay one file: $files")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 20, nprobe = 2)) == before)
  }
  test("the fold is amortized: tiny appends stay put until the ratio (or 0.0) says fold") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(400, 16, seed = 59), dir, nlist = 4)
    // 3 vectors against 400: far under the default 10% volume threshold
    IvfIndex.append(vecs(3, 16, seed = 591).withColumn("vec_id", col("vec_id") + 8000L),
      dir, batchId = Some(1L))
    val qs = vecs(2, 16, seed = 87)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    def batchFiles() = {
      val d = new java.io.File(s"$dir/appends/batch=1")
      if (!d.exists()) -1
      else {
        def walk(f: java.io.File): Int =
          if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
          else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        walk(d)
      }
    }
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 500, nprobe = 4))
    assert(before.exists(_._2 >= 8000L))
    assert(batchFiles() > 0)
    IvfIndex.compact(spark, dir) // default ratio: fold NOT due
    assert(batchFiles() > 0, "a below-threshold batch must stay in appends/")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 500, nprobe = 4)) == before)
    IvfIndex.compact(spark, dir, foldMinRatio = 0.0) // forced fold
    assert(batchFiles() == -1, "a forced fold must remove the batch dir (manifest remembers)")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 500, nprobe = 4)) == before)
  }

  test("the batch-COUNT trigger folds tiny batches the byte ratio would never reach") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(400, 16, seed = 67), dir, nlist = 4)
    for (b <- 1 to 3)
      IvfIndex.append(vecs(2, 16, seed = 670 + b)
        .withColumn("vec_id", col("vec_id") + b * 10000L), dir, batchId = Some(b.toLong))
    val qs = vecs(2, 16, seed = 89)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 500, nprobe = 4))
    // an impossible byte ratio isolates the COUNT branch: only
    // 3 data-bearing batches >= foldMaxBatches=3 can trip this fold
    IvfIndex.compact(spark, dir, foldMinRatio = 1000.0, foldMaxBatches = 3)
    for (b <- 1 to 3)
      assert(!new java.io.File(s"$dir/appends/batch=$b").exists(),
        s"batch $b should be folded away")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 500, nprobe = 4)) == before)
    // folded batches do NOT latch the trigger: one tiny new batch must
    // NOT re-trip the count branch on its own
    IvfIndex.append(vecs(2, 16, seed = 679).withColumn("vec_id", col("vec_id") + 50000L),
      dir, batchId = Some(9L))
    IvfIndex.compact(spark, dir, foldMinRatio = 1000.0, foldMaxBatches = 3)
    assert(new java.io.File(s"$dir/appends/batch=9").listFiles().nonEmpty,
      "already-folded batches must not count toward foldMaxBatches")
    // and a replay of a long-folded batch still no-ops via the manifest
    IvfIndex.append(vecs(2, 16, seed = 671).withColumn("vec_id", col("vec_id") + 10000L),
      dir, batchId = Some(1L))
    assert(!new java.io.File(s"$dir/appends/batch=1").exists(),
      "a replayed folded batch must not re-publish")
  }

  test("compact sweeps a dead publish-race loser's staging nested inside a batch dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    // big base + tiny batch keeps the fold below threshold: the WALK
    // sweep (not the fold's dir removal) must clear the orphan
    IvfIndex.build(vecs(400, 16, seed = 79), dir, nlist = 4)
    IvfIndex.append(vecs(2, 16, seed = 791).withColumn("vec_id", col("vec_id") + 3000L),
      dir, batchId = Some(5L))
    val qs = vecs(2, 16, seed = 93)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 500, nprobe = 4))
    // HDFS rename-onto-existing nests a losing attempt's staging inside
    // the committed dir; if that attempt dies pre-sweep the orphan wedges
    // partition discovery on every later appends read — compact must heal
    val orphan = new java.io.File(s"$dir/appends/batch=5/5_deadbeef/cell=0")
    orphan.mkdirs()
    new java.io.File(orphan, "part-orphan.parquet").createNewFile()
    IvfIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/appends/batch=5/5_deadbeef").exists(),
      "the nested orphan must be swept")
    assert(new java.io.File(s"$dir/appends/batch=5").exists(),
      "the un-folded batch itself must survive the sweep")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 500, nprobe = 4)) == before)
  }

  test("the folded-batch manifest is bounded by the retention window") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(80, 16, seed = 53), dir, nlist = 4)
    // fold two early batches, then — far beyond the retention window —
    // a late one; the early entries must be pruned from the manifest
    for (b <- Seq(1L, 2L)) IvfIndex.append(
      vecs(5, 16, seed = 500 + b.toInt).withColumn("vec_id", col("vec_id") + b * 1000L),
      dir, batchId = Some(b))
    IvfIndex.compact(spark, dir, foldMinRatio = 0.0, manifestRetain = 10L)
    IvfIndex.append(vecs(5, 16, seed = 531).withColumn("vec_id", col("vec_id") + 90000L),
      dir, batchId = Some(5000L))
    IvfIndex.compact(spark, dir, foldMinRatio = 0.0, manifestRetain = 10L)
    val manifest = scala.io.Source.fromFile(s"$dir/appends_folded").getLines().toSet
    assert(manifest == Set("watermark=4989", "batch=5000"),
      s"entries older than retain must be pruned and the eviction cutoff " +
        s"persisted as the watermark line, got $manifest")
    // a replay WITHIN the window still no-ops
    IvfIndex.append(vecs(5, 16, seed = 531).withColumn("vec_id", col("vec_id") + 90000L),
      dir, batchId = Some(5000L))
    assert(!new java.io.File(s"$dir/appends/batch=5000").exists(),
      "an in-window replay must no-op against the manifest")
    // a replay BELOW the retention cutoff — its own manifest line is
    // gone — must no-op against the persisted watermark, not silently
    // duplicate its rows into vectors/ (the hole retention would
    // otherwise reopen)
    val qs = vecs(2, 16, seed = 99)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 1000, nprobe = 4))
    IvfIndex.append(
      vecs(5, 16, seed = 501).withColumn("vec_id", col("vec_id") + 1000L),
      dir, batchId = Some(1L))
    assert(!new java.io.File(s"$dir/appends/batch=1").exists(),
      "an evicted-id replay must no-op against the watermark")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 1000, nprobe = 4)) == before,
      "an evicted-id replay must not change the index contents")
    // and the next fold treats a zombie-published evicted-id dir as
    // stale: force one past the pre-check by planting the dir directly
    val zombie = new java.io.File(s"$dir/appends/batch=2/cell=0")
    zombie.mkdirs()
    IvfIndex.compact(spark, dir, foldMinRatio = 0.0, manifestRetain = 10L)
    assert(!new java.io.File(s"$dir/appends/batch=2").exists(),
      "the fold must delete (not re-fold) a below-watermark batch dir")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 1000, nprobe = 4)) == before,
      "a below-watermark zombie dir must not be folded into the base tree")
  }

  test("compact folds through a stale _build_bak left by a crash after promote") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    IvfIndex.build(vecs(100, 16, seed = 43), dir, nlist = 4)
    IvfIndex.append(vecs(30, 16, seed = 431).withColumn("vec_id", col("vec_id") + 9000L),
      dir, batchId = Some(1L))
    // a previous build/fold died between swapInto's promote and its bak
    // delete: healthy index, lingering bak — the fold's own swap must
    // clear it (build's recoverSwap discipline), not fail forever
    new java.io.File(dir + "_build_bak/stale").mkdirs()
    val qs = vecs(2, 16, seed = 83)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4))
    IvfIndex.compact(spark, dir)
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4)) == before)
    assert(!new java.io.File(dir + "_build_bak").exists())
  }

  test("a batch replay over a crashed index swap heals first, then no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    IvfIndex.build(vecs(100, 16, seed = 53), dir, nlist = 4)
    val late = vecs(30, 16, seed = 531).withColumn("vec_id", col("vec_id") + 4000L)
    IvfIndex.append(late, dir, batchId = Some(2L))
    val qs = vecs(2, 16, seed = 85)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4))
    // crash the swap right after dst -> bak: the index dir is missing,
    // so the committed-marker check alone would wrongly re-stage the
    // replayed batch into a healed-mid-write index
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "_build_bak")))
    IvfIndex.append(late, dir, batchId = Some(2L)) // foreachBatch retry
    val after = IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(after.distinct.length == after.length, "replay must not duplicate rows")
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 200, nprobe = 4)) == before)
  }

  test("readers leave an in-flight rebuild's staging alone; only a missing index recovers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    IvfIndex.build(vecs(80, 16, seed = 41), dir, nlist = 4)
    // simulate another process mid-rebuild: staging exists NEXT TO a
    // consistent index — a read must not delete it (the old
    // unconditional recovery did, killing the concurrent build)
    val staging = new java.io.File(dir + "_build_tmp/centroids")
    staging.mkdirs()
    val marker = new java.io.File(staging, "in-flight.parquet")
    marker.createNewFile()
    val cents = IvfIndex.centroids(spark, dir)
    assert(cents.size == 4)
    assert(marker.exists(), "reader deleted an in-flight build's staging")
    // the single writer cleans it up on its next build, and still works
    IvfIndex.build(vecs(80, 16, seed = 41), dir, nlist = 4)
    assert(!marker.exists())
    assert(IvfIndex.centroids(spark, dir).size == 4)
  }

  test("a crash between build's swap renames is rolled back at the next read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    IvfIndex.build(vecs(100, 16, seed = 29), dir, nlist = 4)
    val qs = vecs(2, 16, seed = 88)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val before = rows(IvfIndex.probe(spark, dir, qs, k = 5, nprobe = 4))
    // simulate a rebuild dying right after dst -> bak (no tmp yet
    // swapped in): the index dir is gone, only the bak survives
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "_build_bak")))
    // the next read entry point rolls the previous index back
    assert(rows(IvfIndex.probe(spark, dir, qs, k = 5, nprobe = 4)) == before)
    assert(!new java.io.File(dir + "_build_bak").exists())
  }

  test("the vector table is hive-partitioned by cell and probes prune it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val cands = vecs(300, 16, seed = 7)
    val qs = vecs(2, 16, seed = 42)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    IvfIndex.build(cands, dir, nlist = 8)
    val cellDirs = new java.io.File(s"$dir/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell=")).sorted
    assert(cellDirs.length > 1, s"expected multiple cell partitions, saw ${cellDirs.mkString(",")}")
    // with a committed batch the probe reads base ∪ appends: BOTH scans
    // must carry the probed cell set as a partition filter and select
    // files of probed cells only — the appends tree has no listing
    // prune, so its static filter is what keeps unprobed cells unread
    val late = vecs(40, 16, seed = 75).withColumn("vec_id", col("vec_id") + 6000L)
    IvfIndex.append(late, dir, batchId = Some(1L))
    val appendCells = new java.io.File(s"$dir/appends/batch=1").listFiles()
      .map(_.getName).filter(_.startsWith("cell=")).toSet
    val cents = IvfIndex.centroids(spark, dir)
    val probed = Similarity.probeCells(qs, cents, nprobe = 2, "q_vec_id", "q_embedding")
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(probed.size < cellDirs.length && (appendCells -- probed.map(c => s"cell=$c")).nonEmpty,
      s"fixture must leave unprobed cells in both trees (probed $probed, appends $appendCells)")
    val res = IvfIndex.probe(spark, dir, qs, k = 5, nprobe = 2)
    val scans = res.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }.flatMap(_.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s })
    val roots = scans.map(_.relation.location.rootPaths.map(_.getName))
    assert(roots.size == 2 && roots.contains(Seq("appends")) &&
      roots.exists(_.forall(_.startsWith("cell="))), s"expected the base and the appends scan: $roots")
    def isCell(e: Expression) = e.references.map(_.name).toSet == Set("cell")
    scans.foreach { scan =>
      val cellSets = scan.partitionFilters.collect {
        case InSet(a, hset) if isCell(a) => hset.map(_.asInstanceOf[Int])
        case In(a, list) if isCell(a) => list.map(_.eval().asInstanceOf[Int]).toSet
      }
      assert(cellSets === Seq(probed), s"scan of ${scan.relation.location.rootPaths.head} " +
        s"lacks the probed cell filter: ${scan.partitionFilters}")
      val files = scan.selectedPartitions.toPartitionArray.map(_.filePath.toString)
      assert(files.nonEmpty && files.forall(f =>
        "cell=(\\d+)".r.findFirstMatchIn(f).exists(m => probed(m.group(1).toInt))),
        s"scan reads files of unprobed cells: ${files.mkString(", ")}")
    }
    // and the prune changes nothing about the answer
    assert(rows(res) == rows(Similarity.probeScore(
      Similarity.probeCells(qs, cents, nprobe = 2, "q_vec_id", "q_embedding"),
      Similarity.assignCells(cands.unionByName(late), cents, "embedding"),
      k = 5, "q_vec_id", "q_embedding", "vec_id", "embedding")))
  }

  test("probe lists only the probed cell directories, a planning-time prune") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val cands = vecs(400, 16, seed = 11)
    val qs = vecs(2, 16, seed = 47)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    IvfIndex.build(cands, dir, nlist = 8)
    val allCells = new java.io.File(s"$dir/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell=")).toSet
    val probed = Similarity.probeCells(qs, IvfIndex.centroids(spark, dir),
      nprobe = 2, "q_vec_id", "q_embedding").select("cell").distinct().collect()
      .map(r => s"cell=${r.getInt(0)}").toSet
    assert(probed.size < allCells.size,
      s"fixture must leave unprobed cells (probed $probed of $allCells)")
    val res = IvfIndex.probe(spark, dir, qs, k = 5, nprobe = 2)
    // the scan's file inventory must cover EXACTLY the probed cells —
    // an unprobed directory is never even listed
    val listedCells = res.inputFiles.flatMap(
      "cell=\\d+".r.findFirstIn(_)).toSet
    assert(listedCells == probed,
      s"listing prune read $listedCells, probe set is $probed")
    // and the prune changes nothing about the answer
    assert(rows(res) == rows(Similarity.ivfTopK(qs, cands, k = 5, nlist = 8, nprobe = 2)))
  }

  test("the probeCells builder equals the window form row for row") {
    val rnd = new scala.util.Random(2718)
    def v(d: Int) = Seq.fill(d)(rnd.nextFloat() * 2 - 1)
    val cents = Seq.tabulate(12)(c => (c, v(16)))
    val queries = Seq.tabulate(20)(i => (i.toLong, v(16)))
    // exact score ties: cells 6..11 repeat centroids 0..5, so a query
    // scores each pair identically and the lower cell must win
    val duplicated = cents.take(6) ++ cents.take(6).map { case (c, x) => (c + 6, x) }
    // null scores: a query of the wrong dimension (cosine is null on a
    // mismatch) and a null vector rank every cell last, lowest cell first;
    // a zero vector scores 0.0 everywhere, a 12-way tie
    val odd = Seq((100L, v(15)), (101L, null), (102L, Seq.fill(16)(0f)))
    // a NaN component makes cell 4 score NaN, which ranks greatest:
    // every other query probes it
    val nanCell = cents.updated(4, (4, v(16).updated(3, Float.NaN)))
    val qs = (queries ++ odd).toDF("q_vec_id", "q_embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.getSeq[Float](1)).map(_.toList), r.getInt(2)))
      .toList.sortBy(t => (t._1, t._3))
    // the persisted probe collects the projection over its local query
    // frame and flattens it on the driver; a repartitioned frame runs the
    // builder in generated code, or interpreted under NO_CODEGEN
    def built(cs: Seq[(Int, Seq[Float])], nprobe: Int) = Seq(
      "driver" -> qs.select(col("q_vec_id"), col("q_embedding"),
          Similarity.topCells(col("q_embedding"), cs, nprobe)).collect().toList
        .flatMap(r => r.getSeq[Int](2).map(c =>
          (r.getLong(0), Option(r.getSeq[Float](1)).map(_.toList), c)))
        .sortBy(t => (t._1, t._3)),
      "codegen" -> key(Similarity.probeCells(qs.repartition(2), cs, nprobe, "q_vec_id", "q_embedding")),
      "interpreted" -> {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        try key(Similarity.probeCells(qs.repartition(2), cs, nprobe, "q_vec_id", "q_embedding"))
        finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      })
    for ((name, cs) <- Seq("random" -> cents, "duplicated centroids" -> duplicated,
                           "a NaN centroid" -> nanCell);
         nprobe <- Seq(1, 3, 12, 15)) {
      val window = key(ReferenceForms.probeCellsWindow(qs, cs, nprobe, "q_vec_id", "q_embedding"))
      for ((path, rows) <- built(cs, nprobe))
        assert(rows === window, s"$name, nprobe $nprobe, $path")
      assert(window.filter(_._1 >= 100L).map(_._3).toSet === (0 until nprobe.min(12)).toSet,
        s"$name, nprobe $nprobe: null and all-tied scores must rank the lowest cells")
      if (name == "a NaN centroid") assert(window.filter(_._1 < 100L).groupBy(_._1).values
        .forall(_.exists(_._3 == 4)), s"nprobe $nprobe: NaN must rank greatest")
    }
  }

  test("a probe plus collect over a built index runs at most 4 Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(vecs(400, 16, seed = 13), dir, nlist = 8)
    // a local query frame, as a request hands the probe its questions
    val qs = vecs(3, 16, seed = 29).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toDF("q_vec_id", "q_embedding")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.sql.GraftColumns.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = IvfIndex.probe(spark, dir, qs, k = 5, nprobe = 3).collect()
      org.apache.spark.sql.GraftColumns.drainListeners(spark.sparkContext)
      assert(out.length == 15)
      // the centroid read, the broadcast of the local probe cells, and
      // the scan plus its top-k shuffle
      assert(jobs.get() <= 4, s"probe + collect ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("randomized commit/replay/compact schedules never lose or duplicate a row") {
    // the exactly-once state machine under adversarial schedules: fresh
    // batches commit in order, arbitrary earlier ids replay at any
    // point (foreachBatch retries, zombie drivers), and compacts with a
    // TINY manifest retention fold + evict aggressively — so replays
    // routinely land below the retention cutoff and only the persisted
    // watermark stands between them and silent duplication. Invariant
    // at every compact point and at the end: the index holds exactly
    // the base vectors plus each committed batch's vectors, once.
    val rnd = new scala.util.Random(1107)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    IvfIndex.build(vecs(60, 16, seed = 61), dir, nlist = 4)
    val baseIds = spark.read.parquet(s"$dir/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def batchVecs(b: Long) = vecs(3, 16, seed = 6100 + b.toInt)
      .withColumn("vec_id", col("vec_id") + b * 100L + 10000L)
    var committed = List.empty[Long]
    var next = 0L
    def expectIds = baseIds ++ committed.flatMap(b => Seq(0L, 1L, 2L).map(_ + b * 100L + 10000L))
    def checkExact(): Unit = {
      val got = spark.read.parquet(s"$dir/vectors").select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got.size == got.distinct.size,
        s"duplicated rows after schedule prefix (committed=$committed)")
      // vectors/ plus any still-unfolded committed appends is the full view
      val appends = new java.io.File(s"$dir/appends")
      val unfolded = Option(appends.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("batch=")).map(_.getName.stripPrefix("batch=").toLong)
      val appendIds = unfolded.flatMap(b =>
        Seq(0L, 1L, 2L).map(_ + b * 100L + 10000L)).toSet
      assert(got.toSet ++ appendIds == expectIds,
        s"lost rows: missing=${(expectIds -- got.toSet -- appendIds).take(5)} " +
          s"extra=${(got.toSet ++ appendIds -- expectIds).take(5)}")
    }
    for (_ <- 1 to 24) rnd.nextInt(3) match {
      case 0 => // fresh commit
        IvfIndex.append(batchVecs(next), dir, batchId = Some(next))
        committed ::= next; next += 1
      case 1 if committed.nonEmpty => // replay an arbitrary earlier id
        val b = committed(rnd.nextInt(committed.size))
        IvfIndex.append(batchVecs(b), dir, batchId = Some(b))
      case 2 => // fold + evict with a retention window of 2
        IvfIndex.compact(spark, dir, foldMinRatio = 0.0, manifestRetain = 2L)
        checkExact()
      case _ => ()
    }
    IvfIndex.compact(spark, dir, foldMinRatio = 0.0, manifestRetain = 2L)
    checkExact()
    assert(committed.size >= 5, "schedule must exercise real commits")
  }
}
