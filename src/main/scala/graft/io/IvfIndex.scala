package graft.io

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.operators.Similarity

/** Persisted IVF index — the OFFLINE build / ONLINE serve split that
  * [[graft.operators.Similarity.ivfTopK]]'s scaladoc prescribes for
  * index-build scale, and the piece that makes IVF an INDEX rather than
  * a per-query re-computation (reference contract: the Pinecone index
  * the reference builds once and probes per query,
  * `/root/reference/src/services/vector_engine/pinecone_manager.py:30-64`).
  *
  * Layout under `dir`:
  *  - `vectors/cell=<c>/…parquet` — every vector with its coarse-cell
  *    assignment, hive-partitioned BY CELL. A probe ranks its cells on
  *    the driver and equi-joins them against this scan; because cell is
  *    the partition key, the probed cell set is a static partition
  *    filter that drops every unprobed directory at the scan: a query
  *    batch reads ~nprobe/nlist of the index bytes, the I/O story a
  *    100 TB index needs (spec-asserted on the scans' PartitionFilters).
  *  - `centroids/…parquet` — the nlist-row sidecar (cell, centroid).
  *    Metadata-sized driver state on read, exactly like the in-query
  *    codebook samples (README "Scale design": past nlist ~10⁵ the
  *    collect would give way to a broadcast-join form).
  *  - `appends/batch=<id>/cell=<c>/…parquet` — streaming [[append]]
  *    batches, each published whole by one atomic rename (the
  *    exactly-once story under foreachBatch retries); folded back into
  *    `vectors/` by [[compact]]'s whole-index swap.
  *
  * Determinism: the build stores the same hash-minimal centroid sample
  * and argmax-cosine assignment `ivfTopK` derives in-query, so
  * `probe(build(C), Q)` ≡ `ivfTopK(Q, C)` row for row — spec-asserted
  * and oracle-replayed (`ivf_persisted`). Rebuilding over the same
  * vectors rewrites equivalent content through the whole-index
  * crash-safe swap (the S13 create/overwrite contract, made atomic —
  * see [[build]]).
  */
object IvfIndex {

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def buildTmp(dir: String) = new org.apache.hadoop.fs.Path(dir + "_build_tmp")
  private def buildBak(dir: String) = new org.apache.hadoop.fs.Path(dir + "_build_bak")
  private def foldedManifest(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/appends_folded")

  /** Batch dir names already folded into `vectors/` — the exactly-once
    * memory for batches whose dirs the fold REMOVED. One flat file
    * rewritten atomically inside the fold's whole-index swap: the
    * listing stays flat no matter how many batches a stream commits
    * over its lifetime (one line of bytes each, not one directory —
    * marker dirs would grow `appends/` listing cost without bound).
    * [[compact]]'s `manifestRetain` bounds it (10,000 lines by default),
    * so every check reads it afresh.
    *
    * Besides `batch=<id>` lines the manifest may carry ONE
    * `watermark=<id>` line — the low-watermark persisted by retention
    * eviction (see [[foldAppends]]): every batch id `<= watermark` is
    * known folded even though its own line was evicted. The set returned
    * here is the raw line set; [[foldedWatermark]] extracts the
    * watermark, and every exactly-once check consults BOTH. */
  private def foldedBatches(fs: org.apache.hadoop.fs.FileSystem,
                            dir: String): Set[String] = {
    val m = foldedManifest(dir)
    if (!fs.exists(m)) Set.empty
    else {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  private val WatermarkPrefix = "watermark="

  /** The retention low-watermark carried in the manifest line set: the
    * largest id ever evicted from the manifest by `manifestRetain`
    * pruning. `Long.MinValue` when no eviction has happened (no line).
    * Monotone: each fold writes `max(old, newCutoff - 1)`. */
  private def foldedWatermark(manifestLines: Set[String]): Long =
    manifestLines.iterator.filter(_.startsWith(WatermarkPrefix))
      .flatMap(_.stripPrefix(WatermarkPrefix).toLongOption)
      .foldLeft(Long.MinValue)(math.max)

  /** The committed appends forest, read with the BASE tree's schema
    * plus the synthetic `batch` partition column. The EXPLICIT schema
    * matters: an empty micro-batch publishes a batch dir with no data
    * files, which schema inference would reject ("unable to infer
    * schema") on an otherwise healthy index. Shared by [[probe]] and
    * the fold so the invariant lives once. */
  private def appendsFrame(spark: SparkSession, dir: String,
                           baseSchema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(baseSchema.add("batch", org.apache.spark.sql.types.LongType))
      .parquet(s"$dir/appends")

  /** The one writer of a `vectors/` tree, shared by [[build]] and the
    * fold: rebalance by cell before the partitioned write, so each cell
    * lands in ONE file, or in files of about
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` when AQE splits a
    * cell bigger than that. Without it every task writes a file into
    * every cell it holds rows for — task count × nlist small files that
    * a second rewrite would have to merge. */
  private def writeCells(assigned: DataFrame, path: String): Unit =
    assigned.hint("rebalance", col("cell")).write.partitionBy("cell").parquet(path)

  /** Build the index: one pass assigns every candidate to its coarse
    * cell and writes the cell-partitioned vector table plus the
    * centroid sidecar. The assignment is map-side (one matrix-scan per
    * row against the broadcast centroid literal); the only exchange is
    * [[writeCells]]' rebalance by cell.
    *
    * A rebuild is ATOMIC at the whole-index level: centroids and
    * vectors are staged together under a `_build_tmp` sibling, then
    * swapped in with the crash-safe tmp/bak rename dance of
    * [[graft.streaming.StreamingIngest.swapInto]] — a reader never sees
    * new centroids paired with old assignments, and a mid-build crash
    * leaves the previous index
    * (rolled forward/back on the next build or read). A per-table
    * overwrite could not promise that: parquet overwrite is
    * delete-then-write, and the two tables would flip at different
    * moments.
    *
    * A rebuild REPLACES the whole dir from `candidates` alone — any
    * `appends/` batches (rows AND their exactly-once commit records,
    * dirs and folded manifest alike) are dropped with the old tree. The
    * caller owns two obligations: `candidates` must include every
    * appended row that should survive, and the stream feeding
    * [[append]] must have checkpointed past its last batch before the
    * rebuild (a post-rebuild replay of a pre-rebuild batch finds no
    * commit record and re-appends rows the rebuild already absorbed). */
  def build(candidates: DataFrame, dir: String, nlist: Int,
            idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val dst = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dst)
    val (tmp, bak) = (buildTmp(dir), buildBak(dir))
    graft.streaming.StreamingIngest.recoverSwap(fs, dst, tmp, bak)
    // no fs.delete(tmp) here: recoverSwap's postcondition already
    // guarantees tmp is gone (rolled forward, or deleted as stale)
    val cents = Similarity.coarseCentroids(candidates, nlist, idCol, vecCol)
    cents.toDF("cell", "centroid")
      .coalesce(1) // nlist rows — one sidecar file
      .write.parquet(s"$tmp/centroids")
    writeCells(Similarity.assignCells(candidates.select(col(idCol), col(vecCol)), cents, vecCol),
      s"$tmp/vectors")
    graft.streaming.StreamingIngest.swapInto(fs, dst, tmp, bak, "build")
  }

  /** Reader-side recovery: roll an interrupted [[build]] swap
    * forward/back ONLY when the index dir is missing — that is the one
    * inconsistent crash state. When the dir exists the index is
    * consistent, and a `_build_tmp` sibling may belong to an IN-FLIGHT
    * rebuild in another process: deleting it (what an unconditional
    * recoverSwap's dst-exists branch does) would kill that build
    * mid-write. Stale staging from a crash-after-commit is cleaned by
    * the next [[build]], which recovers unconditionally as the single
    * writer.
    *
    * Residual window, stated honestly: during a LIVE rebuild's commit
    * the dir is also briefly missing (between swapInto's two renames),
    * and a reader landing exactly there will run the same recovery the
    * builder is about to complete — both sides then race the renames
    * and one can fail spuriously. That window is two rename syscalls
    * (vs. the whole build duration before this guard); closing it
    * entirely needs a coordinator or catalog, which rename-based
    * layouts don't have. Operationally: rebuilds are maintenance —
    * schedule them off the read path, like [[compact]]'s contract. */
  private def recoverIfMissing(spark: SparkSession, dir: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dst)
    if (!fs.exists(dst))
      graft.streaming.StreamingIngest.recoverSwap(fs, dst, buildTmp(dir), buildBak(dir))
  }

  /** The centroid sidecar's fixed schema: read with it, the sidecar
    * costs one scan job and no footer-inference job. */
  private val CentroidSchema = "cell INT, centroid ARRAY<FLOAT>"

  /** The data schema Spark wrote into a parquet file's footer (the
    * `org.apache.spark.sql.parquet.row.metadata` key), read on the
    * driver: one footer instead of a schema-inference job. */
  private def footerSchema(spark: SparkSession, file: org.apache.hadoop.fs.Path)
      : org.apache.spark.sql.types.StructType = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration))
    try org.apache.spark.sql.types.DataType.fromJson(reader.getFooter.getFileMetaData
      .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    finally reader.close()
  }

  /** The stored centroid sample, cell-ordered on the driver — nlist rows
    * of driver state, the same shape the in-query quantizers hold. Every
    * read entry point ([[probe]]/[[append]] come through here) first
    * heals a crashed build swap via [[recoverIfMissing]] — conditional,
    * so it never touches an in-flight rebuild's staging. */
  def centroids(spark: SparkSession, dir: String): Seq[(Int, Seq[Float])] = {
    recoverIfMissing(spark, dir)
    spark.read.schema(CentroidSchema).parquet(s"$dir/centroids").collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
  }

  /** Incremental maintenance: assign NEW vectors against the STORED
    * centroids and append them to the index — the add-without-retrain
    * half of the FAISS train/add split (centroids are fixed between
    * rebuilds; a drifted corpus gets a fresh [[build]], which atomically
    * overwrites). Map-side assignment, a partitioned write, no touch of
    * existing files.
    *
    * This is the S12-style upsert face of the index: wire it as a
    * Structured Streaming `foreachBatch` sink, passing foreachBatch's
    * OWN `batchId`, to keep the index current as documents stream in
    * (`ivf_stream_e2e` and its spec do exactly that). The
    * write is EXACTLY-ONCE under foreachBatch's at-least-once retries:
    * the batch is staged under a per-ATTEMPT-unique
    * `appends_staging/<id>_<attempt>` and published by a single atomic
    * rename to `appends/batch=<id>` — a retry of a batch that already
    * committed sees the target (or, after a fold removed the dir, its
    * line in the `appends_folded` manifest) and no-ops; concurrent
    * attempts (a zombie driver racing its replacement) each stage
    * privately, one rename wins, losers discard their own staging;
    * crashed attempts' orphan staging is swept after commit; nothing
    * under `appends/` is ever partial. [[probe]] reads `vectors/` plus
    * every committed batch (cell stays a partition column in both trees,
    * so pruning holds), and [[compact]] folds accumulated batches back
    * into one `vectors/` tree through the build-style whole-index swap —
    * the LSM-style L0/compaction split. `batchId` must be given: `None`
    * fails before anything is written. */
  def append(newVecs: DataFrame, dir: String,
             idCol: String = "vec_id", vecCol: String = "embedding",
             batchId: Option[Long]): Unit = {
    require(batchId.isDefined, s"append to $dir needs the caller's batch id")
    val spark = newVecs.sparkSession
    // deferred: the replayed-batch no-op path below must not pay the
    // centroid sidecar read + collect it will never use
    def assigned = Similarity.assignCells(
      newVecs.select(col(idCol), col(vecCol)), centroids(spark, dir), vecCol)
    val b = batchId.get
    // heal a crashed build/fold swap BEFORE the marker check: with
    // the index dir missing, exists(committed) is vacuously false
    // and a replayed batch would re-stage (and re-publish) instead
    // of no-oping
    recoverIfMissing(spark, dir)
    val committed = new org.apache.hadoop.fs.Path(s"$dir/appends/batch=$b")
    val fs = fsOf(spark, committed)
    // a replayed batch no-ops on ANY commit record: its dir (not
    // yet folded), its line in the folded manifest (dir removed by
    // a fold), or an id at/below the retention low-watermark (line
    // itself evicted by manifestRetain — the watermark is the
    // structural guarantee that eviction never reopens exactly-once,
    // however far behind the tip a replay reaches)
    val manifest0 = foldedBatches(fs, dir)
    if (!fs.exists(committed) &&
        !manifest0.contains(s"batch=$b") && b > foldedWatermark(manifest0)) {
      // staging is PER-ATTEMPT-unique: a shared path would let a
      // zombie driver's resumed write interleave with a concurrent
      // retry staging the same batch (the restarted-driver replay
      // this feature exists for) and publish a mixed directory. With
      // unique paths each attempt renames only bytes it wrote alone;
      // losers either fail the rename (local FS) or nest their
      // staging INSIDE the winner's published dir (HDFS/object-store
      // rename-onto-existing-directory semantics) — the nested case
      // is detected and undone right below.
      val attempt = java.util.UUID.randomUUID().toString.substring(0, 8)
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/appends_staging/${b}_$attempt")
      assigned.write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
      fs.mkdirs(committed.getParent)
      if (!fs.rename(tmp, committed)) {
        // lost a race against a concurrent retry that just published:
        // fine iff the batch is now committed; anything else is real
        require(fs.exists(committed), s"commit rename failed for batch $b")
        fs.delete(tmp, true)
      }
      // REVALIDATE against the manifest after publishing: a zombie
      // attempt can pass the pre-check, stall through a concurrent
      // commit AND a fold of this very batch, then resume and
      // publish rows the fold already moved into vectors/ — a
      // duplicate the manifest can't undo once the next fold unions
      // it in. The post-publish check closes that ordering: if the
      // batch is in the manifest, this publish is a stale replay —
      // remove it (idempotently; a racing replica removing too is
      // fine). A fold IN FLIGHT during this window is caught by the
      // fold's own re-list guard instead; the residual exposure is
      // the fold's re-list-to-rename instant, the same documented
      // single-writer window as every other rename-based layout here.
      val manifest1 = foldedBatches(fs, dir)
      if (manifest1.contains(s"batch=$b") || b <= foldedWatermark(manifest1))
        fs.delete(committed, true)
      // NOTE: on HDFS a rename onto an existing dir SUCCEEDS by
      // moving the source inside it (batch=<b>/<b>_<attempt>/…), so
      // a losing attempt may believe it published — the sweep below
      // removes exactly that nested staging (cell= children make a
      // false match impossible), and [[foldAppends]] sweeps orphans
      // from attempts that died before reaching it.
    }
    // crashed attempts leave orphans — staging dirs, and (cluster
    // rename semantics) staging nested inside the committed dir.
    // Sweep both now that the batch is committed (deleting a LIVE
    // concurrent attempt's staging is also safe: its rename fails or
    // nests, it sees the committed dir, and its own sweep no-ops)
    (Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/appends_staging/${b}_*"))).getOrElse(Array.empty) ++
     Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/appends/batch=$b/${b}_*"))).getOrElse(Array.empty))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Compact the index. Streaming [[append]] accretes one
    * `appends/batch=<id>` tree per micro-batch, and at 100 TB scan task
    * count and object-store listing degrade with file count, not byte
    * count — so compaction folds every committed append batch back into
    * `vectors/` through the same ATOMIC whole-index swap as [[build]]
    * (centroids are copied unchanged; no retraining): a reader never
    * sees a row in both trees, and a mid-fold crash leaves the previous
    * forest intact. The fold writes through [[writeCells]], so the new
    * tree already holds one file per small cell and advisory-sized files
    * for a big one — the fold is the only rewrite. The fold is
    * amortized: it runs once append bytes reach `foldMinRatio` of the
    * base tree or once `foldMaxBatches` unfolded batch dirs accumulate
    * (see [[foldAppends]]; ratio `0.0` forces it), because it rewrites
    * all of `vectors/` — below both thresholds compaction rewrites
    * nothing. The fold REMOVES the folded batch dirs and records their
    * ids in the `appends_folded` manifest (swapped in atomically with
    * the new tree), so [[append]]'s exactly-once no-op check still
    * recognizes a replayed batch after its rows moved, and `appends/`
    * listing cost stays bounded by the UNFOLDED batches rather than
    * growing one dir per lifetime batch. Returns the `vectors/` file
    * count after compaction.
    *
    * Concurrency contract: compaction (like [[build]]) is SINGLE-WRITER
    * maintenance — and "writer" includes the [[append]] stream: the
    * fold's whole-index swap replaces the `appends/` tree, so a batch
    * committed mid-fold would vanish (rows AND commit record). The fold
    * re-lists batches after staging and skips the swap when anything
    * new appeared, but the re-list-to-rename window remains — stop the
    * stream (or schedule compaction between triggers) while compacting.
    *
    * `manifestRetain` bounds the folded-batch manifest to the newest
    * ids (see the retention note in [[foldAppends]]) so a long-lived
    * stream's manifest and probe filter stay O(retain), not O(lifetime
    * batches); the eviction cutoff is persisted as a `watermark=<id>`
    * manifest line so evicted ids still no-op on replay — retention
    * never reopens the exactly-once guarantee. */
  def compact(spark: SparkSession, dir: String,
              foldMinRatio: Double = 0.1,
              foldMaxBatches: Int = 64,
              manifestRetain: Long = 10000L): Int = {
    recoverIfMissing(spark, dir) // heal a crashed build swap first, like every entry
    foldAppends(spark, dir, foldMinRatio, foldMaxBatches, manifestRetain)
    val root = new org.apache.hadoop.fs.Path(s"$dir/vectors")
    val files = fsOf(spark, root).listFiles(root, true)
    var n = 0
    while (files.hasNext) if (files.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** The fold half of [[compact]]: rewrite `vectors/` as base ∪ committed
    * appends under `_build_tmp` (centroids copied unchanged, folded
    * batch ids recorded in the staged `appends_folded` manifest) and
    * publish with the one atomic whole-index swap — the only ordering
    * under which no reader can ever double-count a row between the two
    * trees and no crash point loses either row or commit record.
    *
    * The fold pays a FULL `vectors/` rewrite, so it is amortized: it
    * runs once append bytes reach `foldMinRatio` of the base tree
    * (default 10%) OR once `foldMaxBatches` unfolded batch dirs have
    * accumulated — data-bearing or empty alike, since each is one
    * `appends/` listing entry only a fold can retire, and folded dirs
    * are removed so the count cannot latch. The count trigger bounds
    * probe's file count and listing cost even when the batches are tiny
    * relative to a huge base (bytes alone would let a million small
    * files ride below a byte threshold forever). Below both thresholds the batches stay
    * where they are until a later compact trips a trigger (NOT
    * [[build]]: a rebuild replaces the whole dir from its own
    * candidates — see its scaladoc). `foldMinRatio = 0.0` forces the
    * fold unconditionally. The count trigger is evaluated first so the
    * common below-threshold call pays one appends walk and no base-tree
    * listing; the byte-ratio check is the one `getContentSummary
    * (vectors)` listing a volume policy costs. At 100 TB this is the
    * difference between maintenance that costs O(appended) per cycle
    * and maintenance that rewrites the whole index to absorb one
    * micro-batch.
    *
    * Also sweeps file-bearing nested-staging orphans
    * (`batch=<b>/<b>_<attempt>`) left by publish-race losers that died
    * before their own sweep — without it a single such orphan wedges
    * every later appends read on mixed-depth partition discovery. A
    * FILE-LESS nested orphan is invisible to the walk (and to Spark's
    * leaf-file partition discovery — harmless) and is cleared when its
    * batch folds, since the fold removes the whole batch dir. */
  private def foldAppends(spark: SparkSession, dir: String,
                          foldMinRatio: Double, foldMaxBatches: Int,
                          manifestRetain: Long): Unit = {
    val appends = new org.apache.hadoop.fs.Path(s"$dir/appends")
    val fs = fsOf(spark, appends)
    val listed =
      if (fs.exists(appends))
        fs.listStatus(appends).map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
      else Seq.empty
    // a dir whose batch is ALREADY in the manifest — by its own line or
    // by an id at/below the retention low-watermark — is a stale replay
    // (a zombie attempt that re-published after a fold moved its rows
    // into vectors/ — see append's post-publish revalidation): its rows
    // are already in the base tree, so folding it would double them.
    // Delete it here instead — the fold is the self-healing pass.
    val alreadyFolded = foldedBatches(fs, dir)
    val wm = foldedWatermark(alreadyFolded)
    val (stale, batches) = listed.partition(n =>
      alreadyFolded.contains(n) ||
        n.stripPrefix("batch=").toLongOption.exists(_ <= wm))
    stale.foreach(s => fs.delete(new org.apache.hadoop.fs.Path(appends, s), true))
    if (batches.isEmpty) return
    // ONE recursive walk computes the data-file count and byte volume,
    // plus nested staging orphans (a dead publish-race loser's dir
    // under batch=<b>; detected by path shape — the child of a batch
    // dir is either a cell=* partition or staging — so the sweep costs
    // zero extra listing RPCs and orphan contents never count as data)
    val appendsDepth = fs.makeQualified(appends).depth
    val orphans = scala.collection.mutable.Set[org.apache.hadoop.fs.Path]()
    var nFiles = 0L
    var appendBytes = 0L
    val it = fs.listFiles(appends, true)
    while (it.hasNext) {
      val f = it.next()
      var p = f.getPath // climb to the component directly under the batch dir
      while (p.getParent.depth > appendsDepth + 1) p = p.getParent
      if (p != f.getPath && !p.getName.startsWith("cell="))
        orphans += p
      else if (f.getPath.getName.endsWith(".parquet")) {
        nFiles += 1; appendBytes += f.getLen
      }
    }
    orphans.foreach(o => fs.delete(o, true))
    // every listed dir is an UNFOLDED batch (folded dirs are removed, so
    // the count trigger cannot latch) — empty dirs from empty
    // micro-batches count too: each is one listing entry only a fold can
    // retire. The byte trigger additionally needs actual data.
    val due = foldMinRatio <= 0.0 ||
      batches.size >= foldMaxBatches ||
      (nFiles > 0 && appendBytes >= foldMinRatio * fs.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$dir/vectors")).getLength)
    if (due) {
      val dst = new org.apache.hadoop.fs.Path(dir)
      val (tmp, bak) = (buildTmp(dir), buildBak(dir))
      // clear stale swap siblings the way build does: a crash between a
      // previous swap's promote and its bak delete leaves a healthy dst
      // plus a lingering bak, which would fail (or, on HDFS, nest) the
      // next swap's dst→bak rename forever
      graft.streaming.StreamingIngest.recoverSwap(fs, dst, tmp, bak)
      val base = spark.read.parquet(s"$dir/vectors")
      spark.read.schema(CentroidSchema).parquet(s"$dir/centroids").coalesce(1)
        .write.parquet(s"$tmp/centroids")
      writeCells(base.unionByName(appendsFrame(spark, dir, base.schema).drop("batch")),
        s"$tmp/vectors")
      // record the folded batches in the manifest INSIDE the staged
      // tree (atomic with the swap): their dirs are gone after the
      // fold, and the manifest is what keeps a replay a no-op
      // RETENTION: keep only entries within `manifestRetain` of the
      // newest folded id — without a bound the manifest (and probe's
      // NOT-IN literal set, and every read of it) grows one line per
      // lifetime batch forever on a long-lived stream. Eviction
      // is made SAFE structurally by the `watermark=<id>` line: evicted
      // ids are at most `cutoff - 1`, so persisting max(old watermark,
      // cutoff - 1) keeps "id <= watermark → already folded" true for
      // every id whose line is gone — append's no-op checks and this
      // fold's stale filter consult it, so even a replay far below the
      // retention window cannot duplicate rows. Sound because
      // foreachBatch ids are dense and monotone: when id N folds, every
      // id < N was committed earlier and folded by an earlier (or this)
      // all-listed-batches fold. (A RESET checkpoint restarts ids at 0 —
      // the manifest would wrongly no-op those regardless of retention;
      // a checkpoint reset requires a fresh [[build]], which clears it.)
      // Unparseable names are retained unconditionally.
      val all = (foldedBatches(fs, dir) ++ batches)
        .filterNot(_.startsWith(WatermarkPrefix))
      val ids = all.flatMap(n => n.stripPrefix("batch=").toLongOption)
      val cutoff = if (ids.nonEmpty) ids.max - manifestRetain else Long.MinValue
      val newWm = if (cutoff == Long.MinValue) wm else math.max(wm, cutoff - 1)
      val manifest = ((if (newWm == Long.MinValue) Seq.empty
                       else Seq(WatermarkPrefix + newWm)) ++
        all.filter(n => n.stripPrefix("batch=").toLongOption.forall(_ >= cutoff))
          .toSeq.sorted).mkString("\n")
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$tmp/appends_folded"), true)
      try out.write(manifest.getBytes("UTF-8")) finally out.close()
      // last-moment guard against a live appender: a batch committed
      // while the fold was writing is in neither the staged tree nor
      // its manifest, and the swap would silently destroy it — re-list
      // and skip the fold if anything new appeared (the next compact
      // gets it). A commit landing between this check and the swap's
      // first rename is still lost: compaction, like build, is
      // SINGLE-WRITER maintenance — quiesce the append stream too.
      val now = fs.listStatus(appends).map(_.getPath.getName)
        .filter(_.startsWith("batch=")).toSet
      if (now == batches.toSet)
        graft.streaming.StreamingIngest.swapInto(fs, dst, tmp, bak, "compact-fold")
      else fs.delete(tmp, true)
    }
  }

  /** Probe the persisted index: identical ranking semantics to
    * [[graft.operators.Similarity.ivfTopK]], but the assignment comes
    * from the cell-partitioned scan (no per-query re-assignment of the
    * corpus), and the probe is planned on the driver. The query frame's
    * (qid, qvec, probe cells) projection is collected ONCE
    * (broadcast-sized by the probe contract; over a local query frame
    * the collect runs no Spark job): each query's cells come from the
    * same top-cells kernel against the centroid sidecar as the in-query
    * path ([[graft.operators.Similarity.topCells]]), and the driver
    * flattens them into (qid, qvec, cell) rows that join the scan as a
    * local relation. The probed cell set then prunes both trees
    * statically: the base tree LISTS only the probed cell directories
    * (at nlist=10⁵ the scan pays ≤ nprobe·|queries| directory checks
    * instead of a 10⁵-partition discovery — on an object store the
    * listing is the dominant probe cost), and both the base and the
    * appends scan carry a `cell IN (probed)` partition filter, so an
    * unprobed cell's files are never read in either tree. Both scans
    * take their schema from one parquet footer read on the driver rather
    * than an inference job. A cell outside the probe set could not
    * contribute rows to the join anyway, so the prune changes no
    * answer. */
  def probe(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
            nprobe: Int,
            qidCol: String = "q_vec_id", qvecCol: String = "q_embedding",
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(qidCol), col(qvecCol),
      Similarity.topCells(col(qvecCol), centroids(spark, dir), nprobe))
    val ranked = q.collect().toSeq.flatMap(r =>
      r.getSeq[Int](2).map(cell => Row(r.get(0), r.get(1), cell)))
    val probeCells = spark.createDataFrame(ranked.asJava,
      StructType(q.schema.take(2)).add("cell", IntegerType, nullable = false))
    val cells = ranked.map(_.getInt(2)).distinct.sorted
    val inProbe = col("cell").isInCollection(cells)
    val vroot = s"$dir/vectors"
    val vfs = fsOf(spark, new org.apache.hadoop.fs.Path(vroot))
    val probedDirs = cells.map(c => new org.apache.hadoop.fs.Path(s"$vroot/cell=$c"))
      .filter(vfs.exists) // a cell no vector landed in has no directory
    val footer = probedDirs.iterator.flatMap(vfs.listStatus(_)).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
    val base = (footer match {
      case Some(f) => spark.read
        .schema(footerSchema(spark, f).add("cell", org.apache.spark.sql.types.IntegerType))
        .option("basePath", vroot).parquet(probedDirs.map(_.toString): _*)
      case None => spark.read.parquet(vroot) // degenerate: no probed cell holds a base vector
    }).filter(inProbe)
    // committed streaming appends live beside the build tree (see
    // [[append]]); `cell` is a partition column in both, so the static
    // cell filter prunes each scan. The rename-atomic publish means
    // every `batch=<id>` here is complete — no partial batch is visible.
    val appends = new org.apache.hadoop.fs.Path(s"$dir/appends")
    val fs = fsOf(spark, appends)
    val assigned =
      if (fs.exists(appends) &&
          fs.listStatus(appends).exists(_.getPath.getName.startsWith("batch=")))
        // a batch dir whose id is in the folded manifest is a stale
        // zombie re-publish whose rows are ALREADY in the base tree
        // (append revalidates and the fold deletes, but a probe can land
        // in between) — filter on the batch partition column, so the
        // stale dirs are PRUNED at the scan, not read-and-discarded
        base.select(col(idCol), col(vecCol), col("cell"))
          .unionByName {
            val manifest = foldedBatches(fs, dir)
            val folded = manifest.flatMap(n => n.stripPrefix("batch=").toLongOption)
            val wm = foldedWatermark(manifest)
            val app = appendsFrame(spark, dir, base.schema).filter(inProbe)
            val unfolded = {
              val f = if (folded.isEmpty) app
                      else app.filter(!col("batch").isInCollection(folded))
              // ids at/below the retention low-watermark are folded too,
              // their lines merely evicted — same partition-column prune
              if (wm == Long.MinValue) f else f.filter(col("batch") > wm)
            }
            unfolded.select(col(idCol), col(vecCol), col("cell"))
          }
      else base
    Similarity.probeScore(probeCells, assigned, k, qidCol, qvecCol, idCol, vecCol)
  }
}
