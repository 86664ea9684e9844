package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering for multi-dimensional file skipping (beyond-
  * reference tier; the OPTIMIZE-ZORDER idea from the lakehouse world).
  *
  * A 100 TB table is pruned through parquet row-group min/max stats: a
  * range filter skips a file only if the file's value interval misses
  * the predicate. Sorting by ONE key gives perfect intervals on that
  * key and full-width intervals on every other; interleaving the bits
  * of two keys (the Morton/Z curve) bounds BOTH dimensions per file, so
  * selective filters on either (or both) keys skip most files. The
  * whole operator is one range shuffle + in-partition sort — exactly
  * the cost of a plain sorted write.
  *
  * [[zValue]] is pure bit arithmetic on built-in expressions
  * (shift/and/or folds) — whole-stage codegen'd, no UDF.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of two non-negative
    * bucket ids: x occupies even bit positions, y odd. `bits` ≤ 31. */
  def zValue(x: Column, y: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"need 1 <= bits <= 31, got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Proportional bucket id in [0, 1 << bits) for `v` over [lo, hi].
    * Scaled in double space: (v - lo) * n would overflow long for
    * nanosecond-epoch spans. hi - lo + 1 avoids div-by-zero on a
    * constant column and keeps hi itself inside the top bucket. */
  private def bucket(v: Column, lo: Long, hi: Long, bits: Int): Column = {
    val n = (1L << bits).toDouble
    least(lit((1L << bits) - 1), greatest(lit(0L),
      floor((v - lit(lo)).cast("double") * (n / (hi - lo + 1.0))).cast("long")))
  }

  /** Re-cluster `df` on the Z curve over two long-valued columns: scale
    * each to a `bits`-bit bucket by its observed min/max (one tiny
    * driver-side agg — four numbers, not data), then range-partition +
    * sort by the interleaved value. `numFiles` controls output
    * parallelism; each written file then covers a ~square rectangle of
    * the (cx, cy) space instead of a full-width stripe. */
  def zorderBy(df: DataFrame, cx: String, cy: String,
               bits: Int = 8, numFiles: Int = 8,
               bounds: Option[(Long, Long, Long, Long)] = None): DataFrame = {
    // callers that already know the min/max (e.g. they computed a
    // predicate range from the same scan) pass `bounds` to skip this
    // full-table aggregation — one saved pass per write at data scale
    val (lox, hix, loy, hiy) = bounds.getOrElse {
      val r = df.agg(min(col(cx)), max(col(cx)), min(col(cy)), max(col(cy))).head()
      require(!r.anyNull, s"zorderBy: empty input or all-null $cx/$cy")
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val z = zValue(bucket(col(cx), lox, hix, bits), bucket(col(cy), loy, hiy, bits), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Write `df` as parquet plus a per-file min/max statistics manifest
    * for `statsCols` (long-typed), read from the PARQUET FOOTERS — no
    * second data scan; at 100 TB the stats collection is a
    * footer-listing job, not a table read. This is the data-skipping
    * half that [[zorderBy]]'s clustering exists to feed: cluster so
    * files cover small rectangles, then let [[readPruned]] drop every
    * file whose stats interval misses the predicate before Spark ever
    * lists it. The manifest (`_graft_stats.json`, one JSON line per
    * file) commits via tmp + rename after the parquet write, so a crash
    * leaves a readable table with at worst a stale/absent manifest —
    * and [[prunedPaths]] treats an absent entry as unprunable, never
    * wrong. */
  def writeWithStats(df: DataFrame, dir: String, statsCols: Seq[String]): Unit = {
    df.write.mode("overwrite").parquet(dir)
    refreshStats(df.sparkSession, dir, statsCols)
  }

  /** (Re)derive the stats manifest for an EXISTING parquet dir — the
    * footer-scan + tmp/rename commit of [[writeWithStats]] without the
    * data write. A rewriter that re-files a table orphans the old
    * manifest; calling this after its swap restores skipping without
    * another data pass. */
  def refreshStats(spark: org.apache.spark.sql.SparkSession, dir: String,
                   statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "need at least one stats column")
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).filter { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")
    }.map(_.getPath.toString).toSeq.sorted
    // footer reads run as a JOB (one task per slice), not a serial
    // driver loop: at 100 TB that is ~1e6 footer round-trips — hours if
    // serialized on the driver, minutes fanned out
    val lines =
      if (files.isEmpty) Seq.empty[String]
      else {
        val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
        val cols = statsCols // avoid closing over the method scope
        val slices = math.max(1, math.min(files.size,
          spark.sparkContext.defaultParallelism))
        spark.sparkContext.parallelize(files, slices)
          .map(f => statsLine(f, sconf.value, cols)).collect().toSeq.sorted
      }
    val tmp = new org.apache.hadoop.fs.Path(dir, "._graft_stats.json.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, "_graft_stats.json")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"stats manifest commit failed for $dir")
  }

  /** One manifest line for one parquet file: footer-derived min/max per
    * stats column. Executor-side (see [[refreshStats]]). */
  private def statsLine(file: String, conf: org.apache.hadoop.conf.Configuration,
                        statsCols: Seq[String]): String = {
    val f = new org.apache.hadoop.fs.Path(file)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks
      val stats = statsCols.map { c =>
        var lo = Long.MaxValue; var hi = Long.MinValue
        var slo: Array[Byte] = null; var shi: Array[Byte] = null
        var usable = true
        blocks.forEach { b =>
          b.getColumns.forEach { cc =>
            if (cc.getPath.toDotString == c) {
              val st = cc.getStatistics
              if (st == null || !st.hasNonNullValue) usable = false
              else (st.genericGetMin, st.genericGetMax) match {
                case (mn: java.lang.Long, mx: java.lang.Long) =>
                  lo = math.min(lo, mn); hi = math.max(hi, mx)
                case (mn: org.apache.parquet.io.api.Binary,
                      mx: org.apache.parquet.io.api.Binary) =>
                  // string stats, compared the way parquet wrote them:
                  // unsigned lexicographic on UTF-8 bytes. The bounds
                  // survive the manifest's String round-trip ONLY for
                  // valid UTF-8 — a raw BINARY column, or a truncating
                  // writer cutting mid-codepoint, would decode lossily
                  // (U+FFFD) and CORRUPT the bound (can exceed the true
                  // min → wrongly skipped files), so non-UTF-8 bytes
                  // drop the column's stats instead (file stays
                  // unprunable — the safe direction)
                  val (mnB, mxB) = (mn.getBytes, mx.getBytes)
                  if (!utf8RoundTrips(mnB) || !utf8RoundTrips(mxB)) usable = false
                  else {
                    if (slo == null || bytesCompare(mnB, slo) < 0) slo = mnB
                    if (shi == null || bytesCompare(mxB, shi) > 0) shi = mxB
                  }
                case _ => usable = false // unsupported type: no pruning
              }
            }
          }
        }
        if (usable && slo != null && lo == Long.MaxValue)
          s""""min_$c":${jsonStr(slo)},"max_$c":${jsonStr(shi)}"""
        else if (usable && slo == null && lo <= hi) s""""min_$c":$lo,"max_$c":$hi"""
        else ""
      }.filter(_.nonEmpty)
      (s"""{"file":${jsonStr(f.getName)}""" +: stats).mkString(",") + "}"
    } finally reader.close()
  }

  /** Unsigned lexicographic byte compare — parquet's BINARY stats
    * order, which plain String compare (UTF-16 code units) does NOT
    * match beyond ASCII. */
  private def bytesCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** True iff `bytes` decodes as UTF-8 and re-encodes to the SAME
    * bytes — the precondition for a string bound to survive the
    * manifest's String round-trip without corrupting its byte order. */
  private def utf8RoundTrips(bytes: Array[Byte]): Boolean =
    try {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      val s = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      java.util.Arrays.equals(s.getBytes("UTF-8"), bytes)
    } catch { case _: java.nio.charset.CharacterCodingException => false }

  /** JSON string literal for UTF-8 bytes (quotes/backslash/control
    * chars escaped — the manifest is parsed by a real JSON reader).
    * Callers guarantee [[utf8RoundTrips]] for stats bounds; file names
    * route through here too so a hostile name cannot break a line. */
  private def jsonStr(utf8: Array[Byte]): String = jsonStr(new String(utf8, "UTF-8"))

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  /** One manifest file's bounds: long-typed and string-typed columns
    * (string bounds compared as unsigned UTF-8 bytes, parquet's own
    * BINARY stats order). */
  private final case class FileBounds(longs: Map[String, (Long, Long)],
                                      strs: Map[String, (String, String)])

  /** Parse a stats manifest (one JSON object per line) into
    * `(fileName, bounds)` entries with a REAL JSON reader (json4s,
    * already on the Spark classpath) — field order, extra keys, and
    * whitespace are all tolerated; a malformed line or a bound of an
    * unsupported type drops only that line/column, which errs in the
    * safe direction (the file stays unprunable, never skipped). */
  private def parsedManifest(text: String): Seq[(String, FileBounds)] = {
    import org.json4s._
    text.split('\n').toSeq.filter(_.trim.nonEmpty).flatMap { line =>
      val parsed = try Some(org.json4s.jackson.JsonMethods.parse(line))
                   catch { case _: Exception => None }
      parsed.collect { case JObject(fields) =>
        val kv = fields.toMap
        kv.get("file").collect { case JString(name) =>
          val longs = kv.collect {
            case (k, JInt(v)) if v.isValidLong => k -> v.toLong
            case (k, JLong(v)) => k -> v
          }
          val strs = kv.collect { case (k, JString(v)) if k != "file" => k -> v }
          def paired[T](m: Map[String, T]): Map[String, (T, T)] = m.collect {
            case (k, mn) if k.startsWith("min_") &&
              m.contains("max_" + k.stripPrefix("min_")) =>
              k.stripPrefix("min_") -> ((mn, m("max_" + k.stripPrefix("min_"))))
          }
          name -> FileBounds(paired(longs), paired(strs))
        }
      }.flatten
    }
  }

  /** Shared listing for the pruning paths: a leaf dir's sorted parquet
    * files plus its manifest's per-file bounds (empty when absent).
    * Refuses a hive-partitioned layout — its data lives in
    * subdirectories this listing would miss ENTIRELY, and an empty
    * kept-list would turn "skipping is an optimization" into a silent
    * filter (the readPruned* callers degrade to an unpruned read
    * first). ONE definition so the long and string paths can never
    * drift. */
  private def listWithBounds(spark: org.apache.spark.sql.SparkSession, dir: String,
                             caller: String): (Seq[String], Map[String, FileBounds]) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val entries = fs.listStatus(p)
    require(!entries.exists(_.isDirectory),
      s"$caller: $dir has partition subdirectories — stats skipping " +
        "works per leaf directory; use a partition filter for the tree")
    (parquetFiles(entries), manifestBounds(fs, dir))
  }

  /** Sorted parquet data files out of an already-fetched listing —
    * shared by [[listWithBounds]] and [[readKept]] so a pruned read
    * lists the directory exactly ONCE (at ~1e6 files per dir the remote
    * listing dominates a pruned read's cost). */
  private def parquetFiles(entries: Array[org.apache.hadoop.fs.FileStatus]): Seq[String] =
    entries.filter { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")
    }.map(_.getPath.toString).toSeq.sorted

  /** The dir's manifest bounds (empty when absent) — one small-file
    * read, no directory listing. */
  private def manifestBounds(fs: org.apache.hadoop.fs.FileSystem,
                             dir: String): Map[String, FileBounds] = {
    val manifest = new org.apache.hadoop.fs.Path(dir, "_graft_stats.json")
    if (!fs.exists(manifest)) return Map.empty
    val text = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    parsedManifest(text).toMap
  }

  /** Keep `files` whose bound (when present) satisfies `overlaps`;
    * unbounded files always survive — skipping is never a filter. */
  private def keepFiles[T](files: Seq[String], bound: String => Option[T],
                           overlaps: T => Boolean): Seq[String] =
    files.filter { f =>
      bound(new org.apache.hadoop.fs.Path(f).getName).forall(overlaps)
    }

  /** File paths of `dir` whose `[min, max]` interval for `col` overlaps
    * `[lo, hi]` — plus every file the manifest cannot bound (absent
    * line or absent stats): skipping is an optimization, never a filter.
    * Returns (kept paths, total data files). */
  def prunedPaths(spark: org.apache.spark.sql.SparkSession, dir: String,
                  colName: String, lo: Long, hi: Long): (Seq[String], Int) = {
    val (files, bounds) = listWithBounds(spark, dir, "prunedPaths")
    (keptRange(files, bounds, colName, lo, hi), files.size)
  }

  /** Range-overlap keep rule over pre-listed files — shared by
    * [[prunedPaths]] and [[readPruned]] so the read path reuses its own
    * listing instead of listing again. */
  private def keptRange(files: Seq[String], bounds: Map[String, FileBounds],
                        colName: String, lo: Long, hi: Long): Seq[String] =
    keepFiles[(Long, Long)](files, bounds.get(_).flatMap(_.longs.get(colName)),
      { case (mn, mx) => mx >= lo && mn <= hi })

  /** String-column variant of [[prunedPaths]]: keep files whose
    * `[min, max]` UTF-8-byte interval for `colName` contains `value`
    * (plus every file the manifest cannot bound). The comparator is
    * the one the bounds were WRITTEN under — unsigned lexicographic on
    * UTF-8 bytes, parquet's BINARY stats order — so non-ASCII values
    * prune correctly too. */
  def prunedPathsEq(spark: org.apache.spark.sql.SparkSession, dir: String,
                    colName: String, value: String): (Seq[String], Int) = {
    val (files, bounds) = listWithBounds(spark, dir, "prunedPathsEq")
    (keptEq(files, bounds, colName, value), files.size)
  }

  /** Equality keep rule over pre-listed files (see [[keptRange]]). */
  private def keptEq(files: Seq[String], bounds: Map[String, FileBounds],
                     colName: String, value: String): Seq[String] = {
    val v = value.getBytes("UTF-8")
    keepFiles[(String, String)](files, bounds.get(_).flatMap(_.strs.get(colName)),
      { case (mn, mx) =>
        bytesCompare(mn.getBytes("UTF-8"), v) <= 0 &&
          bytesCompare(v, mx.getBytes("UTF-8")) <= 0 })
  }

  /** Read `dir` keeping only files whose string stats admit
    * `colName = value`, then apply the equality as a residual filter —
    * the "read only the English shards" shape for a table clustered on
    * a categorical column. Same never-wrong contract as [[readPruned]]:
    * partitioned trees and unbounded files degrade to a plain filtered
    * read. */
  def readPrunedEq(spark: org.apache.spark.sql.SparkSession, dir: String,
                   colName: String, value: String): DataFrame =
    readKept(spark, dir, col(colName) === value,
      (files, bounds) => keptEq(files, bounds, colName, value))

  /** Read `dir` with manifest-level file skipping for `colName ∈ [lo,
    * hi]`, then apply the SAME predicate as a residual filter (file
    * stats only bound files — rows inside a kept file still need the
    * row-level filter, which also pushes into the row-group stats). */
  def readPruned(spark: org.apache.spark.sql.SparkSession, dir: String,
                 colName: String, lo: Long, hi: Long): DataFrame =
    readKept(spark, dir, col(colName) >= lo && col(colName) <= hi,
      (files, bounds) => keptRange(files, bounds, colName, lo, hi))

  /** The shared read tail of both readPruned variants: a partitioned
    * tree degrades to a plain filtered read (no manifest skipping — see
    * [[listWithBounds]] — and the filter drives Spark's own partition
    * pruning); otherwise read only the kept files with the residual
    * predicate applied. The directory is listed exactly ONCE — the tree
    * check, the file inventory, and the keep rule all consume the same
    * listing (remote listings dominate at ~1e6 files/dir). */
  private def readKept(spark: org.apache.spark.sql.SparkSession, dir: String,
                       predicate: Column,
                       kept: (Seq[String], Map[String, FileBounds]) => Seq[String])
      : DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val entries = fs.listStatus(p)
    if (entries.exists(_.isDirectory))
      return spark.read.parquet(dir).filter(predicate)
    val k = kept(parquetFiles(entries), manifestBounds(fs, dir))
    if (k.isEmpty)
      spark.read.parquet(dir).filter(lit(false)) // empty frame, right schema
    else spark.read.parquet(k: _*).filter(predicate)
  }

  /** Contiguous global row numbers `0..n-1` in `orderCol` order WITHOUT
    * the single-partition sort a naive `row_number() OVER (ORDER BY …)`
    * plans (one reducer holding the whole table — the classic 100 TB
    * cliff; `PlanPropertiesSpec` pins that no SinglePartition exchange
    * appears here). The distributed shape is core's `zipWithIndex`
    * re-expressed on DataFrames:
    *
    *  1. range-partition + in-partition sort on `orderCol`, pinned with
    *     `localCheckpoint` so the count job and the numbering job see
    *     the SAME partitioning (range boundaries come from sampling; at
    *     production scale this pin is the training-shard materialization
    *     you'd do anyway before stamping ids);
    *  2. per-partition counts — `numParts` longs to the driver, size
    *     independent of data — prefix-summed into offsets;
    *  3. one shuffle-free projection: `monotonically_increasing_id`'s
    *     documented layout (partition id ≪ 33 | per-partition counter
    *     in row order) yields the in-partition ordinal, plus the
    *     broadcast offset literal.
    *
    * Total cost: one range shuffle + one tiny agg + one map — no window
    * exchange, no driver data. Ties in `orderCol` get arbitrary but
    * contiguous ids (stamp a unique key for full determinism). The
    * monotonic-id layout caps a partition at 2^33 rows — beyond that the
    * counter would bleed into the partition-id bits and silently corrupt
    * ids, so the already-collected counts are checked and the caller is
    * told to raise `numParts`. */
  def globalIndex(df: DataFrame, orderCol: String, numParts: Int = 32,
                  outCol: String = "global_idx"): DataFrame = {
    val ranged = df.repartitionByRange(numParts, col(orderCol))
      .sortWithinPartitions(orderCol).localCheckpoint()
    val counts = ranged.groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    counts.find(_._2 >= (1L << 33)).foreach { case (pid, n) =>
      throw new IllegalArgumentException(
        s"globalIndex: partition $pid holds $n rows >= 2^33, past the " +
          "monotonic-id per-partition counter — raise numParts")
    }
    // prefix offsets over ALL partition ids (range partitioning may
    // leave some empty; they contribute 0 and never appear in rows)
    val offsets = (0 until numParts)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val offsetByPid = typedlit((0 until numParts).map(p => p -> offsets(p)).toMap)
    val pid = spark_partition_id()
    val local = monotonically_increasing_id() - shiftleft(pid.cast("long"), 33)
    ranged.withColumn(outCol, element_at(offsetByPid, pid) + local)
  }
}
