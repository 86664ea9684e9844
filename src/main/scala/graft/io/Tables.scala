package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-provided parquet testdata (TESTDATA.md) and the
  * engine's own derived tables.
  *
  * Design stance (SURVEY.md §7.0): the engine is "tables, not services" —
  * `documents`, `chunks`, `index` (chunks + embedding), `questions`,
  * `answers`, all parquet-backed with fixed schemas. The reference keeps
  * everything as Python lists in RAM (reference
  * `src/main.py:75`, `vectorizer.py:76`); here every stage is a DataFrame
  * so Catalyst gets predicate pushdown / column pruning and the 100 TB
  * path is partition-parallel by construction.
  */
object Tables {
  private def p(dir: String, name: String) = s"$dir/$name.parquet"

  // Note on local scan parallelism: the testdata parquet is ONE row
  // group per table, so scans are single-task here (parquet splits at
  // row-group granularity only). A round-robin fan-out after the scan
  // was MEASURED (round 4) and rejected: sort-before-repartition plus
  // one extra stage per query cost more than the parallelism returned
  // (bench total 47 s → 64 s). Real tables at scale have thousands of
  // row groups; nothing to fix in the operators themselves.
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(p(dir, name))

  // --- engine-surface tables -------------------------------------------
  /** doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT */
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  /** vec_id BIGINT, embedding ARRAY<FLOAT>, label INT */
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
  /** event_id BIGINT, ts TIMESTAMP (µs), ts_ns BIGINT (full nanosecond
    * epoch), user_id BIGINT, event_type STRING, value DOUBLE, props STRING.
    *
    * The testdata has shipped `ts` as BOTH parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across generations. Either way the physical type
    * is INT64, and supplying the schema explicitly (ts as LONG) reads
    * the raw integer with no session conf and no inference (NANOS would
    * otherwise need the session-wide `nanosAsLong` legacy flag;
    * PARQUET_TYPE_ILLEGAL). The UNIT, however, follows the writer — so
    * it is normalized per row by magnitude: epoch-µs for any date
    * before year ~5100 sits below 1e17 while epoch-ns for any date
    * after 1973 sits above it, so `raw >= 1e17 → already ns, else
    * µs → ×1000` is unambiguous for any plausible event time. BLIND
    * SPOT: a NANOS-generation writer's pre-1973 values (including
    * negative, pre-1970) also sit below 1e17 and would be wrongly
    * re-multiplied ×1000 — "plausible event time" here means the
    * testdata's recent-epoch telemetry, not historical dates. If the
    * corpus ever carries pre-1973 event times, disambiguate per file
    * from the parquet footer's logical-type annotation instead of by
    * magnitude. The
    * branch is one codegen'd conditional per row — the frame stays
    * fully lazy and unrelated parquet reads are untouched. `ts_ns` is
    * the total-order column (no precision loss from a NANOS writer); a
    * proper µs TimestampType `ts` is derived for event-time operators
    * (`window()`, watermarks). */
  def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(
      "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(p(dir, "events"))
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("ts_ns", org.apache.spark.sql.functions.expr(
        "CASE WHEN ts_ns >= 100000000000000000 THEN ts_ns ELSE ts_ns * 1000 END"))
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts_ns div 1000")))

  // --- non-parquet sources ---------------------------------------------

  /** documents-shaped table from JSON-lines or CSV-with-header files —
    * the same downstream operators run unchanged (schema is the
    * contract, not the format). Explicit schema: schema inference would
    * scan the data twice and guess types per-file at scale. */
  val documentsSchema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

  def documentsFromJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentsSchema).json(path)

  def documentsFromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentsSchema)
      .option("header", "true").option("multiLine", "true").option("escape", "\"")
      .csv(path)

  /** ORC is the other columnar table format Spark reads vectorized with
    * pushdown/pruning — same operator pipeline, different layout. */
  def documentsFromOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentsSchema).orc(path)

  /** Spark 4's built-in XML source (the merged spark-xml): one `<doc>`
    * row element per document. Explicit schema for the same
    * no-double-scan reason as JSON/CSV. */
  def documentsFromXml(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentsSchema).option("rowTag", "doc").xml(path)

  // --- engine table writers (S13 init / partitioned layout) ------------

  /** S13 — (re)initialize a table: plain parquet overwrite (the
    * reference's create-index-with-delete_if_exists,
    * `pinecone_manager.py:19-59`). */
  def overwrite(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  /** Partitioned table layout: hive-style `col=value` directories so
    * per-key predicates (P5 metadata filters, S15 delete-by-filter,
    * retention scans) become partition PRUNING — the scan never opens
    * non-matching files. At 100 TB this is the difference between a
    * metadata operation and a full-table read. Choose low-cardinality
    * keys (lang, event_type, date) — one directory per value. */
  def overwritePartitioned(df: DataFrame, dir: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir)

  /** Small-file compaction — the maintenance job every long-lived table
    * needs: streaming upserts and incremental loads accrete files far
    * smaller than a row group, and at 100 TB the scan's task count (and
    * the NameNode/object-store listing) degrades with file count, not
    * byte count. Rewrites the table as ceil(bytes/targetFileBytes)
    * files. The swap is the same crash-safe bak dance as
    * [[graft.streaming.StreamingIngest.upsertBatch]]: a full copy of the
    * table exists on disk at every instant. Returns the output file
    * count. */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val dst = new org.apache.hadoop.fs.Path(dir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // SAME sibling names as StreamingIngest.upsertBatch, deliberately:
    // compaction's documented use case is the streaming upsert table,
    // and recovery at each entry point only knows its own sibling
    // names. With per-family names, a compact that crashed between
    // its two renames (dst missing, table only in the siblings) is
    // invisible to the stream's recoverSwap — the resumed stream
    // would treat the missing dst as a FIRST-EVER table and commit a
    // one-micro-batch rebuild, and a later compact's recovery would
    // then delete the stranded siblings, the only surviving copy.
    // One shared namespace per dst makes every writer's recoverSwap
    // heal every other's crash. (Both writers are single-writer on
    // the dst by contract; the names cannot collide live.)
    val (tmp, bak) = (new org.apache.hadoop.fs.Path(dir + "_tmp"),
      new org.apache.hadoop.fs.Path(dir + "_bak"))
    // one-time LEGACY healing: compacts before the shared-sibling
    // rename staged at `<dir>_compact_tmp`/`_compact_bak`. A crash
    // remnant under those names is invisible to the current recovery
    // (and to the stream's), so a missing dst would be misread as a
    // first-ever table and the stranded siblings — the only surviving
    // copy — later deleted. Same roll-forward/back rules; with dst
    // healthy it just clears the stale legacy staging.
    graft.streaming.StreamingIngest.recoverSwap(fs, dst,
      new org.apache.hadoop.fs.Path(dir + "_compact_tmp"),
      new org.apache.hadoop.fs.Path(dir + "_compact_bak"))
    // roll an interrupted previous compact forward/back BEFORE reading —
    // same recovery contract as the streaming upsert's swap
    graft.streaming.StreamingIngest.recoverSwap(fs, dst, tmp, bak)
    // a hive-partitioned layout (subdirectories) must be compacted per
    // leaf directory: a flat rewrite would flatten the partition columns
    // into data and break downstream partition pruning
    val entries = fs.listStatus(dst) // one LIST round-trip for guard + sizing
    require(!entries.exists(_.isDirectory),
      s"compact: $dir has partition subdirectories — compact each leaf directory instead")
    val parquet = entries.filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet"))
    val bytes = parquet.map(_.getLen).sum
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // already at (or under) the target file count AND no single file
    // exceeds the target size: the rewrite could neither reduce the
    // count nor split an oversized file, so skip the read+write+swap
    // entirely — the recovery healing above already ran, which is the
    // other thing an entry into compact promises. (The size guard
    // matters: one 10 GB file IS "count <= ceil(bytes/target)" yet
    // must still be re-split into target-sized files.) This turns
    // maintenance over a mostly-compact table into a pure LIST, the
    // no-op cost profile a periodic compactor needs at 100 TB.
    if (parquet.length <= nFiles && parquet.forall(_.getLen <= targetFileBytes))
      return parquet.length
    // a skipping manifest (Layout.writeWithStats) names the PRE-compact
    // files; capture its tracked columns now and re-derive after the
    // swap, or skipping silently stops on the re-filed table. (A crash
    // between swap and refresh leaves a manifest-less table — readers
    // treat that as unprunable, never wrong.)
    val statsCols = Layout.trackedCols(spark, dir)
    spark.read.parquet(dir).repartition(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    graft.streaming.StreamingIngest.swapInto(fs, dst, tmp, bak, "compact")
    if (statsCols.nonEmpty) Layout.refreshStats(spark, dir, statsCols)
    nFiles
  }

  /** Bucketed table layout: hash-bucket (and sort) rows by the join key
    * at WRITE time, so every later equi-join or aggregation on that key
    * is co-located — zero shuffle at read time, the biggest repeated-join
    * lever at 100 TB (shuffle once when writing, never again). Bucketing
    * needs a table catalog (`saveAsTable`), unlike plain parquet paths. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCol: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  // --- TPC-H-ish relational tables -------------------------------------
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
}
