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

  // --- engine table writer (S13 init) ----------------------------------

  /** S13 — (re)initialize a table: plain parquet overwrite (the
    * reference's create-index-with-delete_if_exists,
    * `pinecone_manager.py:19-59`). */
  def overwrite(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  // --- TPC-H-ish relational tables -------------------------------------
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
}
