package graft

import org.apache.spark.sql.functions._
import graft.io.Tables

class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("overwrite reinitializes a table (S13 delete_if_exists semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ow").toString + "/t"
    Tables.overwrite(Seq((1L, "x")).toDF("id", "v"), dir)
    Tables.overwrite(Seq((2L, "y"), (3L, "z")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("events reader surfaces both full-precision nanos and event-time ts") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val r = ev.select(col("ts_ns"), unix_timestamp(col("ts")).as("es")).head
    assert(r.getLong(0) / 1000000000L === r.getLong(1))
    // absolute anchor, not just internal consistency: the testdata's
    // events are 2024 dates, so a unit mix-up (µs read as ns → 1970,
    // ns missed as µs → year ~56k) fails loudly here
    val yr = ev.select(year(col("ts"))).head.getInt(0)
    assert(yr === 2024, s"event-time year $yr — ts unit normalization broken")
  }

  test("events ts unit normalizes by magnitude: µs and ns writers both yield nanos") {
    val base = java.nio.file.Files.createTempDirectory("graft_evu").toString
    val us = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    def write(dir: String, raw: Long): Unit =
      Seq((1L, raw, 7L, "click", 0.5, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
    write(s"$base/us", us)          // MICROS-generation testdata shape
    write(s"$base/ns", us * 1000L)  // NANOS-generation testdata shape
    for (d <- Seq(s"$base/us", s"$base/ns")) {
      val r = Tables.events(spark, d)
        .select(col("ts_ns"), unix_timestamp(col("ts")).as("es")).head
      assert(r.getLong(0) === us * 1000L, s"$d: ts_ns ${r.getLong(0)}")
      assert(r.getLong(1) === us / 1000000L, s"$d: epoch-s ${r.getLong(1)}")
    }
  }
}
