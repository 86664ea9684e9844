package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StatefulStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("dropDuplicatesWithinWatermark dedups across batches inside the window") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val ts = (s: Long) => new java.sql.Timestamp((1000000L + s) * 1000)
    val docs = MemoryStream[(String, Long, java.sql.Timestamp)]
    // unlike dropDuplicates, state here is bounded by the watermark delay
    // instead of growing with every key ever seen — the production form
    // of the reference's hash cache (S2) for unbounded streams
    val deduped = docs.toDF().toDF("fp", "doc_id", "ingest_ts")
      .withWatermark("ingest_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
    val q = deduped.writeStream.format("memory").queryName("ddww")
      .outputMode("append").start()
    try {
      docs.addData(("fpA", 1L, ts(0)), ("fpA", 2L, ts(30)), ("fpB", 3L, ts(0)))
      q.processAllAvailable()
      docs.addData(("fpA", 4L, ts(60))) // still within the window: dup
      q.processAllAvailable()
      val kept = spark.table("ddww").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 3L))
    } finally q.stop()
  }

  test("binaryFile scan + MIME sniff over real bytes (S3 coverage)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Validation
    val dir = java.nio.file.Files.createTempDirectory("graft_bin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.pdf"),
      "%PDF-1.4 content %%EOF".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.bin"),
      Array[Byte](0x50, 0x4b, 0x03, 0x04) ++ " word/doc".getBytes("UTF-8"))
    val scanned = spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("length"),
        Validation.sniffMime(col("content").cast("string")).as("mime"))
      .orderBy("path").collect()
    assert(scanned.length === 2)
    assert(scanned.map(_.getAs[String]("mime")).toSeq ===
      Seq("application/pdf",
        "application/vnd.openxmlformats-officedocument.wordprocessingml.document"))
  }
}
