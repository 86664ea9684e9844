package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The per-row SimHash the streaming near-dup ledger bands on
  * (`streamingNearDupLedger` through `Dedup.simhashPairsIncremental`). */
class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  test("simhash60Col (per-row fold) is bit-identical to the aggregation form") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    val agg = Dedup.simhash60(docs).withColumnRenamed("simhash", "fp_agg")
    val row = docs.select(col("doc_id").as("id"),
      Dedup.simhash60Col(col("text")).as("fp_row"))
    val diff = agg.join(row, "id")
      .filter(col("fp_agg") =!= col("fp_row")).count()
    assert(diff === 0L)
    assert(row.count() === 500L)
  }
}
