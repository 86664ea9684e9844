package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing for incremental pipeline runs (beyond-
  * reference tier): a recrawl / re-ingest produces a new snapshot, and
  * every downstream stage (dedup, embedding, indexing) only wants the
  * delta — the reference's hash-cache idempotent ingest
  * (`document_processing_service.py` cache naming) solves the
  * per-document version of this; here it is corpus-level.
  *
  * Scale design: both snapshots are projected to `(id, md5)` BEFORE the
  * join, so the full-outer join shuffles two narrow columns, never the
  * document bodies; on tables bucketed by id at write time the shuffle
  * disappears entirely. Output is the
  * delta only — at a typical recrawl (≪10% churn) that's a small
  * fraction of either snapshot.
  */
object Snapshot {

  /** Diff two document snapshots by content hash: `added` (id only in
    * `newDocs`), `removed` (only in `oldDocs`), `changed` (both, hash
    * differs). Unchanged rows are dropped. Null text hashes as the
    * empty string, so a null→""-text edit is (correctly) no change. */
  def corpusDelta(oldDocs: DataFrame, newDocs: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(idCol).as("id"),
      md5(coalesce(col(textCol), lit(""))).as("old_hash"))
    val n = newDocs.select(col(idCol).as("id"),
      md5(coalesce(col(textCol), lit(""))).as("new_hash"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") =!= col("new_hash"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("id").as(idCol), col("status"), col("old_hash"), col("new_hash"))
  }
}
