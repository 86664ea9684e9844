package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (prompt tier): treat image/audio/video as
  * opaque `BINARY` payloads with typed metadata, and run decode /
  * feature-extraction as column transforms.
  *
  * Image and audio decode are REAL — [[MediaCodec]] runs the JDK's own
  * codecs (`javax.imageio`, `javax.sound.sampled`) per partition. Only
  * VIDEO, whose codecs genuinely aren't in the JDK, keeps the
  * clearly-marked deterministic pseudo-header parse ([[decodeMeta]]);
  * everything Spark-side around it is real and scale-shaped: BinaryType
  * columns, generator-style frame sampling with `sequence`/`posexplode`,
  * and column-pruning-friendly schemas (payload column only touched by
  * the decode stage).
  */
object Multimodal {

  /** Payload table: the documents' text bytes standing in for real media
    * blobs (same column shapes as a `binaryFile` scan: payload BINARY +
    * modality + byte length). */
  def binaryDocs(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      lit("video/fake").as("modality"))

  /** Columnar metadata "decode" — deterministic pseudo-header parse kept
    * in pure codegen'd column ops: byte length, first-8-bytes hex
    * fingerprint, and fake geometry derived from the length. A real
    * decoder would replace the width/height/frames formulas; the schema
    * and data flow would not change. */
  def decodeMeta(binDocs: DataFrame): DataFrame =
    binDocs.select(
      col("doc_id"),
      length(col("payload")).as("byte_len"),
      lower(hex(substring(col("payload"), 1, 8))).as("head_hex"),
      (lit(64) + pmod(length(col("payload")), lit(576))).as("width"),
      (lit(64) + pmod(length(col("payload")) * 7, lit(416))).as("height"),
      expr("CAST(length(payload) AS BIGINT) div 100 + 1").as("n_frames"))

  /** Resize planning: aspect-preserving target geometry with the long
    * side capped at `maxSide` (integer math only — engine-reproducible).
    * The actual pixel resample belongs in a real decoder; the
    * geometry computation is the part a query plan evaluates (e.g. to
    * partition work by output size or filter thumbnails). */
  def resizeMeta(meta: DataFrame, maxSide: Int = 224): DataFrame = {
    val longSide = greatest(col("width"), col("height"))
    val needs = longSide > maxSide
    meta
      .withColumn("out_width",
        when(needs, expr(s"(width * $maxSide) div greatest(width, height)"))
          .otherwise(col("width")).cast("int"))
      .withColumn("out_height",
        when(needs, expr(s"(height * $maxSide) div greatest(width, height)"))
          .otherwise(col("height")).cast("int"))
      .withColumn("scaled", needs)
  }

  /** Frame sampling: every `step`-th frame index of each payload, with a
    * 25 fps fake timestamp. Generator (`sequence` + `posexplode`) — rows
    * scale with sampled frames, not with payload size. */
  def frameSample(meta: DataFrame, step: Int = 10): DataFrame =
    meta.select(col("doc_id"), col("n_frames"),
        posexplode(sequence(lit(0L), col("n_frames") - 1, lit(step.toLong)))
          .as(Seq("sample_idx", "frame_idx")))
      .select(col("doc_id"), col("sample_idx").cast("int").as("sample_idx"),
        col("frame_idx"), (col("frame_idx") * 40L).as("frame_ts_ms"))
}
