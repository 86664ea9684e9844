package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination for the training-data tier: flag training
  * documents that share word n-grams with an evaluation/benchmark set —
  * the standard leakage guard run before an LLM training job (13-gram
  * overlap in published pipelines; `n` is a parameter here).
  *
  * Scale shape: the benchmark side is small by nature (eval sets are
  * thousands of items, the corpus is 100 TB), so its exploded n-gram
  * index is BROADCAST — the corpus side streams through a map-side hash
  * join with no shuffle of document data at all; the only exchange is
  * the per-document aggregation of hit counts, which is O(hits), not
  * O(corpus). No inverted-index self-join, no skew: hot n-grams cost
  * hash-probe time, never a repartition.
  */
object Decontaminate {

  /** (doc, bench, n_shared) for every document/benchmark-item pair that
    * shares at least one distinct word `n`-gram. Both sides' shingle
    * sets are distinct per id (see [[Dedup.shinglesFromWords]]), so the
    * join emits one row per shared shingle and `count(*)` is the
    * overlap cardinality. */
  def overlapPairs(docs: DataFrame, bench: DataFrame, n: Int = 13,
                   idCol: String = "doc_id", textCol: String = "text",
                   benchIdCol: String = "bench_id",
                   benchTextCol: String = "text"): DataFrame = {
    def exploded(df: DataFrame, id: String, text: String, outId: String) =
      df.withColumn("_words", split(lower(trim(col(text))), "\\s+"))
        .select(col(id).as(outId),
          explode(Dedup.shinglesFromWords(col("_words"), n)).as("shingle"))
    exploded(docs, idCol, textCol, "doc_id")
      .join(broadcast(exploded(bench, benchIdCol, benchTextCol, "bench_id")), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-document contamination verdict: how many benchmark items hit,
    * total shared n-grams, and the drop flag. Clean documents appear
    * with zeros (left join back to the corpus), so the output is a
    * full-corpus annotation usable as a filter mask. */
  def report(docs: DataFrame, bench: DataFrame, n: Int = 13,
             idCol: String = "doc_id", textCol: String = "text",
             benchIdCol: String = "bench_id",
             benchTextCol: String = "text"): DataFrame = {
    val pairs = overlapPairs(docs, bench, n, idCol, textCol, benchIdCol, benchTextCol)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"), sum(col("n_shared")).as("n_overlap"))
    // the hit list is bounded by contamination (rare by construction) —
    // broadcast it rather than sort-merge the whole corpus by id; drop
    // the hint if a pathological corpus is mostly contaminated
    docs.select(col(idCol).as("doc_id"))
      .join(broadcast(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(col("n_bench_hits") > 0, lit(false)).as("contaminated"))
  }

  // ---- span-level decontamination (remove the window, keep the doc) ----

  /** Contaminated SPANS per document — the GPT-3-style surgical variant
    * of [[report]] (Brown et al. 2020 App. C removes a window AROUND
    * each benchmark collision instead of dropping the whole document;
    * a long document with one leaked question keeps its other 99%):
    * every doc word-position whose `n`-gram appears in the benchmark's
    * distinct `n`-gram set marks a hit; adjacent hits (within `n`
    * positions — touching or overlapping windows) merge into one span
    * (the [[Dedup.duplicatedSpans]] gaps-and-islands shape); each span
    * then pads by `padWords` on both sides, clamped to the document.
    * Benchmark items shorter than `n` words contribute no grams (no
    * spurious whole-text matches).
    *
    * Scale shape: the benchmark gram set is broadcast (eval sets are
    * thousands of items); the corpus side is a map-side hash probe of
    * its positions — the only exchange is the per-document window over
    * HIT positions, O(hits) not O(corpus).
    *
    * Output: (doc_id, span_start, span_end, n_hit_grams, span_words),
    * word-index bounds inclusive. */
  def contaminatedSpans(docs: DataFrame, bench: DataFrame, n: Int = 13,
                        padWords: Int = 0,
                        idCol: String = "doc_id", textCol: String = "text",
                        benchTextCol: String = "text"): DataFrame = {
    require(n >= 1 && padWords >= 0, s"need n >= 1, padWords >= 0, got $n/$padWords")
    val pos = docs
      .withColumn("_words", split(lower(trim(col(textCol))), "\\s+"))
      .filter(size(col("_words")) >= n)
      .select(col(idCol).as("doc_id"), size(col("_words")).as("nw"),
        posexplode(Dedup.ngrams(col("_words"), n)).as(Seq("pos", "gram")))
    val benchGrams = bench
      .withColumn("_bw", split(lower(trim(col(benchTextCol))), "\\s+"))
      .filter(size(col("_bw")) >= n)
      .select(explode(Dedup.ngrams(col("_bw"), n)).as("gram"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    pos.join(broadcast(benchGrams), "gram")
      .withColumn("_new_seg",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, lit(0)).otherwise(lit(1)))
      .withColumn("_seg", sum(col("_new_seg")).over(w))
      .groupBy(col("doc_id"), col("_seg"))
      .agg(greatest(min(col("pos")) - padWords, lit(0)).as("span_start"),
        least(max(col("pos")) + n - 1 + padWords, max(col("nw")) - 1).as("span_end"),
        count(lit(1)).as("n_hit_grams"))
      .withColumn("span_words", col("span_end") - col("span_start") + 1)
      .select(col("doc_id").as(idCol), col("span_start"), col("span_end"),
        col("n_hit_grams"), col("span_words"))
  }

  /** The ACTION half of [[contaminatedSpans]]: ship each document with
    * its contaminated windows removed (padded spans may merge at clip
    * time — the index filter is against the span UNION, so overlap is
    * harmless). Detection tokenizes lowercased (contamination is
    * case-insensitive); the kept-index filter applies to the
    * case-preserving split of the same text — position-aligned, the
    * [[Dedup.clipDuplicatedSpans]] contract. Output: (id, clean_text,
    * n_words, n_words_removed) over the full corpus (clean documents
    * round-trip up to the \\s+ → single-space join). */
  def clipContaminated(docs: DataFrame, bench: DataFrame, n: Int = 13,
                       padWords: Int = 0,
                       idCol: String = "doc_id", textCol: String = "text",
                       benchTextCol: String = "text"): DataFrame =
    Dedup.clipSpans(docs,
      contaminatedSpans(docs, bench, n, padWords, idCol, textCol, benchTextCol),
      idCol, textCol)

  // ---- Bloom-filter membership (the sketch-sized decontam guard) -------

  /** The `k` bit positions an md5-hex key sets in an `m`-bit Bloom
    * filter: disjoint 20-bit slices of the hex string, each mod m. Pure
    * string/integer math — identical in any engine with md5. md5 has 32
    * hex chars = 6 full 5-char slices; k beyond that would silently read
    * an empty substring (NULL position → a filter that never hits), so
    * it is rejected here. */
  private def bloomPositions(fpHex: Column, m: Int, k: Int): Column = {
    require(k >= 1 && k <= 6,
      s"k must be in [1, 6] (md5 provides 32 hex chars = 6 disjoint 20-bit slices), got $k")
    require(m >= 2 && m <= (1 << 20), s"m must be in [2, 2^20] (20-bit slices), got $m")
    array((0 until k).map(i =>
      pmod(conv(substring(fpHex, 1 + 5 * i, 5), 16, 10).cast("long"), lit(m.toLong))): _*)
  }

  /** `m`-bit Bloom filter over a fingerprint column, as a ≤ m/64-row
    * (word, bits) table — `bit_or` of the per-key masks. The filter's
    * size is fixed by `m` regardless of how many keys went in: that is
    * the point at 100 TB, where the exact benchmark fingerprint set may
    * be too large to broadcast but 16 longs always fit. */
  def bloomBits(keys: DataFrame, fpCol: String, m: Int = 1024,
                k: Int = 3): DataFrame =
    keys
      .select(explode(bloomPositions(col(fpCol), m, k)).as("pos"))
      .select(expr("pos div 64").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
      .groupBy(col("word")).agg(bit_or(col("mask")).as("bits"))

  /** Bloom-filter decontamination verdict per document: probe the filter
    * built from the benchmark's content fingerprints; `bloom_hit` rows
    * are possibly-contaminated (to be dropped or routed to the exact
    * [[report]] n-gram pass), and the exact fingerprint join alongside
    * exposes the filter's false positives. Probe shape at scale: the
    * corpus explodes k=3 positions per document and hash-joins the
    * broadcast ≤ m/64-row filter table — map-side only; the benchmark
    * set itself is never shipped (only its `exact` twin here, kept for
    * the false-positive audit — production would skip it). A word with
    * no set bits has no filter row, so the probe join is left and a
    * missing row reads as bit-clear. */
  def bloomDecontam(docs: DataFrame, bench: DataFrame, m: Int = 1024,
                    k: Int = 3, idCol: String = "doc_id",
                    textCol: String = "text",
                    benchTextCol: String = "text"): DataFrame = {
    val benchFp = bench
      .select(TextAnalysis.fingerprint(col(benchTextCol)).as("fp")).distinct()
    val bloom = broadcast(bloomBits(benchFp, "fp", m, k))
    val probes = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .select(col("doc_id"), col("fp"),
        explode(bloomPositions(col("fp"), m, k)).as("pos"))
      .select(col("doc_id"), col("fp"),
        expr("pos div 64").as("word"), col("pos"))
      .join(bloom, Seq("word"), "left")
      .withColumn("bit_set",
        coalesce(expr("(shiftright(bits, CAST(pos % 64 AS INT)) & 1) = 1"), lit(false)))
    val verdict = probes.groupBy(col("doc_id"), col("fp"))
      .agg((count(when(col("bit_set"), 1)) === k).as("bloom_hit"))
    verdict
      .join(broadcast(benchFp.withColumn("_inb", lit(1))), Seq("fp"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        col("_inb").isNotNull.as("exact"),
        (col("bloom_hit") && col("_inb").isNull).as("false_positive"))
  }
}
