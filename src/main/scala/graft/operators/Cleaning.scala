package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed corpus-cleaning pass — the single decision every
  * pretraining-data pipeline ultimately emits per document: keep or
  * drop, with machine-readable reasons. Composes five independent
  * filter families (each an oracle-checked operator of its own) into
  * one plan:
  *
  *   - exact duplicate (content fingerprint, [[Dedup.exactDups]])
  *   - language whitelist ([[TextAnalysis.languageId]])
  *   - repetition ([[TextAnalysis.repetitionStats]] top-bigram share)
  *   - corpus-LM surprisal band ([[TextAnalysis.unigramSurprisal]])
  *   - benchmark contamination ([[Decontaminate.report]])
  *
  * Scale shape: the per-row language-id family rides the base scan as a
  * projection — no join, no shuffle — while each aggregated component
  * keeps its own optimal plan (fingerprint window, partial-combined
  * bigram tally, broadcast-scored LM, n-gram semi-join), so the verdict
  * join is four equi-joins on the document key — co-partitioned after
  * the first exchange, and trivially colocated if the table is bucketed
  * by id at write time. Reasons are ordered and
  * joined to a string so the output hashes stably across engines.
  */
object Cleaning {

  /** C4-style line/page cleaning (Raffel et al. 2020 §2.2, the
    * published rules that built C4 from Common Crawl):
    *
    *  - LINE level: keep only lines that end in terminal punctuation
    *    (`.`, `!`, `?`, `"`), have at least `minLineWords` words, and
    *    do not contain the word "javascript";
    *  - PAGE level: drop the page if it contains "lorem ipsum" or a
    *    curly brace `{`, or if the RETAINED text has fewer than
    *    `minSentences` SENTENCES (the paper's §2.2 page rule counts
    *    sentences, not lines — a single kept line holding three
    *    sentences keeps its page). A sentence = a terminal-punctuation
    *    run (`.`/`!`/`?`, optional closing quote) followed by
    *    whitespace or end-of-text, counted over the kept lines.
    *
    * Output per document: `n_lines`, `n_kept`, `n_sentences`,
    * `keep_doc`, and `clean_text` (the kept lines re-joined with
    * newlines — empty string when the page is dropped, so the column
    * hashes stably).
    *
    * Scale shape: a pure per-row projection — the line walk is a
    * bounded fold over one page's line array (the UrlOps precedent:
    * HOFs are fine over a handful of short per-row tokens, just never
    * over per-token corpus passes); zero shuffle, zero UDF, zero
    * explode/regroup round trip. */
  private def c4KeptLines(t: Column, minLineWords: Int): Column =
    filter(split(t, "\n"), l =>
      rtrim(l).rlike("[.!?\"]$") &&
        size(split(trim(l), "\\s+")) >= minLineWords &&
        !lower(l).contains("javascript"))

  // RE2-compatible (the DuckDB-oracle parity rule): terminal run +
  // optional closing quote, then whitespace or end of the kept text
  private def c4SentenceCount(kept: Column): Column =
    regexp_count(array_join(kept, "\n"), lit("[.!?][\"']?(\\s|$)"))

  /** The composite C4 page verdict as ONE column expression — the
    * [[graft.operators.TextAnalysis.gopherQualityPass]] twin for
    * [[cleanCorpus]]'s per-row fold. */
  def c4KeepDoc(t: Column, minLineWords: Int = 5, minSentences: Int = 3): Column =
    c4SentenceCount(c4KeptLines(t, minLineWords)) >= minSentences &&
      !lower(t).contains("lorem ipsum") && !t.contains("{")

  def c4Clean(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", minLineWords: Int = 5,
              minSentences: Int = 3): DataFrame = {
    val t = col(textCol)
    val kept = c4KeptLines(t, minLineWords)
    val nSentences = c4SentenceCount(kept)
    docs.select(col(idCol),
        size(split(t, "\n")).as("n_lines"),
        size(kept).as("n_kept"),
        nSentences.cast("int").as("n_sentences"),
        (nSentences >= minSentences &&
          !lower(t).contains("lorem ipsum") &&
          !t.contains("{")).as("keep_doc"),
        kept.as("_kept"))
      .withColumn("clean_text",
        when(col("keep_doc"), array_join(col("_kept"), "\n")).otherwise(lit("")))
      .drop("_kept")
  }

  /** Host-level repeated-line removal — the cross-PAGE boilerplate
    * class the per-page heuristics cannot see (CCNet, Wenzek et al.
    * 2020 §2 dedups paragraphs across shards for exactly this reason;
    * the per-page extractor drops nav by tag context and link density,
    * but a bare "Subscribe to our newsletter" line inside content
    * markup survives every per-page rule — what gives it away is
    * appearing on most of its HOST's pages):
    *
    *  - a line (trimmed) is BOILERPLATE on host H when it occurs in at
    *    least `minDocs` of H's documents AND in at LEAST
    *    `minDocFracMicro` (micro-units, default 0.5 — flag-when-at-
    *    least semantics: the higher the value, the fewer lines flag)
    *    of them;
    *  - hosts with fewer than `minDocs` documents keep everything (no
    *    statistical basis);
    *  - BLANK lines (empty after trim) are never boilerplate: they are
    *    paragraph separators, not content — flagging them would strip
    *    every paragraph boundary on any multi-doc host;
    *  - output per document: `n_lines`, `n_removed`, `clean_text`
    *    (kept lines re-joined in document order; empty lines inside
    *    the document count and reassemble like any other line, so the
    *    text round-trips byte-exactly when nothing is removed);
    *  - EVERY input document round-trips: a null-text page (a fetch
    *    that produced no extractable text) yields no line rows, so the
    *    result is re-anchored on the input keys — such docs come back
    *    with `n_lines = 0`, `n_removed = 0`, `clean_text = ''` instead
    *    of silently vanishing (a cleaning pass must never DROP a
    *    document; membership verdicts belong to the filter tier).
    *
    * Scale shape: explode to (host, line) → one partial-combined
    * distinct-doc count per key → join the flags back on the SAME
    * (host, line) partitioning (one exchange, reused) → regroup by
    * document → one doc-keyed left join re-anchoring on the input
    * (both sides hash-partitioned on the key, and trivially colocated
    * if the table is bucketed by id). The per-host doc counts join on
    * host with NO forced hint: hosts ≪ documents at fixture scale and
    * AQE broadcasts the small side on its own, but a real web corpus
    * has 10⁷–10⁸ registrable hosts — an unconditional broadcast of an
    * unbounded aggregate is exactly the hint that OOMs the driver at
    * the scale this operator is designed for (the ×100 ladder's flip
    * audit shows AQE making the right per-run choice). Nothing is
    * ever collected; the line table is corpus-sized but each key's
    * payload is a count. */
  def hostLineDedup(pages: DataFrame, minDocs: Int = 2,
                    minDocFracMicro: Long = 500000L,
                    hostCol: String = "host", idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(minDocFracMicro >= 1 && minDocFracMicro <= 1000000L,
      s"minDocFracMicro must be in [1, 1e6], got $minDocFracMicro")
    val lines = pages.select(col(hostCol).as("host"), col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("key", trim(col("line")))
    val hostDocs = pages.groupBy(col(hostCol).as("host"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    val boiler = lines.filter(col("key") =!= "")
      .groupBy(col("host"), col("key"))
      .agg(countDistinct(col("doc_id")).as("n_line_docs"))
      .join(hostDocs, Seq("host"))
      .filter(col("n_docs") >= minDocs &&
        col("n_line_docs") >= minDocs &&
        col("n_line_docs") * 1000000L >= lit(minDocFracMicro) * col("n_docs"))
      .select(col("host"), col("key"), lit(true).as("_boiler"))
    val cleaned = lines.join(boiler, Seq("host", "key"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_boiler"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(!coalesce(col("_boiler"), lit(false)),
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
    pages.select(col(idCol).as("doc_id"), col(hostCol).as("host"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("host"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** WITHIN-document consecutive-duplicate-line collapse — the ACTION
    * half of the repetition family ([[TextAnalysis.repetitionStats]] /
    * `gopherRepetitionPass` DETECT; Dolma-class pipelines also TRIM:
    * a page stuttering `Buy now!` fifty times keeps one line and stays
    * in the corpus instead of tripping the whole-doc repetition drop).
    * A line survives iff it differs from the PREVIOUS kept line under
    * the whitespace/case-invariant key (so `SPAM` / ` spam ` runs
    * collapse together); since equality is transitive under the key,
    * "differs from previous kept" = "differs from previous line" — one
    * lag per line, no iteration. Blank lines are paragraph separators
    * and never collapse. Output: `n_lines`, `n_collapsed`,
    * `clean_text`; null-text docs round-trip as empty rows.
    *
    * Scale shape: explode to lines → ONE doc-keyed window (lag) →
    * regroup by the same key (the exchange is reused) → re-anchor left
    * join. Zero corpus-global state — this is the per-document
    * complement of [[paragraphDedup]]'s corpus-wide rule. */
  def collapseRepeatedLines(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val lines = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("key",
        regexp_replace(lower(trim(col("line"))), "\\s+", " "))
    val agged = lines
      // coalesce: the first line's lag is null, and a null verdict
      // would silently drop it from the collect_list below
      .withColumn("_drop", coalesce(
        col("key") =!= "" && lag(col("key"), 1).over(w) === col("key"),
        lit(false)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_drop"), 1L).otherwise(0L)).as("n_collapsed"),
        array_join(transform(
          array_sort(collect_list(when(!col("_drop"),
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
    docs.select(col(idCol).as("doc_id"))
      .join(agged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_collapsed"), lit(0L)).as("n_collapsed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** CORPUS-WIDE paragraph dedup — CCNet's principal dedup pass
    * (Wenzek et al. 2020 §3.1 deduplicates at the PARAGRAPH level over
    * the whole shard set; [[hostLineDedup]] is the host-scoped LINE
    * sibling): every paragraph (split on blank lines, trimmed,
    * whitespace-collapsed for the key) keeps exactly its FIRST
    * occurrence corpus-wide — smallest (doc, position) — and every
    * later copy drops. Output per document: `n_paras`, `n_removed`,
    * `clean_text` (surviving paragraphs re-joined with blank lines in
    * document order; docs whose every paragraph drops come back with
    * empty text, and null-text docs round-trip as empty rows — the
    * [[hostLineDedup]] re-anchor contract).
    *
    * Scale shape — two rules, each forced by a measured failure mode
    * of the alternatives on the hostile 50%-hot-fp ladder (HotFpDrill,
    * SCALING.md):
    *
    *  1. '''The first-occurrence keeper is a PARTIAL-COMBINED hash
    *     aggregate''' (`groupBy(fp).agg(min(struct(doc, pos)))`),
    *     deliberately NOT a `row_number() OVER (PARTITION BY fp)`
    *     window: a corpus-wide boilerplate paragraph ("Share and
    *     subscribe", cookie banners) puts a copy in EVERY document,
    *     and a window shuffles all of them into one task and sorts
    *     there (AQE skew splitting does not apply to window
    *     partitions). The aggregate collapses the hot fingerprint to
    *     one row per mapper; the fp equi-join back IS
    *     AQE-skew-splittable.
    *  2. '''Paragraph STRINGS never ride the fp shuffle.''' The
    *     fingerprint tier runs on slim (doc, pos, fp) rows; the
    *     verdict regroups per document on narrow rows and meets the
    *     string side in a doc-keyed join of two aggregates that share
    *     one exchange. Joining the keeper back onto string-carrying
    *     rows instead puts the hot key's full text through one
    *     reducer — measured 3.6× WORSE than even the window form at
    *     ×1000 (257 s vs 71 s, max task 165 s) — while this shape's
    *     strings shuffle exactly once, on the uniform document key the
    *     regroup needs anyway.
    *
    * The per-doc reassembly zips the pos-sorted paragraph and verdict
    * arrays (equal length by construction — both aggregate the same
    * exploded rows). */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    // paras feeds both the slim fingerprint tier and the string-side
    // regroup — MATERIALIZED (the duplicatedSpans localCheckpoint
    // rationale): measured on the hostile ×100/×1000 rungs, the
    // unmaterialized twin re-runs the explode subtree per consumer and
    // its doubled branches degenerate under AQE (195 s at ×100 vs
    // 15 s checkpointed); at cluster scale this is the positions table
    // a curation run lands on shared storage anyway
    val paras = Mat.point(docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n\\s*\n")).as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= ""), "paradedup.paras")
    val slim = paras.select(col("doc_id"), col("pos"),
      TextAnalysis.fingerprint(col("para")).as("fp"))
    val keepers = slim.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("_keeper"))
    val verdict = slim.join(keepers, Seq("fp"))
      .select(col("doc_id"), col("pos"),
        (col("doc_id") === col("_keeper.doc_id") &&
          col("pos") === col("_keeper.pos")).as("_is_first"))
    val vAgg = verdict.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("_is_first")))).as("_fs"))
    val pAgg = paras.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("para")))).as("_ps"))
    val agged = pAgg.join(vAgg, Seq("doc_id"))
      .select(col("doc_id"),
        size(col("_ps")).cast("long").as("n_paras"),
        size(filter(col("_fs"), f => !f.getField("_is_first")))
          .cast("long").as("n_removed"),
        array_join(array_compact(zip_with(col("_ps"), col("_fs"),
          (p, f) => when(f.getField("_is_first"), p.getField("para")))), "\n\n")
          .as("clean_text"))
    docs.select(col(idCol).as("doc_id"))
      .join(agged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** @param lm optional pre-trained unigram LM
    *   ([[TextAnalysis.trainUnigramLm]] output, possibly loaded from a
    *   persisted artifact via [[TextAnalysis.loadLm]]). When given, the
    *   surprisal band scores against the FROZEN model instead of
    *   re-aggregating this corpus — the train-once shape an incremental
    *   100 TB pipeline runs, where each day's batch is scored against
    *   the model fitted on the reference corpus. Default (None) trains
    *   on `docs` itself, the self-contained batch semantics.
    * @param withGopherC4 fold the published web-filter families into
    *   the verdict (default ON): Gopher quality + repetition (Rae et
    *   al. 2021 app. A, [[TextAnalysis.gopherQualityPass]] /
    *   [[TextAnalysis.gopherRepetitionPass]]) and the C4 page rule
    *   (Raffel et al. 2020 §2.2, [[c4KeepDoc]]) contribute
    *   `gopher_quality` / `gopher_repetition` / `c4` reasons. All
    *   three are PER-ROW column expressions riding the same base-scan
    *   projection as language id — zero extra joins, zero shuffles.
    *   Turn OFF for corpora that are not web text (the filters encode
    *   web-page priors: stop-word presence, terminal punctuation —
    *   a curated books/code corpus configures its own families, which
    *   is exactly how production pipelines scope C4/Gopher to their
    *   Common Crawl sources).
    * @param pplBuckets optional per-document CCNet perplexity buckets
    *   ([[TextAnalysis.assignPerplexityBuckets]] output — `idCol`,
    *   `bucket`): when given, the verdict carries the bucket as a
    *   `ppl_bucket` column and the `tail` tercile contributes a
    *   `ppl_tail` reason — CCNet §4.3's split folded into the verdict
    *   (Wenzek et al. keep head/middle and treat tail as the
    *   discard/re-review stratum). The bucket artifact is fitted on a
    *   bounded sample and assigned per-row, so the fold adds one
    *   broadcast-sized left join — no corpus sort. */
  def cleanCorpus(docs: DataFrame, bench: DataFrame,
                  decontamN: Int = 4,
                  langWhitelist: Seq[String] = Seq("en", "pt"),
                  maxTopBigramRatio: Double = 0.08,
                  maxSurprisal: Double = 3.5,
                  idCol: String = "doc_id",
                  lm: Option[DataFrame] = None,
                  withGopherC4: Boolean = true,
                  pplBuckets: Option[DataFrame] = None,
                  surprisal: Option[DataFrame] = None): DataFrame = {
    val dd = Dedup.exactDups(docs, idCol).select(col(idCol), col("is_duplicate"))
    // language id — and the gopher/C4 composites when enabled — are
    // PER-ROW computations (marker-score CASE chain, regexp counters,
    // a bounded line fold): kept as projections of the base scan
    // rather than components joined back on the key: no extra
    // corpus-wide exchange. (The repetition signal stays RELATIONAL
    // and joined: a per-row sorted-array run-length tally was measured
    // 5× slower — the HOF aggregate falls out of whole-stage codegen
    // and pays a per-row string sort — while groupBy(id, bigram) is
    // partial-combined Tungsten hash aggregation.)
    val base = {
      val lid = TextAnalysis.languageId(docs)
      val extra = if (withGopherC4) Seq(
        TextAnalysis.gopherQualityPass(col("text")).as("_gq"),
        TextAnalysis.gopherRepetitionPass(col("text")).as("_gr"),
        c4KeepDoc(col("text")).as("_c4")) else Nil
      lid.select(col(idCol) +: col("pred_lang") +: extra: _*)
    }
    val rp = TextAnalysis.repetitionStats(docs, idCol)
      .select(col(idCol), col("top_bigram_ratio"))
    // `surprisal` = a pre-scored frame from the caller's chain (the
    // CCNet flagship scores the corpus once for thresholds, buckets
    // and this verdict — r21); default recomputes, self-contained
    val sp = surprisal.getOrElse(TextAnalysis.unigramSurprisalWith(docs,
        lm.getOrElse(TextAnalysis.trainUnigramLm(docs)), idCol))
      .select(col(idCol), col("avg_surprisal"))
    val dc = Decontaminate.report(docs, bench, decontamN, idCol)
      .select(col("doc_id").as(idCol), col("contaminated"))
    val pplReason = pplBuckets.toSeq.map(_ =>
      when(col("ppl_bucket") === "tail", "ppl_tail"))
    val baseReasons = Seq(
      when(col("is_duplicate"), "duplicate"),
      when(!col("pred_lang").isin(langWhitelist: _*), "lang"),
      when(col("top_bigram_ratio") > maxTopBigramRatio, "repetitive"),
      when(col("avg_surprisal") > maxSurprisal, "high_surprisal")) ++
      pplReason ++ Seq(
      when(col("contaminated"), "contaminated"))
    val webReasons = if (withGopherC4) Seq(
      when(!col("_gq"), "gopher_quality"),
      when(!col("_gr"), "gopher_repetition"),
      when(!col("_c4"), "c4")) else Nil
    val reasons = array_compact(array(baseReasons ++ webReasons: _*))
    // sp joins LEFT: a zero-token document has no surprisal row, but it
    // still needs its verdict (its 'lang' reason fires — empty text
    // scores 'und'); an inner join would silently drop it entirely
    val joined = base
      .join(dd, idCol).join(rp, idCol)
      .join(sp, Seq(idCol), "left").join(dc, idCol)
    val withPpl = pplBuckets.fold(joined)(pb => joined.join(
      pb.select(col(idCol), col("bucket").as("ppl_bucket")), Seq(idCol), "left"))
    val outCols = Seq(col(idCol),
      array_join(col("_r"), ",").as("reasons"),
      (size(col("_r")) === 0).as("keep")) ++
      pplBuckets.toSeq.map(_ => col("ppl_bucket"))
    withPpl
      .withColumn("_r", reasons)
      .select(outCols: _*)
  }
}
