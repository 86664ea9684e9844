package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import graft.functions.{FixMojibake, GopherCounts, Kernel, NormalizeText}

/** Text-analysis operators for the training-data-pipeline tier (builder
  * brief): language ID, quality scoring, token counting, fingerprinting.
  * All pure `functions._` compositions — codegen'd, shuffle-free
  * (per-row), so they stream through a 100 TB scan at full width.
  */
object TextAnalysis {

  /** Small public stopword/function-word lists per language, used as an
    * n-gram-free language-ID heuristic: score = number of list words
    * appearing as whitespace-delimited tokens. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "for", "was"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "es", "los", "del", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "pour", "que", "dans", "une"),
    "pt" -> Seq("o", "a", "e", "do", "da", "em", "um", "para", "com", "os"))

  private def padded(text: Column): Column =
    concat(lit(" "), lower(text), lit(" "))

  private def markerScore(text: Column, words: Seq[String]): Column =
    words.map(w => when(instr(padded(text), s" $w ") > 0, 1).otherwise(0))
      .reduce(_ + _)

  /** Language ID: argmax of marker-word hits; ties resolved by the fixed
    * language order of [[langMarkers]] (a deterministic CASE chain — the
    * same chain the DuckDB oracle evaluates). Docs with zero hits in every
    * list → "und" (undetermined). */
  def languageId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = langMarkers.foldLeft(docs) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang", markerScore(col(textCol), words))
    }
    val best = greatest(langMarkers.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = langMarkers.foldRight(lit("und"): Column) { case ((lang, _), els) =>
      when(col(s"score_$lang") === best && best > 0, lang).otherwise(els)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Quality scoring (length / punctuation / stopword ratios): the
    * heuristics a pretraining-data filter computes per document. */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = trim(col(textCol))
    val words = split(t, "\\s+")
    val stopLit = array(Chunking.stopwords.map(lit): _*)
    docs
      .withColumn("n_chars", length(t))
      .withColumn("n_words", size(words))
      .withColumn("avg_word_len",
        round((length(t) - (size(words) - 1)).cast("double") / size(words), 4))
      .withColumn("punct_ratio",
        round((length(t) - length(regexp_replace(t, "[.,;:!?]", ""))).cast("double")
          / greatest(length(t), lit(1)), 4))
      .withColumn("stopword_ratio",
        round(size(filter(split(lower(t), "\\s+"), w => array_contains(stopLit, w)))
          .cast("double") / greatest(size(words), lit(1)), 4))
  }

  /** Gopher-rule stop words (Rae et al. 2021, appendix A: a document
    * must contain at least two of these to pass the stop-word rule). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-filter rule set (Rae et al. 2021, "Scaling
    * Language Models", appendix A — the published thresholds used to
    * filter MassiveWeb): word count in [50, 100 000]; mean word length
    * in [3, 10]; symbol-to-word ratio (# and …) ≤ 0.1; ≤ 90 % of lines
    * start with a bullet; ≤ 30 % of lines end with an ellipsis; ≥ 80 %
    * of words contain an alphabetic character; ≥ 2 of the 8 Gopher
    * stop words present.
    *
    * All metrics are emitted in exact integer micro-units (the
    * fixed-point cross-engine rule: floor(x·10⁶) via integer division,
    * never a float), plus the composite `gopher_pass` verdict.
    *
    * Scale shape: pure per-row column expressions — counts come from
    * `regexp_count`/`length`/`size(split(...))`, all codegen'd, RE2-
    * compatible patterns so the DuckDB oracle evaluates the SAME
    * regexes; zero shuffle, zero UDF, zero HOF lambda in the per-token
    * path. */
  // Column `/` is double division — floor+cast gives the exact
  // integer micro quotient (operands < 2^53, so the double divide of
  // exactly-representable longs floors identically to DuckDB's `//`)
  private def microDiv(num: Column, den: Column) =
    floor(num * 1000000L / den).cast("long")

  /** `gopher_counts(text)` — the native one-pass counter kernel
    * ([[graft.functions.GopherCounts.counts]]) as a Column. */
  private def gopherCountsCol(t: Column): Column =
    Kernel.call(GopherCounts, "counts", ArrayType(LongType, containsNull = false), t)

  /** Unicode normalization ([[graft.functions.NormalizeText.normalize]]) — run
    * it BEFORE content fingerprinting/shingling so composed and
    * decomposed spellings of the same text share one dedup key. NFC is
    * the corpus default; NFKC is the aggressive fold (ligatures,
    * fullwidth forms) Gopher-style pipelines apply. ASCII rows return
    * the input buffer untouched. */
  def normalizeText(t: Column, form: String = "NFC"): Column = {
    require(NormalizeText.Forms.contains(form),
      s"normalize_text form must be one of ${NormalizeText.Forms.mkString("/")}, got $form")
    Kernel.call(NormalizeText, "normalize", StringType, t, form)
  }

  /** Mojibake repair ([[graft.functions.FixMojibake.fix]]) — the ftfy-class
    * pass for UTF-8-read-as-cp1252 corruption, run alongside NFC in
    * the normalization stage; strict-decode guarded, so legitimate
    * non-ASCII text is untouchable by construction. */
  def fixMojibake(t: Column): Column =
    Kernel.call(FixMojibake, "fix", StringType, t)

  /** The Gopher quality metrics as named expressions over one text
    * column — the single source both the DataFrame surface and the
    * composed-verdict column ([[gopherQualityPass]]) build from.
    * All seven counters come from ONE evaluation-shared
    * [[graft.functions.GopherCounts.counts]] scan (the column formulation's
    * nine regex passes measured 160 MB/s saturated on the
    * QualityDrill ladder — the kernel closes the gap to the
    * repetition pass's ~400); `n_stop` stays the codegen'd 8×instr
    * marker chain (already regex-free, and Unicode-lowering exactly
    * like the DuckDB oracle's `lower`). */
  private def gopherQualityCols(t: Column): Seq[(String, Column)] = {
    import GopherCounts._
    val gc = gopherCountsCol(t)
    def slot(i: Int): Column = element_at(gc, i + 1) // element_at is 1-based
    val words = slot(NWords)
    val lines = slot(NLines)
    Seq("n_words" -> words.cast("int"), "n_lines" -> lines.cast("int"),
      "mean_word_len_micro" -> microDiv(slot(NonWs), words),
      "symbol_ratio_micro" -> microDiv(slot(Symbols), words),
      "bullet_frac_micro" -> microDiv(slot(Bullets), lines),
      "ellipsis_frac_micro" -> microDiv(slot(EllipsisEnds), lines),
      "alpha_frac_micro" -> microDiv(slot(AlphaWords), words),
      "n_stop" -> markerScore(t, gopherStops))
  }

  private def gopherPassFrom(m: Map[String, Column]): Column =
    m("n_words").between(50, 100000) &&
      m("mean_word_len_micro").between(3000000L, 10000000L) &&
      m("symbol_ratio_micro") <= 100000L &&
      m("bullet_frac_micro") <= 900000L &&
      m("ellipsis_frac_micro") <= 300000L &&
      m("alpha_frac_micro") >= 800000L &&
      m("n_stop") >= 2

  /** Per-doc Gopher quality metrics + pass verdict (Rae et al. 2021).
    *
    * Line-terminator contract: the line-anchored counters (bullets,
    * ellipsis line-ends) treat `\n` as the ONLY terminator — RE2
    * `(?m)` semantics, matching the DuckDB oracle — not Java's
    * extended set (`\r`, `U+0085`, `U+2028`). Text from the repo's
    * extractors ([[Html]], [[Warc]] block surfaces) is already
    * `\n`-normalized; callers feeding RAW `\r\n`-bearing payloads
    * (e.g. HTTP bodies straight off [[UrlIngest.fetchBytes]]) should
    * normalize first (`regexp_replace(t, '\r\n?', '\n')`) or accept
    * the RE2 counts. The same contract rides [[gopherQualityPass]]
    * and therefore [[Cleaning.cleanCorpus]]'s default verdict. */
  def gopherQuality(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val cols = gopherQualityCols(col(textCol))
    val out = docs.select(col(idCol) +: cols.map { case (n, c) => c.as(n) }: _*)
    out.withColumn("gopher_pass",
      gopherPassFrom(cols.map { case (n, _) => n -> col(n) }.toMap))
  }

  /** The composite Gopher quality verdict as ONE column expression —
    * the shape [[Cleaning.cleanCorpus]] folds into its per-row base
    * projection (zero joins; the metrics never materialize). */
  def gopherQualityPass(t: Column): Column =
    gopherPassFrom(gopherQualityCols(t).toMap)

  /** The Gopher REPETITION rule set (Rae et al. 2021 appendix A,
    * completing [[gopherQuality]]): fraction of duplicate lines ≤ 0.30,
    * fraction of duplicate paragraphs ≤ 0.30, fraction of CHARACTERS
    * in duplicate lines ≤ 0.20, in duplicate paragraphs ≤ 0.20 — a
    * duplicate is any occurrence beyond a line/paragraph's first, so
    * dup count = n − n_distinct and dup chars = total − distinct chars.
    * Paragraphs split on blank lines (`\n\n`), lines on `\n` (the
    * empty strings a blank line produces count like any other line —
    * identical in both engines, so the compare is exact). Micro-unit
    * fixed point throughout; `repetition_pass` is the composite.
    *
    * Scale shape: per-row projection — distinct-counting rides
    * `array_distinct`/`array_join` built-ins over one document's own
    * line array (bounded per row), no lambda, no shuffle, no UDF. The
    * top-n-gram share half of Gopher's repetition table is the
    * existing [[repetitionStats]] aggregate. */
  private def gopherRepetitionCols(t: Column): Seq[(String, Column)] = {
    def fracs(units: Column, prefix: String): Seq[(String, Column)] = {
      val n = size(units)
      val nDup = n - size(array_distinct(units))
      val chars = length(array_join(units, ""))
      val dupChars = chars - length(array_join(array_distinct(units), ""))
      Seq(s"n_$prefix" -> n,
        s"dup_${prefix.stripSuffix("s")}_frac_micro" ->
          floor(nDup * 1000000L / greatest(n, lit(1))).cast("long"),
        s"dup_${prefix.stripSuffix("s")}_char_frac_micro" ->
          floor(dupChars * 1000000L / greatest(chars, lit(1))).cast("long"))
    }
    fracs(split(t, "\n"), "lines") ++ fracs(split(t, "\n\n"), "paras")
  }

  private def gopherRepetitionPassFrom(m: Map[String, Column]): Column =
    m("dup_line_frac_micro") <= 300000L &&
      m("dup_para_frac_micro") <= 300000L &&
      m("dup_line_char_frac_micro") <= 200000L &&
      m("dup_para_char_frac_micro") <= 200000L

  def gopherRepetition(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val cols = gopherRepetitionCols(col(textCol))
    docs.select(col(idCol) +: cols.map { case (nm, c) => c.as(nm) }: _*)
      .withColumn("repetition_pass",
        gopherRepetitionPassFrom(cols.map { case (n, _) => n -> col(n) }.toMap))
  }

  /** The composite Gopher repetition verdict as ONE column expression
    * (the [[gopherQualityPass]] twin for [[Cleaning.cleanCorpus]]). */
  def gopherRepetitionPass(t: Column): Column =
    gopherRepetitionPassFrom(gopherRepetitionCols(t).toMap)

  /** Per-language corpus DATA CARD — the datasheet summary a curator
    * reads before committing a mixture (Gebru et al.'s datasheets,
    * reduced to the columns this engine computes): document and word
    * volume, exact-duplicate rate, and mean punctuation/stopword
    * ratios per language stratum. Pure composition of [[qualityScore]]
    * and [[Dedup.exactDups]] — one quality pass, one fingerprint
    * shuffle, one per-language aggregate; means go through exact
    * 1e4-unit integer sums (the ratios are already rounded to 4) with
    * an unrounded final quotient. */
  def corpusDatacard(docs: DataFrame, langCol: String = "lang",
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val q = qualityScore(docs, textCol)
      .select(col(idCol), col(langCol), col("n_words"),
        col("punct_ratio"), col("stopword_ratio"))
    val dups = Dedup.exactDups(docs, idCol, textCol)
      .select(col(idCol), col("is_duplicate"))
    q.join(dups, idCol)
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("total_words"),
        sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("dup_docs"),
        (sum(round(col("punct_ratio") * 1e4, 0).cast("long")).cast("double") /
          (count(lit(1)) * 10000)).as("avg_punct_ratio"),
        (sum(round(col("stopword_ratio") * 1e4, 0).cast("long")).cast("double") /
          (count(lit(1)) * 10000)).as("avg_stopword_ratio"))
  }

  /** Unigram LM surprisal — the perplexity-style quality score a
    * training pipeline runs to rank documents against the corpus
    * language model (CCNet's KenLM filter, reduced to the unigram
    * case): per document, the mean of −ln p(token) under the corpus
    * unigram distribution. Gibberish and rare-token-heavy documents
    * score high; formulaic ones score low.
    *
    * Scale shape: one corpus-wide term-count aggregate, whose result
    * (the vocabulary — sublinear in corpus size, Heaps' law) is
    * BROADCAST back for the per-token lookup; the only other exchange
    * is the per-document mean. Per-token surprisal is rounded to 6
    * decimals then fixed-point micro-units before the per-document sum
    * (exact, order-free — the cross-engine determinism rule every
    * float aggregate here follows). */
  /** Canonical whitespace tokenization (lower, trim, drop empties) —
    * every DuckDB oracle replays this bit-exactly
    * (`regexp_split_to_array(lower(trim(text)), '\s+')` + `t <> ''`),
    * so callers share ONE definition rather than drifting copies. */
  private[operators] def wsTokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), w => w =!= "")

  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    unigramSurprisalWith(docs, trainUnigramLm(docs, textCol), idCol, textCol)

  /** Train the corpus unigram LM ONCE: `(term, cnt, total)` — the
    * corpus total denormalized into every row so the table is
    * self-describing (one parquet dir, no sidecar; the `Bpe.saveModel`
    * pattern). This is the expensive half of [[unigramSurprisal]] — the
    * full-corpus token aggregate — split out so a 100 TB deployment
    * trains once, persists via [[saveLm]], and scores every later batch
    * from the artifact instead of re-exploding the corpus per run
    * (CCNet ships its KenLM model the same way). Vocabulary-sized
    * output (sublinear in corpus size, Heaps' law). */
  def trainUnigramLm(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // counts feeds BOTH the broadcast total and the main side — left
    // unmaterialized, the corpus tokenize+explode+aggregate (the
    // expensive half of the whole train) ran TWICE per fit, once to
    // build the broadcast scalar and once for the join side (r21;
    // the vocabulary-sized frame is the cheap thing to pin)
    val counts = Mat.point(docs.select(wsTokens(col(textCol)).as("_w"))
      .select(explode(col("_w")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt")), "lm1.counts")
    counts.crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
  }

  /** Score documents against an ALREADY-TRAINED unigram LM (fresh from
    * [[trainUnigramLm]] or loaded from a persisted artifact): broadcast
    * model join + per-document fixed-point mean — the only corpus-scale
    * exchange is the final per-doc aggregate. Tokens absent from the
    * model are DROPPED (inner join), the right boundary for a frozen
    * model scoring new data: an unseen token has no corpus probability,
    * and inventing one (smoothing) would un-pin the train-time oracle.
    * A document with no in-model tokens therefore yields no row —
    * compose with a left join downstream (see [[Cleaning.cleanCorpus]]). */
  def unigramSurprisalWith(docs: DataFrame, model: DataFrame,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), wsTokens(col(textCol)).as("_words"))
      .select(col(idCol), explode(col("_words")).as("term"))
    val s6 = round(round(log(col("total").cast("double") / col("cnt")), 6) * 1e6, 0)
      .cast("long")
    toks
      .join(broadcast(model), "term")
      .withColumn("_s6", s6)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("_s6")).cast("double") / count(lit(1)) / 1e6, 4)
          .as("avg_surprisal"))
  }

  /** CCNet perplexity-bucket THRESHOLDS (Wenzek et al. 2020 §4.3: each
    * language's documents split into head/middle/tail by LM perplexity
    * percentiles): per language, the `nBuckets−1` boundary values —
    * boundary r = the surprisal at sorted rank ⌈r·n/k⌉ (exact, id
    * tiebreak). CCNet computes these on a SAMPLE and ships them as
    * constants; this is that fit stage — run it on a bounded sample,
    * persist the (languages × k−1)-row artifact, and let
    * [[assignPerplexityBuckets]] score any corpus per-row. The window
    * here sorts only the SAMPLE per language — never the corpus (the
    * production split a naive global ntile would destroy). */
  def perplexityThresholds(sample: DataFrame, lm: DataFrame, nBuckets: Int = 3,
                           idCol: String = "doc_id", langCol: String = "lang",
                           textCol: String = "text",
                           surprisal: Option[DataFrame] = None): DataFrame = {
    require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")
    // `surprisal` lets a chain that already scored the corpus (the
    // CCNet flagship scores once and feeds thresholds, assignment AND
    // the verdict — three scoring passes collapsed to one, r21) hand
    // the frame in; default recomputes, the self-contained semantics
    val sp = surprisal.getOrElse(unigramSurprisalWith(sample, lm, idCol, textCol))
      .select(col(idCol), col("avg_surprisal"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(col("avg_surprisal"), col(idCol))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col(langCol))
    sample.select(col(idCol), col(langCol)).join(sp, Seq(idCol))
      .withColumn("_rk", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wn))
      .withColumn("boundary_idx", explode(sequence(lit(1), lit(nBuckets - 1))))
      // exact integer ceil(r·n/k) — identical in both engines
      .filter(col("_rk") ===
        floor((col("boundary_idx") * col("_n") + nBuckets - 1) / nBuckets)
          .cast("long"))
      .select(col(langCol).as("lang"), col("boundary_idx"),
        col("avg_surprisal").as("boundary"))
  }

  /** The ASSIGNMENT half: score any corpus against the frozen
    * [[perplexityThresholds]] artifact — per-row surprisal + a
    * broadcast threshold join + a ≤(k−1)-element comparison fold; zero
    * corpus sorts, the shape a 100 TB split runs. `bucket_idx` = 1 +
    * boundaries strictly below the doc's surprisal (ties stay low);
    * token-less docs (no surprisal) land in the tail — the most
    * suspicious bucket, never silently dropped. */
  def assignPerplexityBuckets(docs: DataFrame, lm: DataFrame,
                              thresholds: DataFrame, nBuckets: Int = 3,
                              idCol: String = "doc_id", langCol: String = "lang",
                              textCol: String = "text",
                              surprisal: Option[DataFrame] = None): DataFrame = {
    val sp = surprisal.getOrElse(unigramSurprisalWith(docs, lm, idCol, textCol))
      .select(col(idCol), col("avg_surprisal"))
    val bounds = thresholds.groupBy(col("lang"))
      .agg(sort_array(collect_list(struct(col("boundary_idx"), col("boundary"))))
        .as("_bs"))
    docs.select(col(idCol), col(langCol).as("lang"))
      .join(sp, Seq(idCol), "left")
      .join(broadcast(bounds), Seq("lang"), "left")
      .withColumn("bucket_idx",
        // token-less docs AND languages absent from the threshold
        // artifact both land in the tail — flagged, never dropped
        when(col("avg_surprisal").isNull || col("_bs").isNull, lit(nBuckets))
          .otherwise(lit(1) + size(filter(col("_bs"),
            b => col("avg_surprisal") > b.getField("boundary")))))
      .select(col(idCol), col("lang"), col("avg_surprisal"),
        col("bucket_idx"),
        when(col("bucket_idx") === 1, "head")
          .when(col("bucket_idx") === nBuckets, "tail")
          .otherwise("middle").as("bucket"))
  }

  /** Persist a trained LM table (unigram or bigram — both are plain
    * self-describing frames) as the scoring artifact. */
  def saveLm(model: DataFrame, dir: String): Unit =
    model.write.mode("overwrite").parquet(dir)

  /** Load a persisted LM artifact, checking it carries the columns the
    * matching scorer reads — a wrong-directory mistake fails here with
    * the column list, not deep inside a resolution error. */
  def loadLm(spark: org.apache.spark.sql.SparkSession, dir: String,
             required: Seq[String]): DataFrame = {
    val df = spark.read.parquet(dir)
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"LM artifact at $dir lacks column(s) ${missing.mkString(", ")} — " +
        s"found ${df.columns.mkString(", ")}")
    df
  }

  /** Bigram-LM surprisal — the next rung from [[unigramSurprisal]]
    * toward CCNet's KenLM corpus-fit filter: per document, the mean
    * −ln p(w2|w1) under the corpus bigram model with add-one smoothing,
    * `p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)` where `c(w1·)` counts w1 in
    * CONTEXT position and V is the unigram vocabulary. Documents whose
    * word TRANSITIONS are unusual for the corpus score high even when
    * every individual word is common — the signal unigrams can't see.
    *
    * Scale shape: bigrams are generated per row (`zip_with` over the
    * words array and its shift — zero shuffle); the corpus bigram count
    * is one map-combined aggregate; context counts derive from the
    * COUNT TABLE (a re-aggregate of vocab²-bounded rows, not a second
    * corpus scan); V and the context table are unigram-sized →
    * broadcast. The one data-scale exchange is the doc-bigram ⨝ count
    * equi-join on the bigram key (Zipf-skew watch shared with every
    * term-keyed join here; AQE splits hot keys). Fixed-point micro-unit
    * sums keep the mean engine-exact. */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    bigramSurprisalWith(docs, trainBigramLm(docs, textCol), idCol, textCol)

  /** Per-document bigram stream: `(id, bigram)` via `zip_with` over the
    * words array and its shift — zero shuffle, shared by train and
    * score so the two tokenizations can never drift. */
  private def docBigrams(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val words = docs.select(col(idCol), wsTokens(col(textCol)).as("_words"))
    words.filter(size(col("_words")) >= 2)
      .select(col(idCol), explode(Dedup.ngrams(col("_words"), 2)).as("bigram"))
  }

  /** Train the corpus bigram LM ONCE: `(bigram, c12, cctx, v)` — the
    * context count and vocabulary size denormalized into every row
    * (cctx repeats per shared w1, v everywhere; both RLE-compress to
    * nothing in parquet), so scoring needs ONE equi-join instead of
    * re-running the corpus-wide gram aggregate. This is the artifact
    * answer to the ×1000 single-node wall SCALING.md measured for
    * `lm_bigram`: the ~corpus-sized gram explosion happens at train
    * time only; each scoring batch pays batch-sized work. Context
    * counts derive from the count table itself (vocab²-bounded
    * re-aggregate, not a second corpus scan). */
  def trainBigramLm(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = docs.select(wsTokens(col(textCol)).as("_words"))
    val vocab = words.select(explode(col("_words")).as("term"))
      .agg(count_distinct(col("term")).as("v"))
    val bcounts = words.filter(size(col("_words")) >= 2)
      .select(explode(Dedup.ngrams(col("_words"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    // cctx = sum(c12) over the bigrams sharing w1, computed as a WINDOW
    // over the count table instead of a re-aggregate joined back (r22):
    // the dual consumption disappears, so the corpus bigram
    // explode+aggregate runs ONCE with no materialization seam, no
    // broadcast-future race and no checkpoint overhead (the r21 pin
    // measured +0.28/+0.40 s vs no-pin at min-of-reps; the window form
    // removes the reason the pin existed). Partitions are per-w1 —
    // vocabulary-bounded, never corpus-sized — so the shape holds at
    // 100 TB where a single-partition global window would not.
    val wCtx = org.apache.spark.sql.expressions.Window
      .partitionBy(substring_index(col("bigram"), " ", 1))
    bcounts
      .withColumn("cctx", sum(col("c12")).over(wCtx))
      .crossJoin(broadcast(vocab))
  }

  /** Score documents against an already-trained bigram LM (fresh from
    * [[trainBigramLm]] or loaded via [[loadLm]]): add-one-smoothed
    * `−ln p(w2|w1)` read straight off the model row. One data-scale
    * exchange — the doc-bigram ⨝ model equi-join on the bigram key
    * (NOT broadcast: the bigram inventory grows with the corpus;
    * Catalyst/AQE picks the join flavor from the artifact's real size).
    * Unseen bigrams drop (inner join) — same frozen-model boundary as
    * [[unigramSurprisalWith]]. */
  def bigramSurprisalWith(docs: DataFrame, model: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val s6 = round(round(log((col("cctx") + col("v")).cast("double") /
      (col("c12") + lit(1)).cast("double")), 6) * 1e6, 0).cast("long")
    docBigrams(docs, idCol, textCol)
      .join(model, "bigram")
      .withColumn("_s6", s6)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("_s6")).cast("double") / count(lit(1)) / 1e6, 4)
          .as("avg_surprisal"))
  }

  /** Heavy-hitter counting through the [[graft.functions.CountMinAgg]]
    * count-min sketch (SURVEY §2.11's custom-Aggregator tier): ONE pass
    * over the token stream builds a fixed depth×width sketch (partials
    * merge element-wise like any sum — no per-key state), then the
    * probe terms read their estimates out of the finished sketch with
    * pure array lookups (bucket indices precomputed on the driver, the
    * probe list is literal metadata). `exact` is joined alongside for
    * the oracle's est ≥ exact validation — a real pipeline skips that
    * full-vocabulary aggregate; avoiding it is the sketch's point. */
  def cmsTermCounts(docs: DataFrame, probes: Seq[String],
                    depth: Int = 4, width: Int = 256,
                    textCol: String = "text"): DataFrame = {
    import docs.sparkSession.implicits._
    val cmsU = udaf(new graft.functions.CountMinAgg(depth, width))
    val toks = docs.select(wsTokens(col(textCol)).as("_w"))
      .select(explode(col("_w")).as("term"))
    val sketch = toks.agg(cmsU(col("term")).as("sketch"))
    val probeDF = probes.map { t =>
      (t, (0 until depth).map(i =>
        i * width + graft.functions.CountMinAgg.bucket(i, t, width) + 1))
    }.toDF("term", "idxs")
    // exact counts only for the PROBE terms: the un-filtered form would
    // aggregate + broadcast the whole vocabulary just to read 5 keys
    val exact = toks.filter(col("term").isin(probes: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    probeDF.crossJoin(broadcast(sketch))
      .withColumn("est", array_min(transform(col("idxs"), i => element_at(col("sketch"), i))))
      .join(broadcast(exact), Seq("term"), "left")
      .select(col("term"), col("est"), coalesce(col("n"), lit(0L)).as("exact"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation). */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = lower(trim(col(textCol)))
    docs
      .withColumn("ws_tokens", size(split(t, "\\s+")))
      .withColumn("bpe_ish_tokens", regexp_count(t, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")))
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercase text —
    * the engine's analogue of the reference's sha-256 content hash
    * (`ingestion_service.py:92-94`) but invariant to whitespace/case. */
  /** PII redaction — the scrub step every training-data pipeline runs
    * before anything else sees the text: URLs, emails, and
    * NNN-NNN-NNNN-style phone numbers replaced with typed placeholders.
    * The `n_*` columns are per-kind DETECTION counts over the RAW text,
    * not replacement counts: replacement is layered (URL first, so an
    * email inside an already-redacted URL is not separately replaced)
    * while each count matches its pattern independently — an email
    * inside a URL counts once in `n_emails` yet surfaces as part of the
    * `[URL]` placeholder. Detection-on-raw is the right audit signal
    * (what PII was PRESENT), and keeping counts independent of the
    * replacement order makes them stable if the layering ever changes.
    * Pure per-row `regexp_replace`/`regexp_count` chain (RE2-safe
    * patterns, identical semantics in any engine) — codegen'd,
    * shuffle-free, streams at scan width. */
  val urlPattern = "https?://[^\\s]+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"

  def redactPii(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      regexp_count(col(textCol), lit(urlPattern)).as("n_urls"),
      regexp_count(col(textCol), lit(emailPattern)).as("n_emails"),
      regexp_count(col(textCol), lit(phonePattern)).as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), urlPattern, "[URL]"),
          emailPattern, "[EMAIL]"),
        phonePattern, "[PHONE]").as("redacted"))

  /** Repetition statistics — the Gopher-style quality signals for
    * boilerplate/spam detection: fraction of non-blank lines that are
    * duplicates (per-row array ops, no shuffle) and the most-frequent
    * word-bigram's share of all bigrams (one (doc, bigram) aggregate +
    * one per-doc max — relational, partial-combined). High values on
    * either mark low-quality documents a training pipeline drops. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val lines = filter(transform(split(col(textCol), "\n"), l => trim(l)),
      l => l =!= "")
    val lineStats = docs.select(
      col(idCol),
      size(lines).as("n_lines"),
      size(array_distinct(lines)).as("n_distinct_lines"))
      .withColumn("dup_line_ratio",
        when(col("n_lines") > 0,
          round(lit(1.0) - col("n_distinct_lines").cast("double") / col("n_lines"), 4))
          .otherwise(0.0))
    val words = docs
      .withColumn("_words", split(lower(trim(col(textCol))), "\\s+"))
    // bigrams via the native ngram_join kernel (r22; see
    // graft.functions.NgramJoin.ngrams) — explode drops the short-document
    // empty array exactly like the old null-valued when(). MatDrill
    // interleaved min: repetition_stats 1.01 vs 1.25 s.
    val bigrams = words.select(col(idCol),
      explode(Dedup.ngrams(col("_words"), 2)).as("bigram"))
    val bigramStats = bigrams
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("tf"))
      .groupBy(col(idCol))
      .agg(max(col("tf")).as("top_bigram_tf"), sum(col("tf")).as("n_bigrams"))
      .withColumn("top_bigram_ratio",
        round(col("top_bigram_tf").cast("double") / col("n_bigrams"), 4))
    lineStats.join(bigramStats, Seq(idCol), "left")
  }

  /** Shared (id, term, tf) term-frequency table for the lexical operators
    * (BM25 and TF-IDF keywords): whitespace tokenize after lower (and
    * optionally trim), drop empty tokens (and optionally stopwords), one
    * hash aggregate. Each caller's DuckDB oracle mirrors its exact
    * configuration — a tokenization change here must update those SQL
    * strings in lockstep. */
  def termTf(docs: DataFrame, idCol: String, textCol: String,
             trimFirst: Boolean, dropStopwords: Boolean): DataFrame = {
    val base = if (trimFirst) lower(trim(col(textCol))) else lower(col(textCol))
    val toks0 = docs.select(col(idCol), explode(split(base, "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val toks = if (dropStopwords)
      toks0.filter(!col("term").isin(Chunking.stopwords: _*)) else toks0
    toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
  }

  /** Top TF-IDF terms per document — the "document keywords" extractor of
    * a training-data pipeline. ONE tokenize+aggregate pass builds tf;
    * df is a `groupBy(term)` count joined back on term — the round-20
    * dedup-tier rule applied here too: every (doc, term) row is
    * distinct after the tf aggregate, so the count IS the document
    * frequency, and the PARTIAL-COMBINED aggregate collapses a hot
    * vocabulary term to one row per mapper where the earlier
    * `count(*) over (partition by term)` window shuffled one row per
    * DOCUMENT carrying that term into a single task (stopwords are
    * dropped, but "data"/"page"-class common words still reach
    * O(corpus) multiplicity — and AQE's skew splitting does NOT apply
    * to window partitions, only to the join this form uses). idf =
    * ln(N/df) rounded to 6 (the one libm step), weight = tf·idf in
    * fixed-point micro-units (exact, order-free), then a per-document
    * rank-limit (WindowGroupLimit keeps O(k) rows/task).
    *
    * Shuffle ledger: (id,term) hash-agg → df aggregate + term
    * equi-join (both on the already-aggregated tf table, ≤ one row per
    * distinct (doc,term)) → id rank window. Measured (r7, sf0.1
    * local[32], warm): this join variant runs 0.90–1.03× of the window
    * form — cost-neutral locally, skew-safe at scale. */
  def topTfidfTerms(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    // tf feeds BOTH the df aggregate and the scoring join —
    // unmaterialized, the corpus tokenize+explode+aggregate ran twice
    // (r21; the invertedIndex `dt` discipline applied here)
    val tf = Mat.point(
      termTf(docs, idCol, textCol, trimFirst = true, dropStopwords = true),
      "tfidf.tf")
    val corpus = docs.agg(count_distinct(col(idCol)).as("n_docs"))
    val dfCounts = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("w6").desc, col("term"))
    tf.join(dfCounts, "term")
      .crossJoin(broadcast(corpus))
      .withColumn("idf", round(log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("w6", (col("tf") * round(col("idf") * 1e6, 0).cast("long")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("w6") / 1e6, 4).as("tfidf"), col("rank"))
  }

  /** Per-document Shannon entropy of the token distribution — the
    * information-density quality signal (near-zero entropy = degenerate
    * repetition, the tail a corpus filter drops). H = (Σ tf·ln(n/tf))/n
    * over the per-doc term frequencies; the per-term ln is rounded to 6
    * decimals and scaled to integer micro-units BEFORE the weighted sum
    * (the [[unigramSurprisal]] fixed-point pattern), so the aggregate is
    * order-free and engine-exact. One tokenize pass; the token count `n`
    * rides as a window sum over the tf table — same single-pass shape as
    * [[topTfidfTerms]]. */
  def tokenEntropy(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val tf = termTf(docs, idCol, textCol, trimFirst = true, dropStopwords = false)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    tf.withColumn("n", sum(col("tf")).over(w))
      .withColumn("_s6", col("tf") *
        round(round(log(col("n").cast("double") / col("tf")), 6) * 1e6, 0).cast("long"))
      .groupBy(col(idCol))
      .agg(max(col("n")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        round(sum(col("_s6")).cast("double") / max(col("n")) / 1e6, 4).as("entropy"))
  }

  /** Inverted-index materialization — the posting-list build behind any
    * lexical search engine (what Lucene's IndexWriter or the reference's
    * Pinecone-side keyword fallback would precompute): one row per
    * retained term with its document frequency and the SORTED posting
    * list, JSON-encoded for a hash-stable compare. `minDf`/`maxDf`
    * bound the output: hapaxes are noise, stop-like terms have
    * posting lists as long as the corpus (the classic skew key — at
    * scale those lists are the rows that blow a task, exactly why
    * production indexes store them as skip-list blocks). One tokenize
    * pass; shuffles are the (doc,term) dedup and the term aggregate. */
  def invertedIndex(docs: DataFrame, minDf: Int = 2, maxDf: Int = 100,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // df bounds are enforced BEFORE any posting list materializes: a
    // count-only aggregate picks the retained vocabulary, and only then
    // does collect_list run, joined against that (bounded, broadcast)
    // term set — a corpus-wide stop-like term never accumulates its
    // full list in an aggregation buffer just to be discarded. dt feeds
    // both the df aggregate and the join → checkpoint once.
    val dt = Mat.point(
      termTf(docs, idCol, textCol, trimFirst = true, dropStopwords = true),
      "inv.dt")
    val kept = broadcast(dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, maxDf)))
    dt.join(kept, "term")
      .groupBy(col("term"))
      .agg(first(col("df")).as("df"),
        to_json(sort_array(collect_list(col(idCol)))).as("postings"))
  }

  /** Pointwise mutual information over within-document co-occurrence —
    * the standard collocation/phrase-mining signal. The pair space is
    * bounded to the `vocabSize` highest-df terms (ties by term) BEFORE
    * pairing: unrestricted co-occurrence is quadratic in document
    * vocabulary, restricted it is ≤ C(vocabSize, 2) rows total —
    * the difference between a collocation job that runs at 100 TB and
    * one that doesn't. Presence counts (distinct per doc), pairs from a
    * doc-keyed self-join of the vocab-pruned presence table,
    * pmi = ln(N·c_ab / (c_a·c_b)) with the ln rounded to 6 (the
    * cross-engine libm pin). */
  def pmiCooccurrence(docs: DataFrame, vocabSize: Int = 50, minPairs: Int = 2,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // present feeds the vocab aggregate AND the pruning join (which in
    // turn feeds both sides of the pair self-join) — checkpoint at the
    // source so the corpus is tokenized exactly once; everything
    // downstream is a broadcast probe over the materialized frame.
    val present = Mat.point(
      termTf(docs, idCol, textCol, trimFirst = true, dropStopwords = true)
        .select(col(idCol).as("id"), col("term")), "pmi.present")
    val vocab = broadcast(present.groupBy(col("term"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(vocabSize))
    val pv = present.join(vocab, "term")
    val nDocs = docs.agg(count_distinct(col(idCol)).as("n_docs"))
    val pairs = pv.as("a").join(pv.as("b"),
        col("a.id") === col("b.id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("c_ab"), first(col("a.c")).as("c_a"), first(col("b.c")).as("c_b"))
      .filter(col("c_ab") >= minPairs)
    pairs.crossJoin(broadcast(nDocs))
      .withColumn("pmi", round(log(
        col("n_docs").cast("double") * col("c_ab") / (col("c_a") * col("c_b"))), 6))
      .select(col("term_a"), col("term_b"), col("c_ab"), col("c_a"), col("c_b"), col("pmi"))
  }

  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling polynomial (Rabin-Karp-style) fingerprint over the token
    * stream: h = fold(h·B + hash(tok) mod p). Order-sensitive — unlike
    * [[fingerprint]], transposed tokens change it — and incremental: the
    * hash of a concatenation is computable from the parts (h(ab) =
    * h(a)·B^|b| + h(b)), which is what makes it the standard primitive
    * for content-defined chunking and shingle windows. Codegen'd
    * higher-order fold; the zero seed makes the Spark `aggregate` and
    * DuckDB `list_reduce` (no-seed) formulations identical. */
  def rollingFingerprint(text: Column, base: Long = 1000003L,
                         p: Long = 1000000007L): Column = {
    val hashes = transform(split(lower(trim(text)), "\\s+"),
      t => pmod(Dedup.md5Hash60(t), lit(p)))
    aggregate(hashes, lit(0L), (h, x) => pmod(h * base + x, lit(p)))
  }
}
