package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.operators._

/** Shared plumbing for the per-tier query registries that compose
  * [[SparkEntry]]: the per-JVM demo/table/model locations, the
  * train-once memoization caches, and the DuckDB oracle SQL fragments
  * reused across tiers. Mechanically extracted from the former
  * monolithic SparkEntry (round 16); zero behavior change — the
  * composed `queries`/`oracleSql` maps are key-identical. */
private[graft] trait EntryShared {
  // ---------------------------------------------------------------------
  // shared SQL fragments for the DuckDB oracles
  protected val stopSql = Chunking.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  protected def esc(s: String) = s.replace("'", "''")
  protected val questionValuesSql = Retrieval.goldenQuestions.zipWithIndex
    .map { case (q, i) => s"($i, '${esc(q)}')" }.mkString(", ")
  protected val langScoreSql = TextAnalysis.langMarkers.map { case (lang, words) =>
    words.map(w => s"(CASE WHEN position(' $w ' IN pad) > 0 THEN 1 ELSE 0 END)")
      .mkString("(", " + ", s") AS score_$lang")
  }.mkString(", ")
  protected val langPredSql = {
    val best = TextAnalysis.langMarkers.map { case (l, _) => s"score_$l" }
      .mkString("greatest(", ", ", ")")
    val chain = TextAnalysis.langMarkers.map { case (l, _) =>
      s"WHEN score_$l = $best AND $best > 0 THEN '$l'"
    }.mkString(" ")
    s"CASE $chain ELSE 'und' END"
  }

  protected def questionsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Retrieval.goldenQuestions.zipWithIndex
      .map { case (q, i) => (i, q) }.toDF("question_id", "question")
  }


  /** A per-JVM-unique, deleted-on-exit demo location: each stateful
    * query gets its OWN dir (queries may interleave under the bench and
    * each rebuilds destructively; a fixed world-shared /tmp path would
    * race concurrent processes), and the shutdown hook keeps repeated
    * harness runs from accumulating table copies under the system
    * tmpdir. `leaf` appends a path segment for callers whose writer
    * wants a not-yet-existing target. */
  protected def tmpQueryDir(prefix: String, leaf: String = ""): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit))
    if (leaf.isEmpty) p.toString else p.toString + "/" + leaf
  }

  /** The ivf_persisted demo index location — see that query's comment. */
  protected lazy val ivfDemoDir: String = tmpQueryDir("graft-ivf-q")

  /** Empties a per-JVM query dir, so that every invocation (bench's
    * min-of-two, verify) replays its stream lifecycle from scratch. */
  protected def wiped(dir: String): String = {
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(dir))
    dir
  }

  /** The ivf_stream_e2e index location. */
  protected lazy val ivfStreamDir: String = tmpQueryDir("graft-ivf-se")

  /** The crawl_stream_e2e work dir: the corpus table and its segments. */
  protected lazy val crawlStreamDir: String = tmpQueryDir("graft-crawl-se")

  /** The dedup_stream_e2e work dir: the ledger and the verdicts. */
  protected lazy val ledgerStreamDir: String = tmpQueryDir("graft-ledger-se")

  /** The neardup_stream_e2e work dir: the ledger and the pairs. */
  protected lazy val nearDupStreamDir: String = tmpQueryDir("graft-neardup-se")

  /** The staged URL-ingest fixture dir — per-JVM unique (a fixed
    * world-shared /tmp path raced concurrent processes and collided
    * across users, the exact mode the ivf_persisted comment documents)
    * but NOT delete-on-exit, unlike [[ivfDemoDir]]: the driver's DuckDB
    * replay `read_blob`s these files AFTER the Verify JVM exits, so they
    * must outlive it (few KB of text fixtures). The oracle SQL
    * interpolates this value, so engine and replay always read the same
    * files. Staging happens here so the dir is populated even if the
    * oracle is dumped without the ingest queries having run. */
  protected lazy val urlStageDir: String = UrlIngest.stageQueryFixtures()

  /** The index_init demo table location. */
  protected lazy val indexInitDir: String = tmpQueryDir("graft-init-q", "table")

  /** The stats_prune demo table location. */
  protected lazy val statsPruneDir: String = tmpQueryDir("graft-stats-q", "table")

  /** The prune_tumbling demo table location. */
  protected lazy val pruneTumblingDir: String = tmpQueryDir("graft-ptumb-q", "table")

  /** The prune_by_type demo table location. */
  protected lazy val pruneTypeDir: String = tmpQueryDir("graft-ptype-q", "table")

  /** The bpe_artifact persisted-model location. */
  protected lazy val bpeModelDir: String = tmpQueryDir("graft-bpem-q", "model")

  /** The unigram_artifact persisted-model location. */
  protected lazy val unigramModelDir: String = tmpQueryDir("graft-ugm-q", "model")

  /** The lm_unigram_artifact persisted-model location. */
  protected lazy val lmUnigramModelDir: String = tmpQueryDir("graft-lmu-q", "model")

  /** The lm_bigram_artifact persisted-model location. */
  protected lazy val lmBigramModelDir: String = tmpQueryDir("graft-lmb-q", "model")

  /** The wordpiece_artifact persisted-model location. */
  protected lazy val wordpieceModelDir: String = tmpQueryDir("graft-wpm-q", "model")

  /** The nb_artifact persisted-model location. */
  protected lazy val nbModelDir: String = tmpQueryDir("graft-nbm-q", "model")

  /** The dsir_artifact persisted-model location. */
  protected lazy val dsirModelDir: String = tmpQueryDir("graft-dsm-q", "model")

  /** One fitted DSIR model per data dir, fit ONCE and persisted (the
    * dsir_artifact shape): dsir_weights / dsir_sample / dsir_score_map
    * all score under the same model, and re-fitting per query paid ≥2
    * extra full-corpus explode+aggregate passes each (r13 verdict: 4
    * DSIR queries = 53 s of a 138 s bench). ConcurrentHashMap because
    * bench/verify may interleave queries; keyed by data dir so a
    * different SF never reuses a stale model. */
  /** One learned 6-merge model per (data dir, trainer) — the
    * [[dsirFitted]] pattern applied to the subword trainers: five BPE
    * queries and three WordPiece queries each re-ran the SAME
    * 6-round training (7 jobs + 6 driver collects per run, ×2 bench
    * reps). The non-artifact queries now train once per dir and
    * REPLAY the merge history over a fresh raw vocab (the exact
    * inference path the `*_artifact` queries pin against the shared
    * oracles, so results are identical by construction); the artifact
    * queries keep their own full train → persist → load lifecycle.
    * Only the driver-side merge Seq is cached — session-independent,
    * bounded by numMerges — never a DataFrame. */
  protected val bpeMergeFits =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Bpe.Merge]]()
  protected def bpeMerges6(s: SparkSession, d: String): Seq[Bpe.Merge] =
    bpeMergeFits.computeIfAbsent(d,
      _ => Bpe.learnMerges(Tables.documents(s, d), numMerges = 6)._1)
  protected val wpMergeFits =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Bpe.Merge]]()
  protected def wpMerges6(s: SparkSession, d: String): Seq[Bpe.Merge] =
    wpMergeFits.computeIfAbsent(d,
      _ => Wordpiece.learnMerges(Tables.documents(s, d), numMerges = 6)._1)

  /** One fitted unigram seed model per data dir (same pattern): the
    * SeedModel is a driver-side map bounded by keepTop, but fitting it
    * pays the corpus-vocab substring-explosion aggregate — which five
    * queries re-ran. The artifact query keeps its own full
    * fit -> persist -> load lifecycle. */
  protected val ugSeedFits = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.Unigram.SeedModel]()
  protected def ugSeedFitted(s: SparkSession, d: String): graft.operators.Unigram.SeedModel =
    ugSeedFits.computeIfAbsent(d, _ => graft.operators.Unigram.fitSeed(
      Bpe.wordVocab(Tables.documents(s, d)).select("word", "freq")))

  /** One trained NB count table per data dir, persisted and re-LOADED
    * per use (it is corpus-vocabulary-sized — unlike the merge lists it
    * must never live on the driver): nb_train and nb_score re-ran the
    * training aggregate; nb_artifact keeps its own full lifecycle. The
    * parquet roundtrip is exact (integer counts), which nb_artifact's
    * shared oracle with nb_score already pins. */
  protected val nbFitDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  protected def nbFitted(s: SparkSession, d: String): DataFrame =
    Classify.loadNb(s, nbFitDirs.computeIfAbsent(d, _ => {
      val out = tmpQueryDir("graft-nbf-q", "model")
      Classify.saveNb(Classify.nbTrain(Tables.documents(s, d)), out)
      out
    }))

  protected val dsirFitDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  protected def dsirFitted(s: SparkSession, d: String): DataFrame =
    Dsir.loadDsir(s, dsirFitDirs.computeIfAbsent(d, _ => {
      val out = tmpQueryDir("graft-dsf-q", "model")
      Dsir.saveDsir(
        Dsir.fitBuckets(Tables.documents(s, d),
          coalesce(col("lang"), lit("")) === "en"),
        out)
      out
    }))

  // CMS geometry shared by the query and its oracle — one definition, no
  // silent drift between the Spark sketch and the SQL cell replay
  protected val cmsProbeTerms = Seq("the", "table", "query", "spark", "zzz_absent")
  protected val cmsDepth = 4
  protected val cmsWidth = 256

  // shared component oracle SQL (also composed into clean_corpus)
  protected val dedupExactSql =
    """SELECT f.doc_id, f.fp, f.doc_id <> k.keeper AS is_duplicate,
        |  CASE WHEN f.doc_id <> k.keeper
        |       THEN CAST(k.keeper AS BIGINT) END AS dup_of
        |FROM (SELECT doc_id,
        |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |      FROM documents) f
        |JOIN (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |        min(doc_id) AS keeper
        |      FROM documents GROUP BY 1) k USING (fp)""".stripMargin

  protected val langIdSql =
    s"""SELECT doc_id, $langPredSql AS pred_lang,
         | score_en, score_de, score_es, score_fr, score_pt
         |FROM (SELECT doc_id, $langScoreSql
         |      FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents))""".stripMargin

  protected val repetitionStatsSql =
    """WITH ls AS (
        | SELECT doc_id, len(l) AS n_lines, len(list_distinct(l)) AS n_distinct_lines
        | FROM (SELECT doc_id,
        |   list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |     x -> x <> '') AS l
        |  FROM documents)),
        |lp AS (SELECT doc_id, n_lines, n_distinct_lines,
        |  CASE WHEN n_lines > 0
        |   THEN round(1.0 - CAST(n_distinct_lines AS DOUBLE) / n_lines, 4)
        |   ELSE 0.0 END AS dup_line_ratio FROM ls),
        |bg AS (
        | SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
        | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |       FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
        | WHERE len(w) >= 2),
        |bs AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY doc_id, bigram),
        |bstat AS (SELECT doc_id, max(tf) AS top_bigram_tf,
        |  CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  round(CAST(max(tf) AS DOUBLE) / sum(tf), 4) AS top_bigram_ratio
        | FROM bs GROUP BY doc_id)
        |SELECT lp.doc_id, lp.n_lines, lp.n_distinct_lines, lp.dup_line_ratio,
        | b.top_bigram_tf, b.n_bigrams, b.top_bigram_ratio
        |FROM lp LEFT JOIN bstat b ON b.doc_id = lp.doc_id""".stripMargin

  protected val lmSurprisalSql =
    """WITH toks AS (SELECT doc_id, t AS term FROM (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |  FROM documents) WHERE t <> ''),
        |counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
        |scored AS (SELECT doc_id,
        |  CAST(round(round(ln(total::DOUBLE / cnt), 6) * 1000000) AS BIGINT) AS s6
        | FROM toks JOIN counts USING (term), total)
        |SELECT doc_id, count(*) AS n_tokens,
        | round(CAST(sum(s6) AS DOUBLE) / count(*) / 1000000, 4) AS avg_surprisal
        |FROM scored GROUP BY doc_id""".stripMargin

  protected val lmBigramSql =
    """WITH words AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '') AS ws
        | FROM documents),
        |v AS (SELECT count(DISTINCT t) AS vocab FROM (SELECT unnest(ws) AS t FROM words)),
        |bigr AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        | FROM words WHERE len(ws) >= 2),
        |bc AS (SELECT bigram, count(*) AS c12 FROM bigr GROUP BY 1),
        |cc AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c12) AS cctx FROM bc GROUP BY 1),
        |scored AS (SELECT g.doc_id,
        |  CAST(round(round(ln(CAST(cc.cctx + v.vocab AS DOUBLE) / CAST(bc.c12 + 1 AS DOUBLE)), 6) * 1e6) AS BIGINT) AS s6
        | FROM bigr g JOIN bc USING (bigram)
        | JOIN cc ON cc.w1 = split_part(g.bigram, ' ', 1) CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        | round(CAST(sum(s6) AS DOUBLE) / count(*) / 1e6, 4) AS avg_surprisal
        |FROM scored GROUP BY doc_id""".stripMargin

  protected val decontamReportSql =
    """WITH dw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
        |dg AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 4
        |  THEN list_transform(generate_series(1, len(w) - 3), i -> array_to_string(w[i:i+3], ' '))
        |  ELSE [array_to_string(w, ' ')] END)) AS shingle FROM dw),
        |bg AS (SELECT doc_id AS bench_id, shingle FROM dg WHERE doc_id % 25 = 0),
        |p AS (SELECT dg.doc_id, bench_id, count(*) AS n_shared
        |      FROM dg JOIN bg USING (shingle) GROUP BY 1, 2),
        |a AS (SELECT doc_id, count(*) AS n_bench_hits,
        |             CAST(sum(n_shared) AS BIGINT) AS n_overlap FROM p GROUP BY 1)
        |SELECT d.doc_id, COALESCE(a.n_bench_hits, 0) AS n_bench_hits,
        | COALESCE(a.n_overlap, 0) AS n_overlap,
        | a.n_bench_hits IS NOT NULL AS contaminated
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin

  /** Shared DuckDB replay of `Decontaminate.contaminatedSpans` (n=4,
    * padWords=2, bench = documents with doc_id % 25 = 0) over source
    * `src(doc_id, text, …)`: a CTE chain ending in `cspans(doc_id,
    * span_start, span_end, n_hit_grams, span_words)`, with the
    * tokenized corpus exposed as `cdw(doc_id, ws)` for the clip tail.
    * Composed by decontam_spans AND decontam_clip — one definition. */
  protected def contamSpanCtesOver(src: String): String =
    s"""cdw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM $src),
       |cdp AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+3], ' ') AS gram,
       |        len(ws) AS nw
       |      FROM cdw, LATERAL (SELECT unnest(generate_series(1, len(ws) - 3)) AS i) g
       |      WHERE len(ws) >= 4),
       |cbg AS (SELECT DISTINCT array_to_string(bws[i:i+3], ' ') AS gram
       |       FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS bws
       |             FROM documents WHERE doc_id % 25 = 0) b,
       |            LATERAL (SELECT unnest(generate_series(1, len(bws) - 3)) AS i) g
       |       WHERE len(bws) >= 4),
       |cm AS (SELECT doc_id, pos, nw FROM cdp JOIN cbg USING (gram)),
       |cseg AS (SELECT doc_id, pos, nw,
       |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
       |         THEN 0 ELSE 1 END AS new_seg FROM cm),
       |cgrp AS (SELECT doc_id, pos, nw,
       |        sum(new_seg) OVER (PARTITION BY doc_id ORDER BY pos) AS seg_id FROM cseg),
       |cspans AS (SELECT doc_id,
       |          CAST(greatest(min(pos) - 2, 0) AS BIGINT) AS span_start,
       |          CAST(least(max(pos) + 5, max(nw) - 1) AS BIGINT) AS span_end,
       |          CAST(count(*) AS BIGINT) AS n_hit_grams,
       |          CAST(least(max(pos) + 5, max(nw) - 1) - greatest(min(pos) - 2, 0) + 1
       |            AS BIGINT) AS span_words
       |         FROM cgrp GROUP BY doc_id, seg_id)""".stripMargin

  protected def contamSpanCtes: String = contamSpanCtesOver("documents")

  /** Shared DuckDB replay of `Dedup.duplicatedSpans` (n=4, minDocs=2,
    * minSpanWords=8) over source `src(doc_id, text, …)`: a CTE chain
    * ending in `dsspans(doc_id, span_start, span_end, n_dup_grams,
    * span_words)`, with the tokenized corpus exposed as `dsw(doc_id,
    * ws)` for clip tails. Composed by dup_spans, dup_spans_clip AND
    * curation_e2e — ONE definition, no silent drift (the same
    * fragment discipline as the verdict sub-oracles). */
  protected def dupSpanCtes(src: String): String =
    s"""dsw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM $src),
       |dsp AS (SELECT doc_id, i - 1 AS pos,
       |       ('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))::BIGINT AS fp
       |      FROM dsw, LATERAL (SELECT unnest(generate_series(1, len(ws) - 3)) AS i) g
       |      WHERE len(ws) >= 4),
       |dsd AS (SELECT fp FROM dsp GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
       |dsdp AS (SELECT doc_id, pos FROM dsp JOIN dsd USING (fp)),
       |dsseg AS (SELECT doc_id, pos,
       |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
       |         THEN 0 ELSE 1 END AS new_seg
       |        FROM dsdp),
       |dsgrp AS (SELECT doc_id, pos,
       |        sum(new_seg) OVER (PARTITION BY doc_id ORDER BY pos) AS seg_id FROM dsseg),
       |dsspans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 3 AS span_end,
       |           CAST(count(*) AS BIGINT) AS n_dup_grams,
       |           max(pos) + 3 - min(pos) + 1 AS span_words
       |          FROM dsgrp GROUP BY doc_id, seg_id
       |          HAVING max(pos) + 3 - min(pos) + 1 >= 8)""".stripMargin

  /** Brute-force exact-cosine top-10 over the standard (vec_id < 5
    * queries) ⨯ (vec_id >= 5 candidates) split — the ONE scoring/rank
    * contract shared by every exact-equivalent retrieval oracle:
    * `knn_cosine` (directly), `ivf_topk` (nprobe == nlist probes every
    * cell → must equal brute force), `knn_auto` (exact path at
    * verification scale). One constant, no drift. */
  protected val bruteForceKnnSql: String =
    """WITH q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 5),
      |scored AS (
      | SELECT q_vec_id, vec_id,
      |  round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) AS score
      | FROM q CROSS JOIN c)
      |SELECT q_vec_id, vec_id, score, rank FROM (
      | SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id) AS rank
      | FROM scored) WHERE rank <= 10""".stripMargin

  /** Replays [[graft.operators.Similarity.recallAudit]] over the four
    * deterministic ANN paths: each method's full DuckDB replay (the same
    * expressions as its standalone oracle, with IVF at nprobe=2 — a
    * genuinely approximate probe set) joined against brute force. */
  protected val annRecallSql: String =
    """WITH q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 5),
      |exact AS (
      | SELECT q_vec_id, vec_id FROM (
      |  SELECT q_vec_id, vec_id, row_number() OVER (PARTITION BY q_vec_id ORDER BY
      |   round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) DESC, vec_id) AS rank
      |  FROM q CROSS JOIN c) WHERE rank <= 10),
      |ex_n AS (SELECT count(*) AS expected FROM exact),
      |cbk AS (SELECT vec_id, e,
      |  (CASE WHEN e[1] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN e[2] >= 0 THEN '1' ELSE '0' END) ||
      |  (CASE WHEN e[3] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN e[4] >= 0 THEN '1' ELSE '0' END) AS bucket
      | FROM c WHERE list_inner_product(e, e) > 0),
      |qbk AS (SELECT q_vec_id, qe,
      |  (CASE WHEN qe[1] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN qe[2] >= 0 THEN '1' ELSE '0' END) ||
      |  (CASE WHEN qe[3] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN qe[4] >= 0 THEN '1' ELSE '0' END) AS b0
      | FROM q WHERE list_inner_product(qe, qe) > 0),
      |sign_r AS (SELECT q_vec_id, vec_id FROM (
      |  SELECT qbk.q_vec_id, cbk.vec_id, row_number() OVER (PARTITION BY qbk.q_vec_id ORDER BY
      |   round(list_inner_product(qbk.qe, cbk.e) / (sqrt(list_inner_product(qbk.qe, qbk.qe)) * sqrt(list_inner_product(cbk.e, cbk.e))), 4) DESC, cbk.vec_id) AS rank
      |  FROM qbk JOIN cbk ON qbk.b0 = cbk.bucket) WHERE rank <= 10),
      |mp_q AS (SELECT q_vec_id, qe, unnest([b0,
      |   (CASE WHEN substr(b0, 1, 1) = '1' THEN '0' ELSE '1' END) || substr(b0, 2),
      |   substr(b0, 1, 1) || (CASE WHEN substr(b0, 2, 1) = '1' THEN '0' ELSE '1' END) || substr(b0, 3)
      |  ]) AS bucket FROM qbk),
      |mp_r AS (SELECT q_vec_id, vec_id FROM (
      |  SELECT p.q_vec_id, cbk.vec_id, row_number() OVER (PARTITION BY p.q_vec_id ORDER BY
      |   round(list_inner_product(p.qe, cbk.e) / (sqrt(list_inner_product(p.qe, p.qe)) * sqrt(list_inner_product(cbk.e, cbk.e))), 4) DESC, cbk.vec_id) AS rank
      |  FROM mp_q p JOIN cbk USING (bucket)) WHERE rank <= 10),
      |iv_ranked AS (SELECT e AS cw, row_number() OVER (ORDER BY
      |   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT, vec_id) AS rn FROM c),
      |cents AS (SELECT rn - 1 AS cell, cw FROM iv_ranked WHERE rn <= 8),
      |asg AS (SELECT vec_id, cell FROM (
      |  SELECT c.vec_id, ct.cell, row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |   round(list_inner_product(c.e, ct.cw) / (sqrt(list_inner_product(c.e, c.e)) * sqrt(list_inner_product(ct.cw, ct.cw))), 6) DESC, ct.cell) AS r
      |  FROM c CROSS JOIN cents ct) WHERE r = 1),
      |qpr AS (SELECT q_vec_id, cell FROM (
      |  SELECT q.q_vec_id, ct.cell, row_number() OVER (PARTITION BY q.q_vec_id ORDER BY
      |   round(list_inner_product(q.qe, ct.cw) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(ct.cw, ct.cw))), 6) DESC, ct.cell) AS r
      |  FROM q CROSS JOIN cents ct) WHERE r <= 2),
      |ivf_r AS (SELECT q_vec_id, vec_id FROM (
      |  SELECT qp.q_vec_id, c.vec_id, row_number() OVER (PARTITION BY qp.q_vec_id ORDER BY
      |   round(list_inner_product(q.qe, c.e) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(c.e, c.e))), 4) DESC, c.vec_id) AS rank
      |  FROM qpr qp JOIN q ON q.q_vec_id = qp.q_vec_id
      |  JOIN asg a ON a.cell = qp.cell JOIN c ON c.vec_id = a.vec_id) WHERE rank <= 10),
      |sqt AS (SELECT vec_id, round(lo, 6) AS qmin, round((hi - lo) / 255.0, 9) AS qscale,
      |        list_transform(e, x -> CASE WHEN hi = lo THEN 0
      |          ELSE CAST(round((x - lo) / ((hi - lo) / 255.0)) AS INTEGER) END) AS codes
      |       FROM (SELECT vec_id, e, list_min(e) AS lo, list_max(e) AS hi FROM c) t),
      |rec AS (SELECT vec_id, re FROM (
      |        SELECT vec_id, list_transform(codes, cd -> qmin + cd * qscale) AS re FROM sqt)
      |        WHERE list_inner_product(re, re) > 0),
      |sq8_r AS (SELECT q_vec_id, vec_id FROM (
      |  SELECT qp.q_vec_id, a.vec_id, row_number() OVER (PARTITION BY qp.q_vec_id ORDER BY
      |   round(list_inner_product(q.qe, rec.re) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(rec.re, rec.re))), 4) DESC, a.vec_id) AS rank
      |  FROM qpr qp JOIN q ON q.q_vec_id = qp.q_vec_id
      |  JOIN asg a ON a.cell = qp.cell JOIN rec ON rec.vec_id = a.vec_id) WHERE rank <= 10),
      |cb8 AS (SELECT rn - 1 AS j, cw FROM iv_ranked WHERE rn <= 8),
      |pd AS (SELECT c.vec_id, s.s, cb8.j,
      |  round(list_sum(list_transform(generate_series(1, 16),
      |    i -> (c.e[s.s * 16 + i] - cb8.cw[s.s * 16 + i]) * (c.e[s.s * 16 + i] - cb8.cw[s.s * 16 + i]))), 6) AS d2
      | FROM c CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s CROSS JOIN cb8),
      |pcodes AS (SELECT vec_id, s, j FROM (
      |  SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS r FROM pd) WHERE r = 1),
      |pparts AS (SELECT q.q_vec_id, pc.vec_id, pc.s,
      |  list_sum(list_transform(generate_series(1, 16), i -> q.qe[pc.s * 16 + i] * cb8.cw[pc.s * 16 + i])) AS dot_s,
      |  list_sum(list_transform(generate_series(1, 16), i -> cb8.cw[pc.s * 16 + i] * cb8.cw[pc.s * 16 + i])) AS cn_s
      | FROM q CROSS JOIN pcodes pc JOIN cb8 ON cb8.j = pc.j),
      |pscored AS (SELECT q_vec_id, vec_id,
      |  (((sum(CASE WHEN s = 0 THEN dot_s END) + sum(CASE WHEN s = 1 THEN dot_s END))
      |       + sum(CASE WHEN s = 2 THEN dot_s END)) + sum(CASE WHEN s = 3 THEN dot_s END)) AS dot_r,
      |  (((sum(CASE WHEN s = 0 THEN cn_s END) + sum(CASE WHEN s = 1 THEN cn_s END))
      |       + sum(CASE WHEN s = 2 THEN cn_s END)) + sum(CASE WHEN s = 3 THEN cn_s END)) AS cnormsq
      | FROM pparts GROUP BY q_vec_id, vec_id),
      |qn AS (SELECT q_vec_id, sqrt(list_inner_product(qe, qe)) AS qnorm FROM q),
      |pq_r AS (SELECT q_vec_id, vec_id FROM (
      |  SELECT s.q_vec_id, s.vec_id, row_number() OVER (PARTITION BY s.q_vec_id ORDER BY
      |   round(s.dot_r / (qn.qnorm * sqrt(s.cnormsq)), 4) DESC, s.vec_id) AS rank
      |  FROM pscored s JOIN qn USING (q_vec_id)) WHERE rank <= 10),
      |hits AS (
      | SELECT 'sign_lsh' AS method, count(*) AS hits FROM sign_r JOIN exact USING (q_vec_id, vec_id)
      | UNION ALL SELECT 'multiprobe', count(*) FROM mp_r JOIN exact USING (q_vec_id, vec_id)
      | UNION ALL SELECT 'ivf_nprobe2', count(*) FROM ivf_r JOIN exact USING (q_vec_id, vec_id)
      | UNION ALL SELECT 'ivf_sq8_nprobe2', count(*) FROM sq8_r JOIN exact USING (q_vec_id, vec_id)
      | UNION ALL SELECT 'pq_adc', count(*) FROM pq_r JOIN exact USING (q_vec_id, vec_id))
      |SELECT method, CAST(hits AS BIGINT) AS hits, CAST(expected AS BIGINT) AS expected,
      | round(CAST(hits AS DOUBLE) / expected, 4) AS recall
      |FROM hits CROSS JOIN ex_n""".stripMargin

  /** Replays the golden end-to-end chain: paragraph chunks (C2, the
    * min-20 variant) → md5-bucket tf-idf cosine top-10 + BM25 top-10
    * over the same chunks → RRF top-3 with the question text joined
    * back. Mirrors `Retrieval.tfidfCosineSearch` / `bm25Search` /
    * `rrfFuse` expression for expression (3-decimal fixed-point dot and
    * norm sums, round-4 ranks, id tiebreaks). */
  protected val goldenE2eSql: String =
    s"""WITH qs AS (SELECT * FROM (VALUES $questionValuesSql) AS t(question_id, question)),
       |ch AS (SELECT doc_id || '_p0_para' || para_idx AS chunk_id, content AS text FROM (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS para_idx, trim(parts[i]) AS content
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\n{2,}') AS parts FROM documents) t,
       |       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g)
       | WHERE length(content) > 20),
       |ctoks AS (SELECT chunk_id, t AS tok FROM (
       |  SELECT chunk_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM ch)
       | WHERE NOT list_contains($stopSql, t)),
       |ctf AS (SELECT chunk_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 384 AS bucket,
       |  count(*) AS tf FROM ctoks GROUP BY 1, 2),
       |nd AS (SELECT count(*) AS n_docs FROM ch),
       |idf AS (SELECT bucket, round(ln(CAST(n_docs + 1 AS DOUBLE) / (count(*) + 1)), 6) AS idf
       | FROM ctf, nd GROUP BY bucket, n_docs),
       |cw AS (SELECT chunk_id, bucket, CAST(round(tf * idf * 1000) AS BIGINT) AS cw3
       | FROM ctf JOIN idf USING (bucket)),
       |cn AS (SELECT chunk_id, CAST(sum(cw3 * cw3) AS BIGINT) AS cn FROM cw GROUP BY chunk_id),
       |qtoks AS (SELECT question_id, t AS tok FROM (
       |  SELECT question_id, unnest(regexp_extract_all(lower(question), '[a-z0-9]+')) AS t FROM qs)
       | WHERE NOT list_contains($stopSql, t)),
       |qtf AS (SELECT question_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 384 AS bucket,
       |  count(*) AS tf FROM qtoks GROUP BY 1, 2),
       |qwt AS (SELECT question_id, bucket,
       |  CAST(round(tf * COALESCE(idf, round(ln(CAST(n_docs + 1 AS DOUBLE)), 6)) * 1000) AS BIGINT) AS qw3
       | FROM qtf LEFT JOIN idf USING (bucket), nd),
       |qn AS (SELECT question_id, CAST(sum(qw3 * qw3) AS BIGINT) AS qn FROM qwt GROUP BY question_id),
       |vdot AS (SELECT question_id, chunk_id, CAST(sum(qw3 * cw3) AS BIGINT) AS dot
       | FROM qwt JOIN cw USING (bucket) GROUP BY 1, 2),
       |va AS (SELECT question_id, chunk_id, rank_a FROM (
       |  SELECT v.question_id, v.chunk_id, row_number() OVER (PARTITION BY v.question_id ORDER BY
       |   round(CAST(v.dot AS DOUBLE) / (sqrt(CAST(qn.qn AS DOUBLE)) * sqrt(CAST(cn.cn AS DOUBLE))), 4) DESC,
       |   v.chunk_id) AS rank_a
       |  FROM vdot v JOIN qn USING (question_id) JOIN cn USING (chunk_id)) WHERE rank_a <= 10),
       |btoks AS (SELECT chunk_id, t AS term FROM (
       |  SELECT chunk_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
       |  FROM ch) WHERE t <> ''),
       |btf AS (SELECT chunk_id, term, count(*) AS tf FROM btoks GROUP BY chunk_id, term),
       |bdl AS (SELECT chunk_id, count(*) AS dl FROM btoks GROUP BY chunk_id),
       |bcorpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bdl),
       |bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
       |bqt AS (SELECT DISTINCT question_id, t AS term FROM (
       |  SELECT question_id, unnest(regexp_split_to_array(lower(question), '\\s+')) AS t
       |  FROM qs) WHERE t <> ''),
       |bscored AS (
       | SELECT bqt.question_id, btf.chunk_id,
       |  CAST(round(round(ln((bcorpus.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1), 6)
       |    * (btf.tf * 2.2) / (btf.tf + 1.2 * (1 - 0.75 + 0.75 * bdl.dl / bcorpus.avgdl))
       |    * 1000000) AS BIGINT) AS w6
       | FROM bqt JOIN btf USING (term) JOIN bdl USING (chunk_id)
       |   JOIN bdf USING (term), bcorpus),
       |baggd AS (SELECT question_id, chunk_id, round(sum(w6) / 1000000.0, 4) AS score
       | FROM bscored GROUP BY question_id, chunk_id),
       |vb AS (SELECT question_id, chunk_id, rank_b FROM (
       |  SELECT question_id, chunk_id, row_number() OVER (
       |    PARTITION BY question_id ORDER BY score DESC, chunk_id) AS rank_b
       |  FROM baggd) WHERE rank_b <= 10),
       |fused AS (SELECT COALESCE(va.question_id, vb.question_id) AS question_id,
       |  COALESCE(va.chunk_id, vb.chunk_id) AS chunk_id,
       |  COALESCE(va.rank_a, 0) AS rank_a, COALESCE(vb.rank_b, 0) AS rank_b,
       |  round(COALESCE(CAST(1 AS DOUBLE) / (60 + va.rank_a), 0) +
       |        COALESCE(CAST(1 AS DOUBLE) / (60 + vb.rank_b), 0), 6) AS rrf6
       | FROM va FULL OUTER JOIN vb
       |  ON va.question_id = vb.question_id AND va.chunk_id = vb.chunk_id),
       |top AS (SELECT question_id, chunk_id, rank_a, rank_b, rrf6, rank FROM (
       | SELECT *, row_number() OVER (
       |   PARTITION BY question_id ORDER BY rrf6 DESC, chunk_id) AS rank
       | FROM fused) WHERE rank <= 3)
       |SELECT top.*, qs.question FROM top JOIN qs USING (question_id)""".stripMargin

  /** Shared CTE ending in `fp(id, simhash)` — replays
    * [[graft.operators.Dedup.simhash32]]/`simhash60` (fingerprint width
    * = `bits`) over the documents table. */
  protected def simhashFpCte(bits: Int): String =
    s"""WITH toks AS (
      | SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      | FROM documents),
      |h AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
      |bits AS (SELECT id, b, CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
      |         FROM h, LATERAL (SELECT unnest(generate_series(0, ${bits - 1})) AS b) g),
      |v AS (SELECT id, b, sum(vote) AS v FROM bits GROUP BY id, b),
      |fp AS (SELECT id,
      | CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
      | FROM v GROUP BY id)""".stripMargin

  /** One PageRank iteration CTE (replays [[graft.operators.Graph.pageRank]]'s
    * integer micro-unit update; `prev` is the prior iteration's CTE name). */
  protected def pageRankIterCte(name: String, prev: String): String =
    s"""$name AS (SELECT d0.id,
       | (15 * 1000000) // (100 * (SELECT n FROM nn)) +
       | (85 * COALESCE(s.in6, 0)) // 100 AS pr6
       |FROM docs0 d0 LEFT JOIN (
       |  SELECT e.dst, CAST(sum(p.pr6 // g.deg) AS BIGINT) AS in6
       |  FROM edges2 e JOIN $prev p ON p.id = e.src JOIN deg g ON g.src = e.src
       |  GROUP BY e.dst) s ON s.dst = d0.id)""".stripMargin

  /** Expected `mm_video_mjpg` rows, derived INDEPENDENTLY of
    * [[graft.operators.MediaCodec.aviFrames]]: decode each sampled
    * fixture frame's JPEG bytes directly (no RIFF container in the
    * loop) with a raw bit-shift pixel walk, and compute the stream
    * clock from the fixture's (scale, rate) constants. What the compare
    * validates end-to-end is therefore the container walk, the codec
    * branch, the frame sampling, and the clock; the JPEG codec itself
    * is common-mode (the JDK ships exactly one). Lazy: only Verify's
    * oracle dump forces it. */
  protected lazy val mmVideoMjpgSql: String = {
    val clips = Seq(("anim", 24, 16, 12, 1, 25), ("mini", 8, 8, 3, 1, 10))
    val rows = for {
      (doc, w, h, nFrames, scale, rate) <- clips
      i <- 0 until nFrames if i % 5 == 0
    } yield {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(MediaCodec.mjpgFrameJpeg(w, h, i)))
      var (sr, sg, sb) = (0L, 0L, 0L)
      val crc = new java.util.zip.CRC32()
      for (y <- 0 until h; x <- 0 until w) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
        crc.update((p >> 16) & 0xFF); crc.update((p >> 8) & 0xFF); crc.update(p & 0xFF)
      }
      s"('$doc',$i,${i.toLong * 1000 * scale / rate},$w,$h,$nFrames,$sr,$sg,$sb,${crc.getValue})"
    }
    s"""SELECT doc, frame_idx, CAST(frame_ts_ms AS BIGINT) AS frame_ts_ms,
       | width, height, n_frames, CAST(sum_r AS BIGINT) AS sum_r,
       | CAST(sum_g AS BIGINT) AS sum_g, CAST(sum_b AS BIGINT) AS sum_b,
       | CAST(rgb_crc32 AS BIGINT) AS rgb_crc32
       |FROM (VALUES
       | ${rows.mkString(",\n ")}
       |) AS t(doc, frame_idx, frame_ts_ms, width, height, n_frames,
       |       sum_r, sum_g, sum_b, rgb_crc32)""".stripMargin
  }


  /** Shared DSIR CTEs: hashed word-unigram + adjacent-bigram features
    * (md5-prefix integer % 1024 — [[graft.operators.Dsir.bucketCol]]),
    * per-bucket target/raw counts, and the totals. Ends inside the WITH
    * clause. */
  protected val dsirCtes: String =
    """dbase AS (SELECT doc_id, coalesce(lang, '') = 'en' AS tgt,
      |           regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
      |dfeats AS (
      | SELECT doc_id, tgt, unnest(ws) AS f FROM dbase
      | UNION ALL
      | SELECT doc_id, tgt, ws[i] || ' ' || ws[i + 1] AS f
      | FROM dbase, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g),
      |db AS (SELECT doc_id, tgt,
      |        ('0x' || substr(md5(f), 1, 15))::BIGINT % 1024 AS bucket FROM dfeats),
      |dcounts AS (SELECT bucket,
      |  CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cnt,
      |  CAST(count(*) AS BIGINT) AS raw_cnt FROM db GROUP BY bucket),
      |dtot AS (SELECT CAST(sum(tgt_cnt) AS BIGINT) AS tgt_tot,
      |          CAST(sum(raw_cnt) AS BIGINT) AS raw_tot FROM dcounts)""".stripMargin

  /** The per-document weight CTE on top of [[dsirCtes]]: each feature's
    * smoothed cross-ratio log in micro-nats (ONE ln of an integer-count
    * ratio, rounded to 6 decimals — the nb_score fixed point), summed
    * order-free per document. */
  protected val dsirWeightCte: String =
    """dscored AS (SELECT db.doc_id,
      |  CAST(round(round(ln(
      |    (CAST(coalesce(c.tgt_cnt, 0) + 1 AS DOUBLE) * CAST(dtot.raw_tot + 1024 AS DOUBLE)) /
      |    (CAST(coalesce(c.raw_cnt, 0) + 1 AS DOUBLE) * CAST(dtot.tgt_tot + 1024 AS DOUBLE))),
      |   6) * 1e6) AS BIGINT) AS s6
      | FROM db LEFT JOIN dcounts c USING (bucket) CROSS JOIN dtot),
      |dw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
      |        CAST(sum(s6) AS DOUBLE) / 1e6 AS logw
      |       FROM dscored GROUP BY doc_id)""".stripMargin

  /** The dsir_weights / dsir_artifact shared oracle. */
  protected val dsirWeightsOracle: String =
    s"""WITH $dsirCtes,
       |$dsirWeightCte
       |SELECT doc_id, n_feats, logw FROM dw""".stripMargin

  /** The unigram-LM chain shared by `unigram_viterbi` and `unigram_em`:
    * corpus → word vocab, substring seed + pruning, and the recursive
    * per-word Viterbi cost table (see the `unigram_viterbi` comment).
    * Ends INSIDE the WITH clause so callers append their own CTEs or a
    * final SELECT. */
  protected def unigramCtes: String =
    """WITH RECURSIVE
      |uv AS (SELECT w AS word, count(*) AS freq
      |       FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |             FROM documents) x GROUP BY w),
      |sub AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |   SELECT freq, substr(word, s, l) AS piece
      |   FROM uv,
      |        LATERAL (SELECT unnest(generate_series(1, len(word))) AS s) g1,
      |        LATERAL (SELECT unnest(generate_series(1, least(4, len(word) - s + 1))) AS l) g2)
      |  GROUP BY piece),
      |pieces AS (
      |  SELECT piece, cnt FROM sub WHERE len(piece) = 1
      |  UNION ALL
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
      |    FROM sub WHERE len(piece) > 1) WHERE rn <= 40),
      |bigc AS (SELECT (SELECT max(len(word)) FROM uv) * (SELECT max(cnt) FROM pieces) + 1 AS big),
      |r(word, freq, pos, costs) AS (
      |  SELECT word, freq, 0, [CAST(0 AS BIGINT)] FROM uv
      |  UNION ALL
      |  SELECT word, freq, pos + 1, list_append(costs,
      |    (SELECT min(r.costs[r.pos + 2 - len(p.piece)] + (SELECT big FROM bigc) - p.cnt)
      |     FROM pieces p
      |     WHERE len(p.piece) <= r.pos + 1
      |       AND substr(r.word, r.pos + 2 - len(p.piece), len(p.piece)) = p.piece))
      |  FROM r WHERE pos < len(word))""".stripMargin

  /** The canonical-backtrack CTEs shared by `unigram_em`/`unigram_em2`
    * (`Unigram.backtrack`'s longest-tight-edge walk over the [[
    * unigramCtes]] cost tables). Ends INSIDE the WITH clause. */
  protected def unigramBtCtes: String =
    """tab AS (SELECT word, freq, costs FROM r WHERE pos = len(word)),
      |bt(word, freq, pos, out) AS (
      |  SELECT word, freq, len(word), '' FROM tab
      |  UNION ALL
      |  SELECT bt.word, bt.freq, bt.pos - l, substr(bt.word, bt.pos - l + 1, l) || ' ' || out
      |  FROM (
      |    SELECT b.word, b.freq, b.pos, b.out,
      |      (SELECT max(len(p.piece)) FROM pieces p, tab t
      |       WHERE t.word = b.word AND len(p.piece) <= b.pos
      |         AND substr(b.word, b.pos - len(p.piece) + 1, len(p.piece)) = p.piece
      |         AND t.costs[b.pos - len(p.piece) + 1] + (SELECT big FROM bigc) - p.cnt
      |             = t.costs[b.pos + 1]) AS l
      |    FROM bt b WHERE b.pos > 0
      |  ) bt)""".stripMargin

  /** SimHash banded-pair replay shared by `simhash_pairs` (sources =
    * the whole banding) and `simhash_pairs_capped` (sources = the
    * keeper-ranked subquery): ONE copy of the band layout and the
    * join/distinct/Hamming tail, mirroring `Dedup.banded60`/`pairTail`
    * on the engine side — neither side of the parity contract can
    * drift alone. */
  protected def simhashPairsSql(sourcesCte: String): String =
    s"""${simhashFpCte(60)},
       |banded AS (SELECT id, simhash, g.b AS bnd, (simhash >> (g.b * 15)) & 32767 AS byt
       |           FROM fp, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) g),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |          a.simhash AS fa, b.simhash AS fb
       |         FROM $sourcesCte a JOIN banded b
       |          ON a.bnd = b.bnd AND a.byt = b.byt AND a.id < b.id)
       |SELECT id_a, id_b, bit_count(xor(fa, fb)) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= 3""".stripMargin

  /** Per-document token counts under the 6-merge trained vocab —
    * `bpe_tokens`' replay, and byte-identically `bpe_artifact`'s (the
    * artifact query only changes where the merges come from). */
  protected lazy val bpeTokensOracle: String =
    s"""WITH ${bpeCtes(6)},
       |dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |       FROM documents),
       |wt AS (SELECT word, CAST(len(string_split(seq, ' ')) AS INTEGER) AS word_tokens
       |       FROM v6)
       |SELECT doc_id, count(*) AS n_words, CAST(sum(word_tokens) AS BIGINT) AS n_tokens
       |FROM dw JOIN wt USING (word) GROUP BY doc_id""".stripMargin

  /** Per-word Viterbi segmentation stats under the fitted seed model —
    * `unigram_viterbi`'s replay, and byte-identically
    * `unigram_artifact`'s (the artifact query only changes where the
    * model comes from). */
  protected lazy val unigramViterbiOracle: String =
    s"""$unigramCtes
      |SELECT word, freq,
      |  CAST(costs[len(word) + 1] // (SELECT big FROM bigc) + 1 AS BIGINT) AS n_pieces,
      |  CAST((costs[len(word) + 1] // (SELECT big FROM bigc) + 1) * (SELECT big FROM bigc)
      |       - costs[len(word) + 1] AS BIGINT) AS piece_mass
      |FROM r WHERE pos = len(word)""".stripMargin

  /** The full EM-loop replay (`Unigram.emLoop`): rounds 2..N extend the
    * [[unigramCtes]]+[[unigramBtCtes]] chain — each round's expected
    * counts become the next round's piece scores, `BIG` re-derives,
    * and the DP recursion re-runs — then a per-round summary applies
    * the engine's exact integer stopping rule (keep rows up to and
    * including the first round whose weighted total piece count fails
    * to improve). The last round needs no backtrack: only rounds that
    * feed a successor build `bt`. */
  protected def unigramLoopSql(maxRounds: Int): String = {
    require(maxRounds >= 2, "the loop trace needs at least two rounds to compare")
    val sb = new StringBuilder(unigramCtes + ",\n" + unigramBtCtes)
    for (j <- 2 to maxRounds) {
      val prevBt = if (j == 2) "bt" else s"bt${j - 1}"
      // MATERIALIZED is load-bearing: without it DuckDB inlines the
      // round-j frames into round j+1's correlated subqueries, and the
      // r→pieces→bt→tab chain re-evaluates once per outer row per
      // round — exponential in maxRounds. Materializing each round
      // boundary pins the replay to one evaluation per round.
      sb ++= s""",
        |pieces$j AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, unnest(string_split(trim(out), ' ')) AS piece
        |        FROM $prevBt WHERE pos = 0) u
        |  GROUP BY piece),
        |bigc$j AS MATERIALIZED (SELECT (SELECT max(len(word)) FROM uv) * (SELECT max(cnt) FROM pieces$j) + 1 AS big),
        |r$j(word, freq, pos, costs) AS (
        |  SELECT word, freq, 0, [CAST(0 AS BIGINT)] FROM uv
        |  UNION ALL
        |  SELECT word, freq, pos + 1, list_append(costs,
        |    (SELECT min(r$j.costs[r$j.pos + 2 - len(p.piece)] + (SELECT big FROM bigc$j) - p.cnt)
        |     FROM pieces$j p
        |     WHERE len(p.piece) <= r$j.pos + 1
        |       AND substr(r$j.word, r$j.pos + 2 - len(p.piece), len(p.piece)) = p.piece))
        |  FROM r$j WHERE pos < len(word))""".stripMargin
      if (j < maxRounds) sb ++= s""",
        |tab$j AS MATERIALIZED (SELECT word, freq, costs FROM r$j WHERE pos = len(word)),
        |bt$j(word, freq, pos, out) AS (
        |  SELECT word, freq, len(word), '' FROM tab$j
        |  UNION ALL
        |  SELECT s.word, s.freq, s.pos - l, substr(s.word, s.pos - l + 1, l) || ' ' || out
        |  FROM (
        |    SELECT b.word, b.freq, b.pos, b.out,
        |      (SELECT max(len(p.piece)) FROM pieces$j p, tab$j t
        |       WHERE t.word = b.word AND len(p.piece) <= b.pos
        |         AND substr(b.word, b.pos - len(p.piece) + 1, len(p.piece)) = p.piece
        |         AND t.costs[b.pos - len(p.piece) + 1] + (SELECT big FROM bigc$j) - p.cnt
        |             = t.costs[b.pos + 1]) AS l
        |    FROM bt$j b WHERE b.pos > 0
        |  ) s)""".stripMargin
    }
    // per-round corpus totals (round 1 = the seed-model names)
    def roundSummary(j: Int): String = {
      val (rName, piecesName, bigName) =
        if (j == 1) ("r", "pieces", "bigc") else (s"r$j", s"pieces$j", s"bigc$j")
      s"""SELECT $j AS iter, (SELECT count(*) FROM $piecesName) AS model_pieces,
         |  CAST(sum(freq * (costs[len(word) + 1] // (SELECT big FROM $bigName) + 1)) AS BIGINT) AS total_pieces,
         |  CAST(sum(freq * ((costs[len(word) + 1] // (SELECT big FROM $bigName) + 1) * (SELECT big FROM $bigName)
         |       - costs[len(word) + 1])) AS BIGINT) AS total_mass
         |FROM $rName WHERE pos = len(word)""".stripMargin
    }
    sb ++= s""",
      |summary AS (
      |${(1 to maxRounds).map(roundSummary).mkString("\nUNION ALL\n")}),
      |flagged AS (SELECT iter, model_pieces, total_pieces, total_mass,
      |  CASE WHEN iter = 1 THEN 0
      |       WHEN total_pieces >= lag(total_pieces) OVER (ORDER BY iter) THEN 1
      |       ELSE 0 END AS stopf
      |  FROM summary),
      |kept AS (SELECT *, sum(stopf) OVER (ORDER BY iter
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM flagged)
      |SELECT iter, model_pieces, total_pieces, total_mass
      |FROM kept WHERE s = 0 OR (stopf = 1 AND s = 1)""".stripMargin
    sb.toString
  }

  /** Greedy longest-match ENCODE replay (`Bpe.greedyPieces`) on top of
    * the [[bpeCtes]] chain: the piece inventory is v6's distinct symbol
    * set, and the recursion walks each vocab word left-to-right taking
    * the longest inventory piece that prefixes the remainder (the
    * correlated max-length scalar subquery), single-char fallback —
    * the same longest-first probe order the engine's when-chain
    * compiles. Both oracles over the encoder share this text. */
  protected def greedyCtes: String =
    """pieces AS (SELECT DISTINCT unnest(string_split(seq, ' ')) AS piece FROM v6),
      |r(word, freq, pos, out) AS (
      | SELECT word, freq, 1, '' FROM v6
      | UNION ALL
      | SELECT word, freq, pos + l, out || ' ' || substr(word, pos, l)
      | FROM (
      |  SELECT word, freq, pos, out,
      |   coalesce((SELECT max(len(p.piece)) FROM pieces p
      |             WHERE substr(r.word, r.pos, len(p.piece)) = p.piece
      |               AND r.pos + len(p.piece) <= len(r.word) + 1), 1) AS l
      |  FROM r WHERE pos <= len(word)
      | ) stepped
      |)""".stripMargin

  /** Shared CTE chain replaying the vocab-compressed BPE trainer
    * (`graft.operators.Bpe`): v0 = corpus → (word, freq, spaced-chars)
    * vocabulary, then per merge j: pair counts p_j over v_{j-1}, argmax
    * b_j under (freq DESC, lhs, rhs), rewrite v_j with the SAME 4-pass
    * padded leftmost-non-overlapping replace the engine applies — the
    * merge semantics are pinned by construction on both sides. */
  protected def bpeCtes(numMerges: Int): String = {
    val sb = new StringBuilder(
      """v0 AS (
        | SELECT w AS word, count(*) AS freq,
        |  trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS seq
        | FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |       FROM documents) uw
        | GROUP BY w)""".stripMargin)
    for (j <- 1 to numMerges) {
      // spread-replace-collapse: separators doubled so ONE replace is
      // the exact token-level greedy merge (Bpe.applyMerge's scaladoc)
      val rep = "replace(' ' || replace(v.seq, ' ', '  ') || ' ', " +
        "' ' || b.lhs || '  ' || b.rhs || ' ', ' ' || b.lhs || b.rhs || ' ')"
      sb ++= s""",
        |p$j AS (SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
        |         CAST(sum(freq) AS BIGINT) AS freq
        |        FROM (SELECT freq, string_split(seq, ' ') AS syms FROM v${j - 1}) s,
        |             LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) g
        |        GROUP BY 1, 2),
        |b$j AS (SELECT lhs, rhs, freq FROM p$j ORDER BY freq DESC, lhs, rhs LIMIT 1),
        |v$j AS (SELECT v.word, v.freq, trim(replace($rep, '  ', ' ')) AS seq
        |        FROM v${j - 1} v, b$j b)""".stripMargin
    }
    sb.toString
  }

  /** WordPiece training replay — [[bpeCtes]]' structure over the
    * ##-marked alphabet with likelihood argmax: w0 seeds `k ##e ##y`
    * sequences, each round recounts symbol frequencies (sy_j), scores
    * pairs by `freq / (fl · fr)` as IEEE doubles (the engine's exact
    * expression), picks the (score DESC, lhs, rhs) head, and rewrites
    * with the marker-stripped fusion carried in b_j.merged.
    *
    * Every w_j is `AS MATERIALIZED`: each round reads its predecessor
    * from THREE places (sy_j, p_j, and w_j's own projection), so the
    * default inlining would re-expand the chain 4^k times — measured
    * 267 s at sf0.001 vs sub-second materialized. ([[bpeCtes]] gets
    * away without the hint at 2 references per round.)
    *
    * Degenerate-corpus parity: when a round has no learnable pair, the
    * engine's `Wordpiece.learnMerges` stops and keeps the last vocab —
    * so w_j LEFT-joins b_j and falls back to w_{j-1}'s sequences when
    * b_j is empty, instead of cascading to an empty (and silently
    * engine-divergent) result through the remaining rounds. */
  protected def wpCtes(numMerges: Int, src: String = "documents"): String = {
    val sb = new StringBuilder(
      s"""w0 AS MATERIALIZED (
        | SELECT w AS word, count(*) AS freq,
        |  CASE WHEN len(w) <= 1 THEN w
        |       ELSE substr(w, 1, 1) || ' ' ||
        |            trim(regexp_replace(substr(w, 2), '(.)', '##\\1 ', 'g')) END AS seq
        | FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |       FROM $src) uw
        | GROUP BY w)""".stripMargin)
    for (j <- 1 to numMerges) {
      // spread-replace-collapse, identical to bpeCtes but substituting
      // the marker-stripped b.merged (Wordpiece.applyMerge)
      val rep = "replace(' ' || replace(v.seq, ' ', '  ') || ' ', " +
        "' ' || b.lhs || '  ' || b.rhs || ' ', ' ' || b.merged || ' ')"
      sb ++= s""",
        |sy$j AS MATERIALIZED (SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt
        |        FROM (SELECT freq, unnest(string_split(seq, ' ')) AS sym FROM w${j - 1}) s
        |        GROUP BY sym),
        |p$j AS MATERIALIZED (SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
        |         CAST(sum(freq) AS BIGINT) AS freq
        |        FROM (SELECT freq, string_split(seq, ' ') AS syms FROM w${j - 1}) s,
        |             LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) g
        |        GROUP BY 1, 2),
        |b$j AS MATERIALIZED (SELECT p.lhs, p.rhs,
        |         p.lhs || CASE WHEN p.rhs LIKE '##%' THEN substr(p.rhs, 3)
        |                       ELSE p.rhs END AS merged, p.freq
        |        FROM p$j p JOIN sy$j a ON a.sym = p.lhs JOIN sy$j c ON c.sym = p.rhs
        |        ORDER BY CAST(p.freq AS DOUBLE) /
        |                 (CAST(a.cnt AS DOUBLE) * CAST(c.cnt AS DOUBLE)) DESC,
        |                 p.lhs, p.rhs LIMIT 1),
        |w$j AS MATERIALIZED (
        | SELECT v.word, v.freq,
        |  CASE WHEN b.lhs IS NULL THEN v.seq
        |       ELSE trim(replace($rep, '  ', ' ')) END AS seq
        | FROM w${j - 1} v LEFT JOIN b$j b ON true)""".stripMargin
    }
    sb.toString
  }

  /** The WordPiece greedy-encode replay: [[greedyCtes]]' walk made
    * marker-aware — the matchable surface of a ##-piece is its last
    * `len-2` characters, position 1 may only take unmarked pieces, and
    * the emitted token re-attaches the marker. */
  protected val wordpieceTokensOracle: String = wordpieceTokensOracleFor("documents")

  protected def wordpieceTokensOracleFor(src: String): String =
    s"""WITH RECURSIVE ${wpCtes(6, src)},
       |wpieces AS (SELECT DISTINCT unnest(string_split(seq, ' ')) AS piece FROM w6),
       |r(word, freq, pos, out) AS (
       | SELECT word, freq, 1, '' FROM w6
       | UNION ALL
       | SELECT word, freq, pos + l,
       |  out || ' ' || CASE WHEN pos = 1 THEN substr(word, pos, l)
       |                     ELSE '##' || substr(word, pos, l) END
       | FROM (
       |  SELECT word, freq, pos, out,
       |   coalesce((SELECT max(CASE WHEN p.piece LIKE '##%' THEN len(p.piece) - 2
       |                             ELSE len(p.piece) END)
       |             FROM wpieces p
       |             WHERE CASE WHEN r.pos = 1 THEN
       |                     p.piece NOT LIKE '##%'
       |                     AND r.pos + len(p.piece) <= len(r.word) + 1
       |                     AND substr(r.word, r.pos, len(p.piece)) = p.piece
       |                   ELSE
       |                     p.piece LIKE '##%'
       |                     AND r.pos + len(p.piece) - 2 <= len(r.word) + 1
       |                     AND substr(r.word, r.pos, len(p.piece) - 2) = substr(p.piece, 3)
       |                   END), 1) AS l
       |  FROM r WHERE pos <= len(word)
       | ) stepped
       |)
       |SELECT piece, CAST(sum(freq) AS BIGINT) AS freq
       |FROM (SELECT freq, unnest(string_split(trim(out), ' ')) AS piece
       |      FROM r WHERE pos > len(word)) u
       |GROUP BY piece""".stripMargin

  /** Shared NB CTEs: the lang='en' weak label, `[a-z]+` tokens, and the
    * per-term class counts — one definition for train and score. */
  protected val nbCtes: String =
    """lab AS (SELECT doc_id, coalesce(lang, '') = 'en' AS pos, text FROM documents),
      |toks AS (SELECT doc_id, pos,
      |          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM lab),
      |counts AS (SELECT term,
      |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_cnt,
      |  CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_cnt
      | FROM toks GROUP BY term)""".stripMargin

  /** NB scoring replay: the one-logarithm smoothed llr per token,
    * rounded to 6 decimals then micro-nat fixed point (order-free long
    * sums — the repo-wide ln discipline), plus the class-prior llr. */
  protected val nbScoreOracle: String =
    s"""WITH $nbCtes,
       |tot AS (SELECT CAST(sum(pos_cnt) AS BIGINT) AS pos_tot,
       |         CAST(sum(neg_cnt) AS BIGINT) AS neg_tot,
       |         CAST(count(*) AS BIGINT) AS vocab FROM counts),
       |dt AS (SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_docs,
       |        CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_docs FROM lab),
       |pr AS (SELECT CAST(round(round(ln(CAST(pos_docs AS DOUBLE) /
       |         CAST(neg_docs AS DOUBLE)), 6) * 1e6) AS BIGINT) AS p6 FROM dt),
       |scored AS (SELECT t.doc_id,
       |  CAST(round(round(ln(
       |    (CAST(coalesce(c.pos_cnt, 0) + 1 AS DOUBLE) * CAST(tot.neg_tot + tot.vocab AS DOUBLE)) /
       |    (CAST(coalesce(c.neg_cnt, 0) + 1 AS DOUBLE) * CAST(tot.pos_tot + tot.vocab AS DOUBLE))),
       |   6) * 1e6) AS BIGINT) AS s6
       | FROM toks t LEFT JOIN counts c USING (term) CROSS JOIN tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       | CAST(pr.p6 + sum(s6) AS DOUBLE) / 1e6 AS nb_llr,
       | CASE WHEN pr.p6 + sum(s6) > 0 THEN 1 ELSE 0 END AS pred
       |FROM scored CROSS JOIN pr GROUP BY doc_id, pr.p6""".stripMargin

  /** Shared CTE prefix replaying the C4 greedy sentence-packing fold
    * (recursive walk carrying (sub_idx, cur_len) per chunk; RE2 has no
    * lookbehind so the sentence split is marker-replace + split). */
  protected val c4WalkSql: String =
    """WITH RECURSIVE parts AS (
      | SELECT doc_id, CAST(i - 1 AS INTEGER) AS para_idx, trim(parts[i]) AS content
      | FROM (SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS parts FROM documents) t,
      |      LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g),
      |pchunks AS (
      | SELECT CAST(doc_id AS VARCHAR) AS document_id, para_idx AS position, content
      | FROM parts WHERE length(content) > 20),
      |sent AS (
      | SELECT document_id, position,
      |  list_filter(string_split(regexp_replace(content, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)),
      |              x -> length(x) > 0) AS s
      | FROM pchunks WHERE length(content) > 120),
      |sent2 AS (
      | SELECT document_id, position, i, s[i] AS sentence, length(s[i]) AS slen, len(s) AS n
      | FROM sent, LATERAL (SELECT unnest(generate_series(1, len(s))) AS i) g),
      |walk AS (
      | SELECT document_id, position, i, n, 0 AS sub_idx, slen AS cur_len FROM sent2 WHERE i = 1
      | UNION ALL
      | SELECT nx.document_id, nx.position, nx.i, nx.n,
      |  CASE WHEN w.cur_len + 1 + nx.slen <= 120 THEN w.sub_idx ELSE w.sub_idx + 1 END,
      |  CASE WHEN w.cur_len + 1 + nx.slen <= 120 THEN w.cur_len + 1 + nx.slen ELSE nx.slen END
      | FROM walk w JOIN sent2 nx
      |   ON nx.document_id = w.document_id AND nx.position = w.position AND nx.i = w.i + 1),
      |packed AS (
      | SELECT w.document_id, w.position, w.sub_idx,
      |  string_agg(s2.sentence, ' ' ORDER BY w.i) AS content
      | FROM walk w JOIN sent2 s2
      |   ON s2.document_id = w.document_id AND s2.position = w.position AND s2.i = w.i
      | GROUP BY w.document_id, w.position, w.sub_idx),
      |subs AS (
      | SELECT document_id, position, 0 AS sub_idx, content FROM pchunks WHERE length(content) <= 120
      | UNION ALL SELECT * FROM packed)""".stripMargin

  /** Shared shingle→minhash→band→candidate-pair CTE prefix for the
    * minhash_pairs / dup_clusters oracles (mirrors
    * [[Dedup.minhashCandidates]] on `documents WHERE doc_id < 500`:
    * 3-gram shingles, 8 affine hashes, 4 bands of 2). */
  protected lazy val minhashPairsCte: String = {
    val params = Dedup.minhashParams(8)
    val p = Dedup.minhashPrime
    val sigDefs = params.zipWithIndex.map { case ((a, b), i) =>
      s"min((hv * $a + $b) % $p) AS sig_$i"
    }.mkString(", ")
    val bandSelects = (0 until 4).map { bnd =>
      s"SELECT id, $bnd AS band, CAST(sig_${2 * bnd} AS VARCHAR) || ':' || CAST(sig_${2 * bnd + 1} AS VARCHAR) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH sh AS (
       | SELECT doc_id AS id, unnest(list_distinct(
       |   CASE WHEN len(words) >= 3
       |    THEN list_transform(generate_series(1, len(words) - 2), i -> array_to_string(words[i : i + 2], ' '))
       |    ELSE [array_to_string(words, ' ')] END)) AS shingle
       | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
       |       FROM documents WHERE doc_id < 500)),
       |h AS (SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % $p AS hv FROM sh),
       |sig AS (SELECT id, $sigDefs FROM h GROUP BY id),
       |banded AS ($bandSelects),
       |pairs AS (
       | SELECT DISTINCT a.id AS id_a, b.id AS id_b
       | FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)""".stripMargin
  }

  /** Independent replay of the incremental MinHash pair derivation:
    * same shingle→affine-minhash signature CTEs as [[minhashPairsCte]],
    * ledger = capped banding of the prior third (doc_id % 3 = 0,
    * per-bucket id rank ≤ 2), crossed against the batch banding with
    * the self-id exclusion, plus the capped in-batch pairs; Jaccard
    * estimate = matching signature components / 8. */
  protected lazy val minhashIncrementalSql: String = {
    val params = Dedup.minhashParams(8)
    val p = Dedup.minhashPrime
    val sigDefs = params.zipWithIndex.map { case ((a, b), i) =>
      s"min((hv * $a + $b) % $p) AS sig_$i"
    }.mkString(", ")
    val bandSelects = (0 until 4).map { bnd =>
      s"SELECT id, $bnd AS band, CAST(sig_${2 * bnd} AS VARCHAR) || ':' || CAST(sig_${2 * bnd + 1} AS VARCHAR) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    val matchSum = (0 until 8).map(i =>
      s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH sh AS (
       | SELECT doc_id AS id, unnest(list_distinct(
       |   CASE WHEN len(words) >= 3
       |    THEN list_transform(generate_series(1, len(words) - 2), i -> array_to_string(words[i : i + 2], ' '))
       |    ELSE [array_to_string(words, ' ')] END)) AS shingle
       | FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
       |       FROM documents WHERE doc_id < 500)),
       |h AS (SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % $p AS hv FROM sh),
       |sig AS (SELECT id, $sigDefs FROM h GROUP BY id),
       |banded AS ($bandSelects),
       |led AS (SELECT * FROM (
       |         SELECT *, row_number() OVER (PARTITION BY band, bucket ORDER BY id) AS rk
       |         FROM banded WHERE id % 3 = 0) WHERE rk <= 2),
       |nb AS (SELECT * FROM banded WHERE id % 3 <> 0),
       |nk AS (SELECT * FROM (
       |        SELECT *, row_number() OVER (PARTITION BY band, bucket ORDER BY id) AS rk
       |        FROM nb) WHERE rk <= 2),
       |crossp AS (SELECT DISTINCT l.id AS id_a, n.id AS id_b
       |           FROM led l JOIN nb n
       |            ON l.band = n.band AND l.bucket = n.bucket AND l.id <> n.id),
       |inb AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |        FROM nk a JOIN nb b
       |         ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
       |SELECT 'ledger' AS source, id_a, id_b,
       | round(($matchSum) / 8.0, 4) AS est_jaccard
       |FROM crossp JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
       |UNION ALL
       |SELECT 'batch' AS source, id_a, id_b,
       | round(($matchSum) / 8.0, 4) AS est_jaccard
       |FROM inb JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b""".stripMargin
  }

  /** Shared line→section CTE prefix for the C1/C9 oracles (mirrors
    * [[Sections.sectionChunks]] exactly: header regexes, running-count
    * section ids, ordered reassembly). */
  protected def c1SectionsSql(finalSelect: String): String = {
    val headerPred = Sections.headerPatterns
      .map(p => s"regexp_matches(line, '${esc(p)}')").mkString("(", " OR ", ")")
    s"""WITH lines AS (
       | SELECT doc_id, CAST(i - 1 AS INTEGER) AS line_idx, parts[i] AS line
       | FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents) t,
       |      LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g),
       |flagged AS (SELECT *, $headerPred AS is_header FROM lines),
       |numbered AS (
       | SELECT *, CAST(sum(CASE WHEN is_header THEN 1 ELSE 0 END)
       |   OVER (PARTITION BY doc_id ORDER BY line_idx
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS section_idx
       | FROM flagged),
       |sections AS (
       | SELECT doc_id, section_idx,
       |  COALESCE(max(CASE WHEN is_header THEN trim(line) END), 'Introduction') AS section_title,
       |  trim(COALESCE(string_agg(CASE WHEN NOT is_header THEN line END, chr(10)
       |    ORDER BY line_idx), ''), ' ' || chr(9) || chr(10) || chr(13)) AS content
       | FROM numbered GROUP BY doc_id, section_idx)
       |$finalSelect"""
  }.stripMargin
}
