package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{IvfIndex, Tables}
import graft.operators._
import graft.streaming.FixtureStream

/** Retrieval tier (SURVEY §2.5-2.6): kNN/ANN search family, persisted IVF index lifecycle, BM25/keyword/hybrid ranking, IR metrics.
  * One `queries` entry per operator with its DuckDB oracle twin;
  * composed into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]]. */
private[graft] trait EntryRetrieval extends EntryShared {

  /** The ivf_stream_e2e lifecycle on the index at `dir`, up to its
    * final probe, which the returned thunk builds. `phase` wraps each
    * step; the `ivf` drill leg times them. */
  private[graft] def ivfStreamLifecycle(s: SparkSession, e: DataFrame, dir: String,
                                        phase: FixtureStream.Phase = FixtureStream.untimed)
      : () => DataFrame = {
    import s.implicits._
    // rebuild wipes prior appends + manifest: every invocation (bench's
    // min-of-two, verify) replays the identical lifecycle from scratch
    phase("build")(IvfIndex.build(e.filter(col("vec_id") >= 200), dir, nlist = 8))
    val late = phase("collect") {
      e.filter(col("vec_id") >= 5 && col("vec_id") < 200)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    }
    FixtureStream.run(s, Seq(late.filter(_._1 < 70),
        late.filter(t => t._1 >= 70 && t._1 < 135),
        late.filter(_._1 >= 135)), // batch 2 stays unfolded
        phase = phase,
        afterBatch = i => if (i == 1) {
          // compact between triggers — the documented quiesce window; the
          // forced fold moves batches 0 and 1 into vectors/
          phase("compact")(IvfIndex.compact(s, dir, foldMinRatio = 0.0))
          // at-least-once replay of batch 1 AFTER its fold: the manifest
          // (not the long-gone batch dir) must make this a no-op
          phase("replay")(IvfIndex.append(
            e.filter(col("vec_id") >= 70 && col("vec_id") < 135), dir, batchId = Some(1L)))
        }) { (in, _) =>
      in.selectExpr("_1 AS vec_id", "CAST(_2 AS ARRAY<FLOAT>) AS embedding").writeStream
        .foreachBatch((b: DataFrame, id: Long) => IvfIndex.append(b, dir, batchId = Some(id)))
    }
    () => IvfIndex.probe(s, dir,
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")),
      k = 10, nprobe = 2)
  }

  protected def retrievalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_cosine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Retrieval.knnCosine(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")),
        e.filter(col("vec_id") >= 5), k = 10)
    }),
    "knn_filtered" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Retrieval.knnCosine(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")),
        e.filter(col("vec_id") >= 5), k = 10, indexFilter = col("label") === 3)
    }),
    "lsh_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")),
        e.filter(col("vec_id") >= 5), k = 10, dims = 4)
    }),
    // multi-probe LSH: also probes the two nearest Hamming-1 buckets —
    // higher recall, same distributable equi-join shape,
    "lsh_multiprobe" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")),
        e.filter(col("vec_id") >= 5), k = 10, dims = 4, probes = 3)
    }),
    // IVF ANN: KMeans cell assignment isn't reproducible in DuckDB →
    // rows-only check (row count = k × |queries| is deterministic).,
    "ivf_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")),
        e.filter(col("vec_id") >= 5), k = 10, nlist = 8, nprobe = 8)
    }),
    // IVF-SQ8: coarse cells + int8-compressed storage, queries score the
    // dequantized reconstruction — approximate in BOTH the probe set
    // (nprobe=2 < nlist) and the stored precision; full DuckDB replay,
    "ivf_sq8_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfSq8TopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")),
        e.filter(col("vec_id") >= 5), k = 10, nlist = 8, nprobe = 2)
    }),
    // the persisted-index face of IVF: build writes the cell-partitioned
    // vector table + centroid sidecar, probe reads it back with dynamic
    // partition pruning; nprobe=2 < nlist → a genuinely approximate run,
    // replayed end-to-end by the DuckDB oracle,
    "ivf_persisted" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // ONE temp dir per JVM (lazy val): per-call createTempDirectory
      // leaked a full vector-table copy per invocation, while a fixed
      // world-shared path raced concurrent processes (two Verify JVMs
      // would swap each other's builds) and collided across users.
      // Per-JVM unique + reused across calls (bench's min-of-two,
      // verify) bounds the footprint to one copy per run with no race.
      graft.io.IvfIndex.build(e.filter(col("vec_id") >= 5), ivfDemoDir, nlist = 8)
      graft.io.IvfIndex.probe(s, ivfDemoDir,
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")),
        k = 10, nprobe = 2)
    }),
    // the STREAMING lifecycle of the persisted index as one oracle-checked
    // chain: build from the older corpus half (vec_id >= 200), stream the
    // rest in through a real micro-batch foreachBatch append (batches 0
    // and 1), FOLD them into the base tree via compact (foldMinRatio=0
    // forces it), replay batch 1 afterwards (a zombie retry — the folded
    // manifest makes it a no-op), then commit batch 2 post-compact so the
    // final probe unions base + one unfolded append batch. Every row the
    // stream delivered is probed with the BUILD-half centroids (append
    // assigns against STORED centroids, never re-trains), so the whole
    // chain equals one probe over the full corpus with those centroids —
    // exactly what the DuckDB oracle replays. The fixture stream
    // collects 195 rows (bounded at every SF) to make the micro-batch
    // boundaries deterministic,
    "ivf_stream_e2e" -> ((s, d) =>
      ivfStreamLifecycle(s, Tables.embeddings(s, d), ivfStreamDir)()),
    // recall@10 audit of every deterministic approximate path against
    // brute force — the number an ANN deployment is tuned by; the oracle
    // replays each method end-to-end in DuckDB,
    "ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
      val cand = e.filter(col("vec_id") >= 5)
      val exact = Retrieval.knnCosine(qs, cand, k = 10)
      Similarity.recallAudit(exact, Seq(
        "sign_lsh" -> Similarity.lshTopK(qs, cand, k = 10, dims = 4),
        "multiprobe" -> Similarity.lshTopK(qs, cand, k = 10, dims = 4, probes = 3),
        "ivf_nprobe2" -> Similarity.ivfTopK(qs, cand, k = 10, nlist = 8, nprobe = 2),
        "ivf_sq8_nprobe2" -> Similarity.ivfSq8TopK(qs, cand, k = 10, nlist = 8, nprobe = 2),
        "pq_adc" -> Similarity.pqAdcTopK(qs, cand, k = 10)))
    }),
    // graded IR metrics over the exact kNN lists, relevance = label
    // match (the standard ANN-benchmark relevance definition),
    "ranking_quality" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
      val cand = e.filter(col("vec_id") >= 5)
      val rel = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("label").as("_ql"))
        .join(cand.select(col("vec_id"), col("label")), col("label") === col("_ql"))
        .select(col("q_vec_id"), col("vec_id"))
      Retrieval.rankingQuality(Retrieval.knnCosine(qs, cand, k = 10), rel, k = 10)
    }),
    // BRP-LSH recall rides MLlib's seeded RNG → the recall VALUE is
    // run-reproducible (fixed seed) but not engine-replayable, so the
    // checked projection is a verdict: recall ≥ 0.8, far under the
    // measured 0.94 tuning point (README's audit table) — the oracle
    // asserts the verdict, catching bucket-join collapse or a seed/
    // normalization regression without pinning RNG-specific hyperplanes,
    "ann_recall_brp" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
      val cand = e.filter(col("vec_id") >= 5)
      val exact = Retrieval.knnCosine(qs, cand, k = 10)
      Similarity.recallAudit(exact,
        Seq("brp_lsh" -> Similarity.brpLshTopK(qs, cand, k = 10)))
        .select(col("method"), col("expected"),
          (col("recall") >= 0.8).as("recall_ok"))
    }),
    // the SparkSessionExtensions SQL surface: the native cosine kernel
    // invoked from plain SQL text, as an extensions-configured session
    // (or GraftExtensions.register) exposes it,
    "sql_cosine_pairs" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("emb_sql")
      s.sql("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(cosine_sim(a.embedding, b.embedding), 4) AS score
               FROM emb_sql a JOIN emb_sql b ON a.vec_id + 1 = b.vec_id
               WHERE a.vec_id < 50""")
    }),
    "index_stats" -> ((s, d) =>
      Tables.embeddings(s, d).agg(
        count(lit(1)).as("n_vectors"),
        count_distinct(col("label")).as("n_labels"),
        max(size(col("embedding"))).as("dim"))),
    // Q3 deterministic fallback: vector path "fails" for q_vec_id >= 3
    // (stands in for the reference's exception case, main.py:129-131);
    // those questions fall back to the LSH keyword-analogue results.,
    "hybrid_search" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
      val vector = Retrieval.knnCosine(qs, e.filter(col("vec_id") >= 5), k = 10,
          indexFilter = col("label") === 3)
        .filter(col("q_vec_id") < 3)
      val keyword = Similarity.lshTopK(qs, e.filter(col("vec_id") >= 5), k = 10, dims = 4)
      Retrieval.hybridSearch(vector, keyword, qidCol = "q_vec_id")
    }),
    "salted_agg" -> ((s, d) =>
      Relational.saltedCountSum(Tables.documents(s, d), "lang", "n_chars")),

    // --- keyword fallback (SURVEY §2.6) --------------------------------,
    "keyword_search" -> ((s, d) =>
      Retrieval.keywordSearch(questionsDF(s), Tables.documents(s, d), k = 3)),
    "answer_summary" -> ((s, d) =>
      Retrieval.keywordSearch(questionsDF(s), Tables.documents(s, d), k = 3)
        .groupBy(col("question_id"))
        .agg(count(lit(1)).as("n_results"), max(col("score")).as("best_score"),
          max(when(col("rank") === 1, col("doc_id"))).as("best_doc"))),
    "answers_payload" -> ((s, d) =>
      Retrieval.answersPayload(
        Retrieval.keywordSearch(questionsDF(s), Tables.documents(s, d), k = 3))),
    "bm25_search" -> ((s, d) =>
      Retrieval.bm25Search(questionsDF(s), Tables.documents(s, d), k = 3)),

    // --- validation / ingest (SURVEY §2.1-2.2) -------------------------,
  )

  protected def retrievalOracles: Map[String, String] = Map(
    "knn_cosine" -> bruteForceKnnSql,
    "knn_filtered" ->
      """WITH q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 5 AND label = 3),
        |scored AS (
        | SELECT q_vec_id, vec_id,
        |  round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) AS score
        | FROM q CROSS JOIN c)
        |SELECT q_vec_id, vec_id, score, rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id) AS rank
        | FROM scored) WHERE rank <= 10""".stripMargin,
    "lsh_topk" ->
      """WITH b AS (
        | SELECT vec_id, embedding,
        |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        | FROM embeddings
        | WHERE list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe, bucket FROM b WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS e, bucket FROM b WHERE vec_id >= 5),
        |scored AS (
        | SELECT q_vec_id, vec_id,
        |  round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) AS score
        | FROM q JOIN c USING (bucket))
        |SELECT q_vec_id, vec_id, score, rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id) AS rank
        | FROM scored) WHERE rank <= 10""".stripMargin,
    "lsh_multiprobe" ->
      """WITH b AS (
        | SELECT vec_id, embedding,
        |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        | FROM embeddings
        | WHERE list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe, bucket AS b0
        |      FROM b WHERE vec_id < 5),
        |qp AS (SELECT q_vec_id, qe, unnest([b0,
        |   (CASE WHEN substr(b0, 1, 1) = '1' THEN '0' ELSE '1' END) || substr(b0, 2),
        |   substr(b0, 1, 1) ||
        |     (CASE WHEN substr(b0, 2, 1) = '1' THEN '0' ELSE '1' END) || substr(b0, 3)
        |  ]) AS bucket FROM q),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS e, bucket FROM b WHERE vec_id >= 5),
        |scored AS (
        | SELECT q_vec_id, vec_id,
        |  round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) AS score
        | FROM qp JOIN c USING (bucket))
        |SELECT q_vec_id, vec_id, score, rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id) AS rank
        | FROM scored) WHERE rank <= 10""".stripMargin,
    "keyword_search" ->
      s"""WITH qs AS (SELECT * FROM (VALUES $questionValuesSql) AS t(question_id, question)),
         |qw AS (SELECT question_id,
         |        CAST(len(list_filter(regexp_split_to_array(lower(trim(question)), '\\s+'), t -> t <> '')) AS INTEGER) AS n_words,
         |        unnest(list_distinct(list_filter(regexp_split_to_array(lower(trim(question)), '\\s+'), t -> t <> ''))) AS word
         |       FROM qs),
         |m AS (SELECT question_id, n_words, doc_id, count(DISTINCT word) AS matches
         |      FROM qw JOIN documents ON position(word IN lower(text)) > 0
         |      GROUP BY question_id, n_words, doc_id)
         |SELECT question_id, doc_id, matches,
         | round(CAST(matches AS DOUBLE) / n_words, 4) AS score, rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY question_id
         |        ORDER BY round(CAST(matches AS DOUBLE) / n_words, 4) DESC, doc_id) AS rank
         |      FROM m) WHERE rank <= 3""".stripMargin,
    "answer_summary" ->
      s"""WITH qs AS (SELECT * FROM (VALUES $questionValuesSql) AS t(question_id, question)),
         |qw AS (SELECT question_id,
         |        CAST(len(list_filter(regexp_split_to_array(lower(trim(question)), '\\s+'), t -> t <> '')) AS INTEGER) AS n_words,
         |        unnest(list_distinct(list_filter(regexp_split_to_array(lower(trim(question)), '\\s+'), t -> t <> ''))) AS word
         |       FROM qs),
         |m AS (SELECT question_id, n_words, doc_id, count(DISTINCT word) AS matches
         |      FROM qw JOIN documents ON position(word IN lower(text)) > 0
         |      GROUP BY question_id, n_words, doc_id),
         |ranked AS (
         |  SELECT question_id, doc_id,
         |   round(CAST(matches AS DOUBLE) / n_words, 4) AS score,
         |   row_number() OVER (PARTITION BY question_id
         |     ORDER BY round(CAST(matches AS DOUBLE) / n_words, 4) DESC, doc_id) AS rank
         |  FROM m)
         |SELECT question_id, count(*) AS n_results, max(score) AS best_score,
         | max(CASE WHEN rank = 1 THEN doc_id END) AS best_doc
         |FROM ranked WHERE rank <= 3 GROUP BY question_id""".stripMargin,
    "answers_payload" ->
      s"""WITH qs AS (SELECT * FROM (VALUES $questionValuesSql) AS t(question_id, question)),
         |qw AS (SELECT question_id,
         |        CAST(len(list_filter(regexp_split_to_array(lower(trim(question)), '\\s+'), t -> t <> '')) AS INTEGER) AS n_words,
         |        unnest(list_distinct(list_filter(regexp_split_to_array(lower(trim(question)), '\\s+'), t -> t <> ''))) AS word
         |       FROM qs),
         |m AS (SELECT question_id, n_words, doc_id, count(DISTINCT word) AS matches
         |      FROM qw JOIN documents ON position(word IN lower(text)) > 0
         |      GROUP BY question_id, n_words, doc_id),
         |ranked AS (
         |  SELECT question_id, doc_id,
         |   round(CAST(matches AS DOUBLE) / n_words, 4) AS score,
         |   row_number() OVER (PARTITION BY question_id
         |     ORDER BY round(CAST(matches AS DOUBLE) / n_words, 4) DESC, doc_id) AS rank
         |  FROM m)
         |SELECT question_id, count(*) AS n_results, max(score) AS best_score,
         | to_json(list(struct_pack(rank := CAST(rank AS INTEGER), doc_id := doc_id)
         |   ORDER BY rank))::VARCHAR AS context_json,
         | printf('Found %d relevant sections', count(*)) AS summary
         |FROM ranked WHERE rank <= 3 GROUP BY question_id""".stripMargin,
    "bm25_search" ->
      s"""WITH qs AS (SELECT * FROM (VALUES $questionValuesSql) AS t(question_id, question)),
         |toks AS (SELECT doc_id, t AS term FROM (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
         |  FROM documents) WHERE t <> ''),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |qt AS (SELECT DISTINCT question_id, t AS term FROM (
         |  SELECT question_id, unnest(regexp_split_to_array(lower(question), '\\s+')) AS t
         |  FROM qs) WHERE t <> ''),
         |scored AS (
         | SELECT qt.question_id, tf.doc_id,
         |  CAST(round(round(ln((corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1), 6)
         |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / corpus.avgdl))
         |    * 1000000) AS BIGINT) AS w6
         | FROM qt JOIN tf USING (term) JOIN dl USING (doc_id)
         |   JOIN dfreq USING (term), corpus),
         |aggd AS (SELECT question_id, doc_id,
         |  round(sum(w6) / 1000000.0, 4) AS score, count(*) AS n_terms
         | FROM scored GROUP BY question_id, doc_id),
         |ranked AS (SELECT *, row_number() OVER (
         |  PARTITION BY question_id ORDER BY score DESC, doc_id) AS rank FROM aggd)
         |SELECT question_id, doc_id, n_terms, score, rank
         |FROM ranked WHERE rank <= 3""".stripMargin,
    "ivf_topk" -> bruteForceKnnSql,

    // full replay of IVF-SQ8: centroid sample + assignment as the IVF
    // chain, then int8 codes (the sq_embeddings expression), rounded
    // (min, scale) reconstruction, and cosine over the dequantized
    // vectors inside the probed cells,
    "ivf_sq8_topk" ->
      """WITH q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 5),
        |iv_ranked AS (SELECT e AS cw, row_number() OVER (ORDER BY
        |   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT, vec_id) AS rn FROM c),
        |cents AS (SELECT rn - 1 AS cell, cw FROM iv_ranked WHERE rn <= 8),
        |asg AS (SELECT vec_id, cell FROM (
        |  SELECT c.vec_id, ct.cell, row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |   round(list_inner_product(c.e, ct.cw) / (sqrt(list_inner_product(c.e, c.e)) * sqrt(list_inner_product(ct.cw, ct.cw))), 6) DESC, ct.cell) AS r
        |  FROM c CROSS JOIN cents ct) WHERE r = 1),
        |sq AS (SELECT vec_id,
        |        round(lo, 6) AS qmin, round((hi - lo) / 255.0, 9) AS qscale,
        |        list_transform(e, x -> CASE WHEN hi = lo THEN 0
        |          ELSE CAST(round((x - lo) / ((hi - lo) / 255.0)) AS INTEGER) END) AS codes
        |       FROM (SELECT vec_id, e, list_min(e) AS lo, list_max(e) AS hi FROM c) t),
        |rec AS (SELECT vec_id, re FROM (
        |        SELECT vec_id, list_transform(codes, cd -> qmin + cd * qscale) AS re FROM sq)
        |        WHERE list_inner_product(re, re) > 0),
        |qpr AS (SELECT q_vec_id, cell FROM (
        |  SELECT q.q_vec_id, ct.cell, row_number() OVER (PARTITION BY q.q_vec_id ORDER BY
        |   round(list_inner_product(q.qe, ct.cw) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(ct.cw, ct.cw))), 6) DESC, ct.cell) AS r
        |  FROM q CROSS JOIN cents ct) WHERE r <= 2)
        |SELECT q_vec_id, vec_id, score, rank FROM (
        |  SELECT qp.q_vec_id, a.vec_id,
        |   round(list_inner_product(q.qe, rec.re) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(rec.re, rec.re))), 4) AS score,
        |   row_number() OVER (PARTITION BY qp.q_vec_id ORDER BY
        |    round(list_inner_product(q.qe, rec.re) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(rec.re, rec.re))), 4) DESC, a.vec_id) AS rank
        |  FROM qpr qp JOIN q ON q.q_vec_id = qp.q_vec_id
        |  JOIN asg a ON a.cell = qp.cell JOIN rec ON rec.vec_id = a.vec_id) WHERE rank <= 10""".stripMargin,

    // full replay of the persisted-index probe at nprobe=2: the same
    // hash-minimal centroid sample, argmax-cosine assignment, probe
    // ranking and exact-cosine scoring the index stores and serves (the
    // ivf_nprobe2 chain from annRecallSql, with score/rank emitted),
    "ivf_persisted" ->
      """WITH q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 5),
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
        |  FROM q CROSS JOIN cents ct) WHERE r <= 2)
        |SELECT q_vec_id, vec_id, score, rank FROM (
        |  SELECT qp.q_vec_id, c.vec_id,
        |   round(list_inner_product(q.qe, c.e) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(c.e, c.e))), 4) AS score,
        |   row_number() OVER (PARTITION BY qp.q_vec_id ORDER BY
        |    round(list_inner_product(q.qe, c.e) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(c.e, c.e))), 4) DESC, c.vec_id) AS rank
        |  FROM qpr qp JOIN q ON q.q_vec_id = qp.q_vec_id
        |  JOIN asg a ON a.cell = qp.cell JOIN c ON c.vec_id = a.vec_id) WHERE rank <= 10""".stripMargin,

    // the streaming chain collapses, by construction, to ONE probe over
    // the full candidate set with centroids hash-sampled from the BUILD
    // half only (vec_id >= 200): stream-append assigns against stored
    // centroids, the fold moves rows without rescoring, the batch-1
    // replay no-ops, and the post-compact batch unions in unchanged —
    // so the replay is the ivf_persisted SQL with `iv_ranked` drawn
    // from the build half,
    "ivf_stream_e2e" ->
      """WITH q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 5),
        |iv_ranked AS (SELECT e AS cw, row_number() OVER (ORDER BY
        |   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT, vec_id) AS rn
        |  FROM c WHERE vec_id >= 200),
        |cents AS (SELECT rn - 1 AS cell, cw FROM iv_ranked WHERE rn <= 8),
        |asg AS (SELECT vec_id, cell FROM (
        |  SELECT c.vec_id, ct.cell, row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |   round(list_inner_product(c.e, ct.cw) / (sqrt(list_inner_product(c.e, c.e)) * sqrt(list_inner_product(ct.cw, ct.cw))), 6) DESC, ct.cell) AS r
        |  FROM c CROSS JOIN cents ct) WHERE r = 1),
        |qpr AS (SELECT q_vec_id, cell FROM (
        |  SELECT q.q_vec_id, ct.cell, row_number() OVER (PARTITION BY q.q_vec_id ORDER BY
        |   round(list_inner_product(q.qe, ct.cw) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(ct.cw, ct.cw))), 6) DESC, ct.cell) AS r
        |  FROM q CROSS JOIN cents ct) WHERE r <= 2)
        |SELECT q_vec_id, vec_id, score, rank FROM (
        |  SELECT qp.q_vec_id, c.vec_id,
        |   round(list_inner_product(q.qe, c.e) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(c.e, c.e))), 4) AS score,
        |   row_number() OVER (PARTITION BY qp.q_vec_id ORDER BY
        |    round(list_inner_product(q.qe, c.e) / (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(c.e, c.e))), 4) DESC, c.vec_id) AS rank
        |  FROM qpr qp JOIN q ON q.q_vec_id = qp.q_vec_id
        |  JOIN asg a ON a.cell = qp.cell JOIN c ON c.vec_id = a.vec_id) WHERE rank <= 10""".stripMargin,
    "ann_recall" -> annRecallSql,

    // the seeded-RNG BRP paths are replayed as VERDICTS: the oracle
    // recomputes the deterministic frame (queries / exact-pair count)
    // and asserts the recall verdicts hold — see the query comments,
    "ann_recall_brp" ->
      """SELECT 'brp_lsh' AS method,
        | CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5)
        |   * least(10, (SELECT count(*) FROM embeddings WHERE vec_id >= 5))
        |   AS BIGINT) AS expected,
        | true AS recall_ok""".stripMargin,
    "ranking_quality" ->
      """WITH q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe, label AS ql
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id >= 5),
        |ranked AS (SELECT q_vec_id, vec_id, rank FROM (
        | SELECT q_vec_id, vec_id, row_number() OVER (PARTITION BY q_vec_id ORDER BY
        |  round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) DESC, vec_id) AS rank
        | FROM q CROSS JOIN c) WHERE rank <= 10),
        |rel AS (SELECT q.q_vec_id, c.vec_id FROM q JOIN c ON c.label = q.ql),
        |h AS (SELECT r.q_vec_id,
        |  CAST(sum(CASE WHEN rel.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
        |  min(CASE WHEN rel.vec_id IS NOT NULL THEN rank END) AS frr,
        |  CAST(sum(CASE WHEN rel.vec_id IS NOT NULL
        |    THEN CAST(round(1e6 / round(ln(rank + 1.0) / ln(2.0), 6)) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS dcg6
        | FROM ranked r LEFT JOIN rel ON rel.q_vec_id = r.q_vec_id AND rel.vec_id = r.vec_id
        | GROUP BY r.q_vec_id),
        |ic AS (SELECT q_vec_id,
        |  CAST(sum(CAST(round(1e6 / round(ln(g.r + 1.0) / ln(2.0), 6)) AS BIGINT)) AS BIGINT) AS idcg6
        | FROM (SELECT q_vec_id, least(count(*), 10) AS nrel FROM rel GROUP BY 1) n,
        |  LATERAL (SELECT unnest(generate_series(1, CAST(n.nrel AS INTEGER))) AS r) g
        | GROUP BY q_vec_id)
        |SELECT h.q_vec_id, hits_at_k,
        | COALESCE(frr, 0) AS first_rel_rank,
        | CAST(CASE WHEN frr IS NOT NULL THEN 1000000 // frr ELSE 0 END AS BIGINT) AS mrr6,
        | dcg6, CAST(COALESCE(idcg6, 0) AS BIGINT) AS idcg6,
        | CASE WHEN COALESCE(idcg6, 0) > 0 THEN CAST(dcg6 AS DOUBLE) / idcg6 ELSE 0.0 END AS ndcg
        |FROM h LEFT JOIN ic ON ic.q_vec_id = h.q_vec_id""".stripMargin,
    "sql_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_inner_product(a.e, b.e) /
        |   (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4) AS score
        |FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) a
        |JOIN (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) b
        |  ON a.vec_id + 1 = b.vec_id
        |WHERE a.vec_id < 50""".stripMargin,
    "index_stats" ->
      """SELECT count(*) AS n_vectors, count(DISTINCT label) AS n_labels,
        | CAST(max(len(embedding)) AS INTEGER) AS dim FROM embeddings""".stripMargin,
    "hybrid_search" ->
      """WITH q AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe, embedding AS qraw
        |           FROM embeddings WHERE vec_id < 5),
        |cf AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 5 AND label = 3),
        |v AS (
        | SELECT q_vec_id, vec_id, score, rank FROM (
        |  SELECT q_vec_id, vec_id,
        |   round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) AS score,
        |   row_number() OVER (PARTITION BY q_vec_id
        |     ORDER BY round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) DESC, vec_id) AS rank
        |  FROM q CROSS JOIN cf) WHERE rank <= 10 AND q_vec_id < 3),
        |b AS (
        | SELECT vec_id, embedding,
        |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        | FROM embeddings
        | WHERE list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |qb AS (SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe, bucket FROM b WHERE vec_id < 5),
        |cb AS (SELECT vec_id, embedding::DOUBLE[] AS e, bucket FROM b WHERE vec_id >= 5),
        |kw AS (
        | SELECT q_vec_id, vec_id, score, rank FROM (
        |  SELECT q_vec_id, vec_id,
        |   round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) AS score,
        |   row_number() OVER (PARTITION BY q_vec_id
        |     ORDER BY round(list_inner_product(qe, e) / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(e, e))), 4) DESC, vec_id) AS rank
        |  FROM qb JOIN cb USING (bucket)) WHERE rank <= 10)
        |SELECT q_vec_id, vec_id, score, rank, 'vector' AS search_method FROM v
        |UNION ALL
        |SELECT q_vec_id, vec_id, score, rank, 'keyword' AS search_method
        |FROM kw WHERE q_vec_id NOT IN (SELECT q_vec_id FROM v)""".stripMargin,
    "salted_agg" ->
      """SELECT lang, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_val
        |FROM documents GROUP BY lang""".stripMargin,
  )
}
