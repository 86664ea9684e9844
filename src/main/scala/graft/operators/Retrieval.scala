package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.functions.{CountContained, Kernel, VectorOps}

/** The reference's two retrieval strategies, re-expressed as set-oriented
  * Spark plans:
  *
  *  - Q1/Q2 semantic kNN: embed query, cosine top-k over the vector index
  *    (reference `vectorizer.py:118-157`, `pinecone_manager.py:105-138`,
  *    invoked per-question in a Python loop at `main.py:92-127`). Here ALL
  *    questions are answered in one job: broadcast(questions) ⨯ index →
  *    cosine → rank-limit. Spark ≥3.5 plans the `row_number() <= k` filter
  *    as WindowGroupLimit, i.e. each map task keeps only its local top-k
  *    per question BEFORE the shuffle — the shuffle moves O(k·|questions|)
  *    rows per partition, not the whole index. That is the property that
  *    survives a 100 TB index.
  *
  *  - Q4-Q6 keyword fallback: per-question substring-containment scoring
  *    (reference `main.py:133-174`). A theta join (instr > 0) against a
  *    broadcast questions side + countDistinct aggregate. NOTE the
  *    reference counts SUBSTRING containment, not token equality ("car"
  *    matches "card", `main.py:143`) — replicated faithfully as spec.
  *
  * Scores are rounded to 4 decimals BEFORE ranking so that rank order is
  * reproducible bit-for-bit across engines (ties broken by id).
  */
object Retrieval {

  /** Exact cosine kNN: for each row of `queries` (id column `qidCol`,
    * vector column `qvecCol`), the top `k` rows of `index` by cosine
    * similarity. Pre-filter (`indexFilter`) is applied below the ranking —
    * the analogue of Pinecone's metadata filter evaluated inside the index
    * (`pinecone_manager.py:118`), which Catalyst pushes into the scan. */
  def knnCosine(queries: DataFrame, index: DataFrame, k: Int,
                qidCol: String = "q_vec_id", qvecCol: String = "q_embedding",
                idCol: String = "vec_id", vecCol: String = "embedding",
                indexFilter: Column = lit(true)): DataFrame = {
    val scored = broadcast(queries)
      .join(index.filter(indexFilter))
      .withColumn("score", round(VectorOps.cosineNative(col(qvecCol), col(vecCol)), 4))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("score").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("score"), col("rank"))
  }

  /** The exact→ANN switch (SURVEY §4.3 #2 — what Pinecone performs
    * internally, surfaced as an engine decision): score the index
    * exhaustively while it is small enough that a broadcast-cross scan
    * is cheap, and switch to the sign-LSH bucketed plan once the index
    * outgrows `annThresholdBytes`. The decision reads Catalyst's own
    * statistics off the index's optimized plan — the same statistics
    * the planner uses to pick broadcast joins. Estimate: when
    * `stats.rowCount` is defined, `max(rowCount × schema-default row
    * width, sizeInBytes)`; else `sizeInBytes` alone. Why the max of
    * both: the schema-default width UNDERCOUNTS variable-length columns
    * (an `ARRAY<FLOAT>` embedding column defaults to one element — a
    * ~dim× underestimate that would keep a huge vector index on the
    * brute-force path), while catalog `sizeInBytes` is ON-DISK
    * compressed size, under the in-memory cost only by the compression
    * ratio. Taking the larger errs toward the ANN path — the cheap
    * mistake — and stays unit-sane for narrow scalar schemas. The
    * rowCount term is what makes the switch respond to filters: with
    * CBO + ANALYZE'd column stats, `FilterEstimation` shrinks BOTH
    * statistics through an ordinary attribute `indexFilter`, so a
    * selective filter flips the switch to exact (the round-5 caveat).
    * WITHOUT CBO the size-only visitor supplies no rowCount and passes
    * `sizeInBytes` through attribute filters unchanged — there the
    * switch falls back to [[prunedParquetEstimate]]: the estimate is
    * read off the partition-pruned parquet FILE LISTING the physical
    * scan would actually perform (plus footer row counts when the
    * listing is small), so a selective partition-column filter still
    * flips the switch to exact with no catalog and no ANALYZE. A pure
    * data-column filter cannot prune the listing, so there the
    * conservative over-estimate keeps the ANN path — the cheap
    * mistake. Exact
    * results below the threshold, standard LSH recall above it (all
    * Hamming-1 probes on, the high-recall setting); both paths share
    * the scoring and rank-limit contract. */
  def knnAuto(queries: DataFrame, index: DataFrame, k: Int,
              annThresholdBytes: Long = 1L << 30, dims: Int = 4,
              qidCol: String = "q_vec_id", qvecCol: String = "q_embedding",
              idCol: String = "vec_id", vecCol: String = "embedding",
              indexFilter: Column = lit(true)): DataFrame = {
    val filtered = index.filter(indexFilter)
    val plan = filtered.queryExecution.optimizedPlan
    val stats = plan.stats
    // 8 bytes of row overhead + each column's type-default width — the
    // same logical width Catalyst's EstimationUtils.getSizePerRow uses
    // when no column statistics are attached. Guarded by max() against
    // sizeInBytes because defaultSize counts one element per array.
    val rowWidth = BigInt(8L + plan.output.map(_.dataType.defaultSize.toLong).sum)
    val sizeBytes = stats.rowCount
      .map(rc => (rc * rowWidth).max(stats.sizeInBytes))
      .getOrElse(prunedParquetEstimate(filtered, rowWidth, annThresholdBytes)
        .getOrElse(stats.sizeInBytes))
    if (sizeBytes <= BigInt(annThresholdBytes))
      knnCosine(queries, filtered, k, qidCol, qvecCol, idCol, vecCol)
    else
      Similarity.lshTopK(queries, filtered, k, dims, probes = dims + 1,
        qidCol, qvecCol, idCol, vecCol)
  }

  /** The no-catalog statistics path for [[knnAuto]]: when the optimizer
    * supplies no rowCount (CBO off, or no ANALYZE), the logical-plan
    * `sizeInBytes` passes through filters UNCHANGED — so the switch
    * would never see that a selective filter shrank the index. But the
    * physical scan knows: its partition filters prune the parquet file
    * listing before a single byte is read. This reads the estimate off
    * that listing — the same metadata-only information
    * `FileSourceScanExec` uses to plan its tasks:
    *
    *  - sum of the PRUNED listing's file lengths (on-disk, compressed);
    *  - when that sum is at or below the decision threshold, footer row
    *    counts of the selected files (each footer is one metadata read;
    *    only paid when total selected data is threshold-small, so the
    *    file count is too — the over-threshold branch short-circuits on
    *    bytes alone, costing ZERO footer reads on a 100 TB index).
    *
    * The estimate is `max(rows × rowWidth, prunedBytes)`, mirroring the
    * CBO formula. Exact under partition-column filters; an upper bound
    * under data-column filters (the listing can't see them — the
    * conservative miss keeps the ANN path, the cheap mistake).
    * Applies only when the filtered plan is Filter/Project stages over
    * ONE parquet file scan — any other shape (joins, unions, cached or
    * in-memory relations) returns None and the caller keeps the plain
    * `sizeInBytes` estimate. Dynamic-pruning subqueries are excluded
    * from the listing predicate (they need runtime results; static
    * pruning alone is the planning-time information). */
  private def prunedParquetEstimate(filtered: DataFrame, rowWidth: BigInt,
                                    thresholdBytes: Long): Option[BigInt] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
    def scanUnder(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Some(s)
      case f: FilterExec => scanUnder(f.child)
      case pr: ProjectExec => scanUnder(pr.child)
      case _ => None
    }
    scanUnder(filtered.queryExecution.sparkPlan)
      .filter(_.relation.fileFormat
        .isInstanceOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
      .map { scan =>
        val staticPartFilters = scan.partitionFilters.filterNot(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
        val files = scan.relation.location
          .listFiles(staticPartFilters, scan.dataFilters).flatMap(_.files)
        val bytes = files.foldLeft(BigInt(0))(_ + _.getLen)
        if (bytes > BigInt(thresholdBytes)) bytes
        else {
          val conf = filtered.sparkSession.sessionState.newHadoopConf()
          val rows = files.map { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
            try r.getRecordCount finally r.close()
          }.sum
          (BigInt(rows) * rowWidth).max(bytes)
        }
      }
  }

  /** Q4-Q6 keyword-containment scoring, exactly the reference formula
    * (`main.py:137-157`): tokenize question on whitespace after lower();
    * a chunk's matches = number of DISTINCT question words substring-
    * contained in lower(content); score = matches / n_question_words;
    * keep matches > 0; top `k` chunks per question.
    *
    * `questions`: (question_id INT, question STRING);
    * `chunks`: (`idCol`, `textCol`). Questions side is tiny → broadcast
    * theta-join (BroadcastNestedLoopJoin); chunk side streams. */
  def keywordSearch(questions: DataFrame, chunks: DataFrame, k: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Score in ONE projection per (chunk, question) pair: each question
    // carries its distinct-word array; matches = count of words contained
    // in the (once-lowercased) text. Compared to the word-level theta
    // join + countDistinct shuffle, nothing but the final per-question
    // top-k moves across the network — and WindowGroupLimit reduces that
    // to O(k) rows per task. |chunks|×|questions| rows stream through a
    // codegen'd array filter; no pre-aggregation shuffle at any size.
    // trim + drop-empties like the reference's Python str.split():
    // split('\\s+') keeps a boundary empty token for leading/trailing
    // whitespace, and ""-containment is TRUE for every text — one
    // whitespace-padded question would otherwise match the whole corpus
    // (matches>0 never cuts) with scores deflated by the phantom word
    val qToks = filter(split(lower(trim(col("question"))), "\\s+"), t => t =!= "")
    val qWords = broadcast(
      questions
        .withColumn("n_words", size(qToks))
        .withColumn("words", array_distinct(qToks)))
    val scored = chunks
      .withColumn("_ltext", lower(col(textCol)))
      .crossJoin(qWords)
      .withColumn("matches",
        Kernel.call(CountContained, "count", IntegerType, col("words"), col("_ltext"))
          .cast("long"))
      .withColumn("score", round(col("matches").cast("double") / col("n_words"), 4))
    // The matches>0 cut is applied AFTER the rank, not before: a filter
    // above the scoring projection gets its predicate pushed below it,
    // and the kernel is then evaluated twice per pair (once in the
    // Filter, once in the Project — measured ~25% of query time).
    // The (matches > 0) sort key guarantees zero-match rows rank below
    // every match — including a positive score that ROUNDS to 0.0000
    // (n_words > 20000), which would otherwise tie with them — so they
    // can never displace a match from the top-k; the final filter drops
    // them from the tail. Among matches the key is constant, so rank
    // order (score desc, id) is identical to ranking matches alone.
    val w = Window.partitionBy(col("question_id"))
      .orderBy(col("score").desc, (col("matches") > 0).desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k && col("matches") > 0)
      .select(col("question_id"), col(idCol), col("matches"), col("score"), col("rank"))
  }

  /** BM25 ranking of questions over a document corpus — the standard
    * lexical-retrieval upgrade over the reference's containment scoring
    * (same query surface as [[keywordSearch]], principled weighting):
    * score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) (the Lucene/Okapi form).
    *
    * Shape at scale: tokenize → (doc,term) tf + per-doc length in two
    * hash aggregates over the corpus scan; document frequencies are one
    * more aggregate on term; the question side is tiny and broadcast.
    * All joins are equi-joins on term/doc — no theta join, no cross
    * product; the final per-question top-k is WindowGroupLimit-pruned.
    * idf is rounded to 6 decimals before weighting (ln is the one
    * libm-dependent step; rounding pins cross-engine bit-stability). */
  def bm25Search(questions: DataFrame, docs: DataFrame, k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // No trim / no stopword drop here (BM25 scores every token; the
    // oracle mirrors this exact configuration). `idCol` must be UNIQUE
    // in `docs` (it is the corpus key): a duplicated id would fan out
    // the dl join and double-count in n_docs/avgdl.
    //
    // Shuffle inventory (the 100 TB view): the corpus is tokenized
    // exactly TWICE — once for the scalar (n_docs, avgdl) aggregate,
    // once for the scoring path. Document length dl rides through the
    // token explode as a constant per-row column and is recovered in
    // the tf aggregate by first(), so no separate dl table is joined;
    // document frequency df is a window count over the already-pruned
    // tf rows (distinct (doc,term) ⇒ the count IS df), so no separate
    // vocabulary aggregate exists either. The exploded tokens are
    // pruned to the query vocabulary by an IN-list filter BEFORE the tf
    // aggregate, so the only shuffles are over O(query-vocab hits) rows:
    // tf, the df window, and the final per-question score — each tiny
    // next to the corpus. (Earlier forms aggregated tf over the whole
    // vocabulary and joined dl/df back: one O(corpus tokens) exchange
    // plus two joins that existed only to be 99% discarded.)
    //
    // The question side is request-sized, so it is planned on the
    // driver: one projection tokenizes it and is collected (over a local
    // frame the projection folds into the relation and no job runs),
    // the driver explodes the terms, and they come back as the IN list
    // and as the (question_id, term) local relation of the score join.
    val spark = questions.sparkSession
    val qSide = questions.select(col("question_id"),
      array_distinct(split(lower(col("question")), "\\s+")).as("terms"))
    val qRows = qSide.collect().toSeq.flatMap(r =>
      Option(r.getSeq[String](1)).getOrElse(Nil).filter(_ != "").map(t => Row(r.get(0), t)))
    val qTerms = spark.createDataFrame(qRows.asJava,
      StructType(Seq(qSide.schema(0), StructField("term", StringType, nullable = false))))
    val words = docs.select(col(idCol),
      filter(split(lower(col(textCol)), "\\s+"), w => w =!= "").as("_words"))
    // dl > 0 keeps n_docs/avgdl identical to the aggregate-derived form
    // (a zero-token document has no tf rows, so it never counted).
    // Lazy broadcast subquery, not an eager collect — see the n_docs
    // note in [[tfidfCosineSearch]] (eager fit-state literals measured
    // slower: build-time jobs serialize).
    val corpus = words.select(size(col("_words")).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tfq = words
      .select(col(idCol), size(col("_words")).cast("long").as("dl"),
        explode(col("_words")).as("term"))
      .filter(col("term").isInCollection(qRows.map(_.getString(1)).distinct))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val wDf = Window.partitionBy(col("term"))
    val scored = broadcast(qTerms)
      .join(tfq.withColumn("df", count(lit(1)).over(wDf)), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("idf", round(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
      .withColumn("w", col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      // fixed-point micro-units before the sum: double addition is not
      // associative, and aggregation order differs between engines (and
      // between runs) — summing longs is exact and order-free.
      .withColumn("w6", round(col("w") * 1e6, 0).cast("long"))
      .groupBy(col("question_id"), col(idCol))
      .agg(round(sum(col("w6")) / 1e6, 4).as("score"), count(lit(1)).as("n_terms"))
    val w = Window.partitionBy(col("question_id")).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("question_id"), col(idCol), col("n_terms"), col("score"), col("rank"))
  }

  /** Sparse tf-idf cosine search — the engine-reproducible twin of the
    * dense featurize→kNN leg [[SparkEntry.entry]] runs (MLlib HashingTF's
    * Murmur3 buckets can't be recomputed by another engine, so the
    * oracle-checkable form uses [[Embedding.tfBuckets]]' md5 buckets and
    * the same MLlib IDF formula ln((N+1)/(df+1))). Vectors never
    * materialize: the dot product is an inverted-index equi-join on the
    * bucket id — the form that WINS at corpus scale anyway (score work
    * is O(shared buckets), not O(dim · |corpus|), and the join
    * distributes on the bucket key). Weights go through 3-decimal
    * fixed-point so every dot/norm sum is an exact order-free long fold;
    * a question bucket unseen in the corpus still contributes its
    * df=0 idf to the QUERY norm, exactly as a fitted IDF model would.
    * Output follows the retrieval-family contract
    * (question_id, `idCol`, score, rank). */
  def tfidfCosineSearch(questions: DataFrame, docs: DataFrame, k: Int,
                        dim: Int = 384,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // lazy scalar subquery, NOT an eager collect: resolving fit-state
    // scalars to driver literals was measured (r8, sf0.1, 7 reps) to
    // SLOW the golden chain ~0.5 s — the build-time jobs serialize where
    // broadcast-subquery stages overlap the main job's scheduling.
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // ctf feeds multiple consumers (the idf aggregate and the scored
    // join's cw side) — unmaterialized, the corpus tokenize+md5-bucket
    // aggregate (the single most expensive pass here: one md5 per token)
    // runs once PER CONSUMER. localCheckpoint (GC-reclaimed, see
    // ngramJaccard) runs it once; this frame IS the sparse index a
    // deployment would persist anyway. r8 measurement honesty (sf0.1,
    // 7 reps): the sf0.1 chain is stage-count-bound (~25 AQE stages ×
    // ~0.15 s scheduling floor), so wall-clock sits at 3.2-4.4 s warm
    // for ALL structural variants probed (ctf checkpoint, norm window
    // folds, eager fit-state literals, chunk checkpoint) — the
    // checkpoint is kept for the corpus-pass count (3→1 tokenize+
    // aggregate passes), which is what scales, not for the local floor.
    // LAZY checkpoint (round 20): the eager form ran the whole
    // tokenize+aggregate DAG as a standalone job at CONSTRUCTION time,
    // serializing a ~1.2 s barrier (BENCH_DETAIL r19 stage trace)
    // before the lexical leg of a fused chain could schedule at all;
    // lazy materializes inside the first consumer's job — same
    // single-tokenize guarantee, one fewer serial barrier
    val ctf = Mat.point(Embedding.tfBuckets(docs, dim, idCol, textCol)
      .withColumnRenamed("doc_id", "_cid"), "tfidf.ctf")
    // tf rows are distinct (doc, bucket) ⇒ the count IS document freq
    val idf = broadcast(ctf.groupBy(col("bucket")).agg(count(lit(1)).as("df"))
      .crossJoin(nDocs)
      .select(col("bucket"),
        round(log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6).as("idf")))
    // Norms ride along as window sums instead of separate aggregate
    // branches joined back: the old qnorm/cnorm frames each rebuilt
    // per-key sums (plus a broadcast/join) the scoring path already had
    // in hand — two fewer aggregate branches and joins, the same single
    // by-key exchange. A windowed long sum is the same exact order-free
    // arithmetic; `first()` recovers the per-key constant after the dot
    // aggregate. (Local wall-clock: within the sf0.1 stage-count noise
    // floor — see the ctf note above.)
    val cw = ctf.join(idf, "bucket")
      .select(col("_cid"), col("bucket"),
        round(col("tf") * col("idf") * 1e3, 0).cast("long").as("cw3"))
      .withColumn("cn", sum(col("cw3") * col("cw3"))
        .over(Window.partitionBy(col("_cid"))))
    val qw = broadcast(Embedding.tfBuckets(questions, dim, "question_id", "question")
      .withColumnRenamed("doc_id", "question_id")
      .join(idf, Seq("bucket"), "left")
      .crossJoin(broadcast(nDocs))
      .select(col("question_id"), col("bucket"),
        round(col("tf") * coalesce(col("idf"),
          round(log((col("n_docs") + 1).cast("double")), 6)) * 1e3, 0)
          .cast("long").as("qw3"))
      .withColumn("qn", sum(col("qw3") * col("qw3"))
        .over(Window.partitionBy(col("question_id")))))
    val scored = qw.join(cw, "bucket")
      .groupBy(col("question_id"), col("_cid"))
      .agg(sum(col("qw3") * col("cw3")).as("dot"),
        first(col("qn")).as("qn"), first(col("cn")).as("cn"))
      .withColumn("score", round(col("dot") / (sqrt(col("qn")) * sqrt(col("cn"))), 4))
    val w = Window.partitionBy(col("question_id")).orderBy(col("score").desc, col("_cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("question_id"), col("_cid").as(idCol), col("score"), col("rank"))
  }

  /** Reciprocal-rank fusion of two per-question rankings — the standard
    * hybrid-retrieval combiner (Cormack et al.'s RRF; what production
    * search stacks use to merge BM25 with vector ranks without score
    * calibration): rrf(d) = Σ_lists 1/(c + rank_d), documents absent
    * from a list contribute 0. Both inputs follow the retrieval-family
    * contract (`qidCol`, `idCol`, `rank`). Rank-only fusion sidesteps
    * cross-engine float-score comparability entirely; the two reciprocal
    * terms are summed in fixed expression order (no aggregation), so the
    * fused score is bit-stable. Shape: one full-outer equi-join of two
    * already-k-bounded lists (O(k·|questions|) rows — trivially small at
    * any corpus scale) + the usual WindowGroupLimit re-rank. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60,
              qidCol: String = "question_id", idCol: String = "doc_id"): DataFrame = {
    val ra = a.select(col(qidCol), col(idCol), col("rank").as("rank_a"))
    val rb = b.select(col(qidCol), col(idCol), col("rank").as("rank_b"))
    val fused = ra.join(rb, Seq(qidCol, idCol), "full_outer")
      .withColumn("rrf6", round(
        coalesce(lit(1.0) / (lit(c) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank_b")), lit(0.0)), 6))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("rrf6").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol),
        coalesce(col("rank_a"), lit(0)).as("rank_a"),
        coalesce(col("rank_b"), lit(0)).as("rank_b"),
        col("rrf6"), col("rank"))
  }

  /** Graded ranking-quality metrics — the IR evaluation face next to
    * [[Similarity.recallAudit]]: per query, hits@k, the first relevant
    * rank, MRR, DCG and nDCG@k against a binary relevance table. The
    * numbers a retrieval deployment is tuned by (MRR for single-answer
    * QA, nDCG when position matters).
    *
    * Cross-engine discipline: MRR is `1_000_000 div first_rank` (exact
    * integer). Per-rank DCG gain is `round(1e6 / round(ln(r+1)/ln 2,
    * 6))` — the explicit ln-quotient so both engines run the same IEEE
    * ops — summed as longs (order-free); nDCG is the unrounded
    * long/long quotient. IDCG places the query's relevant items at
    * ranks 1..min(n_rel, k) via a generator, so no driver state.
    * Shape: ranked lists are k-bounded, the relevance join is an
    * equi-join, and every aggregate is per-query — trivially small at
    * any corpus scale. */
  def rankingQuality(ranked: DataFrame, relevant: DataFrame, k: Int,
                     qidCol: String = "q_vec_id", idCol: String = "vec_id"): DataFrame = {
    def gain6(rank: Column): Column =
      round(lit(1e6) / round(log(2.0, rank.cast("double") + 1), 6), 0).cast("long")
    val rel = relevant.select(col(qidCol), col(idCol), lit(1).as("_rel"))
    // the @k contract is enforced HERE, not by caller convention: a
    // ranked list longer than k would otherwise silently mislabel
    // hits_at_k/dcg6 (and diverge from the oracle, which filters
    // rank <= k explicitly)
    val hits = ranked.filter(col("rank") <= k).join(rel, Seq(qidCol, idCol), "left")
      .groupBy(col(qidCol))
      .agg(sum(coalesce(col("_rel"), lit(0))).as("hits_at_k"),
        min(when(col("_rel") === 1, col("rank"))).as("first_rel_rank"),
        sum(when(col("_rel") === 1, gain6(col("rank"))).otherwise(lit(0L))).as("dcg6"))
    val idcg = rel.groupBy(col(qidCol)).agg(count(lit(1)).as("_n_rel"))
      .select(col(qidCol),
        explode(sequence(lit(1), least(col("_n_rel"), lit(k)).cast("int"))).as("_r"))
      .groupBy(col(qidCol)).agg(sum(gain6(col("_r"))).as("idcg6"))
    hits.join(idcg, Seq(qidCol), "left")
      .select(col(qidCol), col("hits_at_k"),
        coalesce(col("first_rel_rank"), lit(0)).as("first_rel_rank"),
        when(col("first_rel_rank").isNotNull,
          lit(1000000L) / col("first_rel_rank")).otherwise(lit(0L))
          .cast("long").as("mrr6"),
        col("dcg6"),
        coalesce(col("idcg6"), lit(0L)).as("idcg6"),
        when(coalesce(col("idcg6"), lit(0L)) > 0,
          col("dcg6").cast("double") / col("idcg6")).otherwise(lit(0.0)).as("ndcg"))
  }

  /** Q2/A4/P6/S11 — the response assembly (reference `main.py:103-118,
    * 176-186`): per question, the ranked context as a nested JSON array
    * plus a result-count summary line. Doubles stay OUT of the JSON
    * (separate numeric column) — cross-engine float-to-text is the one
    * thing that doesn't hash stably. */
  def answersPayload(ranked: DataFrame, qidCol: String = "question_id",
                     idCol: String = "doc_id"): DataFrame =
    ranked
      .groupBy(col(qidCol))
      .agg(
        count(lit(1)).as("n_results"),
        max(col("score")).as("best_score"),
        to_json(sort_array(collect_list(struct(col("rank"), col(idCol)))))
          .as("context_json"),
        format_string("Found %d relevant sections", count(lit(1))).as("summary"))

  /** Q3 — vector→keyword fallback, deterministic form (SURVEY §7.4 #3):
    * the reference falls back on EXCEPTION (`main.py:129-131`); a
    * deterministic engine computes both strategies and prefers vector
    * results per query when any exist. Left-anti join finds the queries
    * the vector path failed; union fills them from the keyword side,
    * tagging `search_method`. Both inputs: (qidCol, idCol, score, rank). */
  def hybridSearch(vector: DataFrame, keyword: DataFrame,
                   qidCol: String = "question_id"): DataFrame = {
    val vq = vector.select(col(qidCol)).distinct()
    val fallback = keyword.join(vq, Seq(qidCol), "left_anti")
    vector.withColumn("search_method", lit("vector"))
      .unionByName(fallback.withColumn("search_method", lit("keyword")))
  }

  /** The reference's 10 golden questions (`src/scripts/main.py:54-65`),
    * the end-to-end smoke fixture (FIXTURES.md §B2). */
  val goldenQuestions: Seq[String] = Seq(
    "What is the grace period for premium payment under the National Parivar Mediclaim Plus Policy?",
    "What is the waiting period for pre-existing diseases (PED) to be covered?",
    "Does this policy cover maternity expenses, and what are the conditions?",
    "What is the waiting period for cataract surgery?",
    "Are the medical expenses for an organ donor covered under this policy?",
    "What is the No Claim Discount (NCD) offered in this policy?",
    "Is there a benefit for preventive health check-ups?",
    "How does the policy define a 'Hospital'?",
    "What is the extent of coverage for AYUSH treatments?",
    "Are there any sub-limits on room rent and ICU charges for Plan A?")
}
