package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Approximate similarity search over an embedding column
  * (`ARRAY<FLOAT>`); the exactness baseline is [[Retrieval.knnCosine]]'s
  * brute-force cosine top-k. Here: a sign-LSH-bucketed variant as the
  * scale path (the axis-aligned
  * random-hyperplane family — deterministic, engine-reproducible). An IVF
  * variant (KMeans coarse quantizer) rides on MLlib at the ANN tier.
  *
  * The reference delegates all of this to Pinecone
  * (`pinecone_manager.py:105-138`); here the index is a parquet table and
  * kNN is a query plan (SURVEY.md §2.5/§4.3).
  */
object Similarity {

  /** Sign-LSH bucket id: the concatenated signs of the first `dims`
    * components — hashing by axis-aligned hyperplanes through the origin.
    * Deterministic (no RNG) so any engine computes the same buckets. */
  def signBucket(vec: Column, dims: Int): Column =
    concat_ws("", (0 until dims).map(i =>
      when(element_at(VectorOps.asDouble(vec), i + 1) >= 0, "1").otherwise("0")): _*)

  /** LSH-bucketed approximate top-k: only candidates in the query's
    * bucket(s) are scored. With `dims` hyperplanes the candidate set
    * shrinks ~2^dims-fold; recall loss is the standard LSH tradeoff.
    * `probes` > 1 is MULTI-PROBE LSH — the query additionally probes the
    * buckets at Hamming distance 1 (first `probes-1` bit flips), trading
    * a linear candidate-set increase for recall on near-boundary vectors.
    * Probe buckets are distinct, so each candidate is scored at most
    * once; the probe fan-out lives on the tiny broadcast side only. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int, dims: Int = 4,
              probes: Int = 1,
              qidCol: String = "q_vec_id", qvecCol: String = "q_embedding",
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(probes >= 1 && probes <= dims + 1,
      s"probes must be in [1, dims+1], got $probes for dims=$dims")
    val qb0 = queries.withColumn("_b0", signBucket(col(qvecCol), dims))
    def flipAt(i: Int): Column = concat(
      substring(col("_b0"), 1, i - 1),
      when(substring(col("_b0"), i, 1) === "1", "0").otherwise("1"),
      substring(col("_b0"), i + 1, dims - i))
    val variants = col("_b0") +: (1 to dims).map(flipAt)
    val qb = broadcast(qb0
      // zero-norm queries are unrankable (cosine undefined → NULL
      // scores) — excluded up front, the family-wide contract the
      // BRP/PQ/IVF-SQ8 paths already apply; without it knnAuto would
      // silently change zero-vector semantics when the index size
      // crosses the exact→ANN switch
      .filter(VectorOps.normSq(col(qvecCol)) > 0)
      .withColumn("bucket", explode(array(variants.take(probes): _*)))
      .drop("_b0"))
    val cb = candidates
      .filter(VectorOps.normSq(col(vecCol)) > 0) // unrankable, as above
      .withColumn("bucket", signBucket(col(vecCol), dims))
    val scored = qb.join(cb, "bucket")
      .withColumn("score", round(VectorOps.cosine(col(qvecCol), col(vecCol)), 4))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("score"), col("rank"))
  }

  /** The int8 affine code map shared by [[scalarQuantize]] and
    * [[ivfSq8TopK]] — and replayed verbatim by both DuckDB oracles, so
    * ONE definition keeps operator and replay in lockstep. `lo`/`hi`
    * MUST be plain (ComputeOnce'd) attributes: inlined aggregates
    * re-evaluate per element — the O(d²) trap measured 4× on
    * ivfSq8TopK. */
  private def sq8Codes(vDouble: Column, lo: Column, hi: Column): Column =
    transform(vDouble, x => when(hi === lo, lit(0))
      .otherwise(round((x - lo) / ((hi - lo) / 255.0), 0).cast("int")))

  /** Scalar (int8) quantization of an embedding column — the standard
    * memory lever for a 100 TB vector index (4× smaller than float32, and
    * SIMD-friendly at query time): per-vector affine map of each
    * component to 0..255 with the vector's own (min, max) as the range.
    * Pure per-row arithmetic — scan-parallel, no shuffle; dequantized
    * values land within half a step of the original, which the spec
    * asserts. Constant vectors (max == min) quantize to 0 with scale 0. */
  def scalarQuantize(vecs: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val lo = col("_lo")
    val hi = col("_hi")
    vecs
      .withColumn("_lo", graft.functions.ComputeOnce.once(array_min(col(vecCol)).cast("double")))
      .withColumn("_hi", graft.functions.ComputeOnce.once(array_max(col(vecCol)).cast("double")))
      .select(
        col(idCol),
        round(lo, 6).as("q_min"),
        round((hi - lo) / 255.0, 9).as("q_scale"),
        // JSON-encoded codes: keeps the driver's hash compare on a plain
        // string column (cross-engine array formatting is not hash-stable)
        to_json(sq8Codes(VectorOps.asDouble(col(vecCol)), lo, hi)).as("q_codes"))
  }

  /** The hash-minimal coarse-centroid sample shared by the quantizer
    * family ([[ivfTopK]], [[Dedup.semanticDedup]]): nlist rows to the
    * driver is metadata-sized (KMeans keeps the same centroid state
    * driver-side); hash-order + id tiebreak makes the sample
    * reproducible under any partitioning. ONE definition so every
    * DuckDB replay of the sample stays in lockstep. Cell ids are the
    * row indexes, which the matrix kernels return. */
  private[graft] def coarseCentroids(vecs: DataFrame, n: Int, idCol: String,
                                     vecCol: String): Seq[(Int, Seq[Float])] =
    vecs.select(col(idCol), col(vecCol))
      .orderBy(Sampling.md5Bucket64k(col(idCol)), col(idCol))
      .limit(n)
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1)) }

  /** Map-side argmax-cosine cell assignment against ONE centroid-matrix
    * literal ([[graft.functions.MatrixArg]]) — scan-only, zero shuffle;
    * scores rounded to 6 decimals, ties to the lowest cell. The matrix
    * rides in as a single plan-time object, so generated code is a
    * constant-size call: codegen size is O(1) in nlist where the
    * previous per-centroid expression array grew linearly and would hit
    * Janino limits at the nlist ~10³–10⁵ a 100 TB IVF index needs (see
    * README "Scale design"). Bit-identical scores to the old
    * `array(round(cosineNative(v, c_j), 6))` + `array_position(array_max)`
    * form — [[graft.functions.CosineSimilarity]]'s accumulation order and
    * Spark's HALF_UP round, spec-asserted. Shared by the same callers as
    * [[coarseCentroids]]. */
  private[graft] def assignCells(df: DataFrame, cents: Seq[(Int, Seq[Float])],
                                 vecCol: String): DataFrame =
    df.withColumn("cell", graft.functions.MatrixArg.argmaxCosine(
      VectorOps.asDouble(col(vecCol)), cents.map(_._2.map(_.toDouble)), 6))

  /** A query vector's `nprobe` probe cells as ARRAY<INT>, ranked by the
    * [[graft.functions.MatrixArg]] `topCosine` kernel against the
    * centroid matrix: cosine over the float-cast query rounded to 6
    * decimals, descending, NaN greatest, a null score (a null or
    * wrong-dimension query) last, ties to the lowest cell.
    *
    * The ranking is per query ROW. The window form it replaced ranked
    * per query id; the two agree because every caller passes unique
    * query ids: the `vec_id < 5` query sides of the retrieval queries,
    * and the benchmark's distinct question ids. */
  private[graft] def topCells(qvec: Column, cents: Seq[(Int, Seq[Float])],
                              nprobe: Int): Column =
    graft.functions.MatrixArg.topCosine(VectorOps.asDouble(qvec.cast("array<float>")),
      cents.map(_._2.map(_.toDouble)), 6, nprobe)

  /** The (qid, qvec, cell) probe side of [[probeScore]] for the in-query
    * paths ([[ivfTopK]], [[ivfSq8TopK]]): one row per query and probed
    * cell ([[topCells]]), map-side — no join, no shuffle. */
  private[graft] def probeCells(queries: DataFrame, cents: Seq[(Int, Seq[Float])],
                                nprobe: Int, qidCol: String, qvecCol: String): DataFrame =
    queries.select(col(qidCol), col(qvecCol),
      explode(topCells(col(qvecCol), cents, nprobe)).as("cell"))

  /** The probe-and-score stage shared by [[ivfTopK]] (in-query
    * assignment) and [[graft.io.IvfIndex]] (assignment read back from a
    * cell-partitioned index): equi-join each query's probe cells
    * (`probeCells`, (qid, qvec, cell) rows from [[probeCells]] or the
    * persisted probe's local relation) to the assigned vectors on cell,
    * exact-cosine score, top-k per query. */
  private[graft] def probeScore(probeCells: DataFrame, assigned: DataFrame, k: Int,
                                qidCol: String, qvecCol: String,
                                idCol: String, vecCol: String,
                                // scorer for the within-cell stage: the
                                // float-native kernel by default; IVF-SQ8
                                // passes the double HOF fold because its
                                // reconstructed vectors are doubles and a
                                // float cast would shear them off the
                                // DuckDB replay
                                scoreFn: (Column, Column) => Column =
                                  graft.functions.VectorOps.cosineNative): DataFrame = {
    val scored = broadcast(probeCells).join(assigned, "cell")
      .withColumn("score", round(scoreFn(col(qvecCol), col(vecCol)), 4))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("score"), col("rank"))
  }

  /** IVF (inverted-file) approximate top-k — the classic ANN scale path:
    * `nlist` coarse centroids partition the candidate set; each query
    * probes only its `nprobe` nearest cells. Centroids are a
    * deterministic hash-ordered sample of the candidate vectors (the
    * FAISS "train on a subset" quantizer without the iterative fit — an
    * iterative refinement would run in the OFFLINE index build, which
    * also persists the assignment; queries pay only the probe join).
    * The sample order is the md5 bucket the PQ codebook uses, and cell /
    * probe scores are rounded to 6 decimals before the argmax/rank, so
    * any engine (the DuckDB oracle included) assigns identical cells —
    * which is what lets [[SparkEntry]]'s `ann_recall` replay a genuinely
    * approximate nprobe < nlist run.
    * Cell assignment is a map-side argmax-cosine against the nlist
    * centroid matrix: scan-only, zero shuffle, zero fit jobs. Each
    * query's probe cells come from a map-side top-nprobe kernel over the
    * same matrix ([[probeCells]]), and the probe join is an equi-join on
    * cell id — distributable, no all-pairs scan. Recall/latency tradeoff is nprobe/nlist, exactly
    * as in FAISS-style IVF. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              qidCol: String = "q_vec_id", qvecCol: String = "q_embedding",
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = coarseCentroids(candidates, nlist, idCol, vecCol)
    val assigned = assignCells(candidates, cents, vecCol)
    probeScore(probeCells(queries, cents, nprobe, qidCol, qvecCol), assigned, k,
      qidCol, qvecCol, idCol, vecCol)
  }

  /** IVF-SQ8 — FAISS's standard memory-lever index, composed from two
    * kernels this file already ships: [[ivfTopK]]'s coarse cells
    * partition the candidates, and each STORED vector is scalar-
    * quantized to int8 codes + a per-vector (min, scale) affine header
    * ([[scalarQuantize]]'s map) — a 4× memory cut over float32, the
    * difference between a 100 TB index fitting the cluster or not.
    * Queries stay float and score against the DEQUANTIZED reconstruction
    * `min + code·scale` inside their nprobe probed cells; the stored
    * (min, scale) are rounded (6/9 decimals) so both engines reconstruct
    * bit-identical doubles and the round-4 score ranks identically (the
    * `ivf_sq8_topk` oracle replays codes → reconstruction → cosine).
    * Zero reconstructions (an all-zero vector) are unrankable and
    * dropped — the [[pqAdcTopK]] contract. Shape: quantization and
    * assignment are per-row map-side; the probe join and top-k are
    * exactly [[ivfTopK]]'s; nothing new shuffles. Accuracy: the 255-step
    * grid puts dequantized components within half a step of the
    * original, so scores move at the 4th decimal and recall@k stays at
    * the IVF level (spec asserts self-query top-1 and ≥80% agreement
    * with uncompressed IVF at equal parameters). */
  def ivfSq8TopK(queries: DataFrame, candidates: DataFrame, k: Int,
                 nlist: Int = 16, nprobe: Int = 4,
                 qidCol: String = "q_vec_id", qvecCol: String = "q_embedding",
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = coarseCentroids(candidates, nlist, idCol, vecCol)
    val v = VectorOps.asDouble(col(vecCol))
    // ComputeOnce barriers ([[sq8Codes]]' contract): inlined (lo, hi)
    // re-evaluate array_min/array_max per element — O(d²) per row, the
    // l2Normalize/shinglesFromWords trap. The recon barrier keeps the
    // zero-norm filter from re-running the whole dequantization
    // (pushdown duplicates it Filter+Project). Measured (QBench sf0.1):
    // 3.7-4.0 s warm inlined -> 0.87-0.93 s with the barriers.
    // Codes from the RAW range (scalarQuantize's shared sq8Codes map);
    // the stored header is the ROUNDED (q_min, q_scale) a deployment
    // keeps.
    val once = graft.functions.ComputeOnce.once _
    val coded = assignCells(candidates, cents, vecCol)
      .withColumn("_lo", once(array_min(v)))
      .withColumn("_hi", once(array_max(v)))
      .withColumn("_qmin", round(col("_lo"), 6))
      .withColumn("_qscale", round((col("_hi") - col("_lo")) / 255.0, 9))
      .withColumn("_recon", once(transform(
        sq8Codes(v, col("_lo"), col("_hi")),
        c => col("_qmin") + c.cast("double") * col("_qscale"))))
      .filter(VectorOps.normSq(col("_recon")) > 0)
      .select(col(idCol), col("cell"), col("_recon"))
    probeScore(probeCells(queries, cents, nprobe, qidCol, qvecCol), coded, k,
      qidCol, qvecCol, idCol, "_recon", scoreFn = VectorOps.cosine)
  }

  /** The `k` hash-minimal vectors by id — the engine-reproducible
    * codebook/centroid sample shared by the PQ family (one driver-side
    * TakeOrdered job; callers reuse the result rather than re-sampling). */
  private def hashMinimalCodebook(vecs: DataFrame, k: Int, idCol: String,
                                  vecCol: String): Seq[Seq[Double]] = {
    val cw = vecs
      .select(col(idCol), VectorOps.asDouble(col(vecCol)).as("e"))
      .orderBy(Sampling.md5Bucket64k(col(idCol)), col(idCol))
      .limit(k).collect().map(_.getSeq[Double](1).toSeq).toSeq
    require(cw.size == k, s"codebook needs at least $k vectors, found ${cw.size}")
    cw
  }

  /** Product quantization (the PQ of FAISS's IVF-PQ): split each vector
    * into `m` subvectors and store, per subspace, only the index of the
    * nearest of `k` codewords — a `m·log2(k)`-bit sketch of the vector
    * (here 4×3 bits for a 64-dim float vector, a 170× compression).
    * The codebook is DETERMINISTIC: the `k` hash-minimal vectors by id
    * (the same engine-reproducible sampling [[ivfTopK]] uses — k-means
    * would wander between engines/runs). Codebook state is
    * metadata-sized and driver-held; assignment is a pure per-row
    * projection over broadcast literals — zero shuffle, parallelism =
    * input splits, the property every sketch here shares. Subspace
    * distances are rounded to 6 decimals before the argmin (index
    * tiebreak) so any engine assigns identical codes. */
  def pqCodes(vecs: DataFrame, m: Int = 4, k: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding",
              codebook: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val cw = codebook.getOrElse(hashMinimalCodebook(vecs, k, idCol, vecCol))
    val dim = cw.head.size
    require(dim % m == 0, s"pqCodes: dim $dim not divisible by m=$m")
    val sub = dim / m
    val v = VectorOps.asDouble(col(vecCol))
    // per-subspace argmin against ONE k×sub codeword-matrix literal
    // (MatrixArg): m constant-size kernels instead of m×k expression
    // subtrees — codegen is O(m), not O(m·k), so codebookSize can grow
    // to the k=256 a real PQ uses without blowing past Janino limits.
    // Measured (QBench sf0.1, r8): pq_adc_topk cold 4.6 s → 3.3 s, warm
    // 2.0 s → 0.98 s; distances bit-identical to the old
    // aggregate(zip_with(...)) form (same fold order, same round).
    val codeCols = (0 until m).map { s =>
      graft.functions.MatrixArg.argminSqdist(
        slice(v, s * sub + 1, sub),
        cw.map(_.slice(s * sub, s * sub + sub)), 6).as(s"code_$s")
    }
    vecs.select(col(idCol) +: codeCols: _*)
  }

  /** PQ-ADC top-k: approximate cosine search over the [[pqCodes]] sketch
    * by Asymmetric Distance Computation — the query stays exact, each
    * candidate is its reconstruction (the concatenation of its per-
    * subspace codewords), and the dot product collapses to `m` lookups
    * in a per-query table of query-subvector × codeword dots. The LUT
    * (m·k doubles per query) rides on the broadcast query side; the
    * candidate side touches ONLY the integer codes — this is the read
    * path where PQ's 170× compression pays: at 100 TB the scan reads a
    * few bytes per vector instead of the vector. Exactly FAISS's
    * IndexPQ search, as a query plan. */
  def pqAdcTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                m: Int = 4, codebookSize: Int = 8,
                qidCol: String = "q_vec_id", qvecCol: String = "q_embedding",
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cw = hashMinimalCodebook(candidates, codebookSize, idCol, vecCol)
    val dim = cw.head.size
    require(dim % m == 0, s"pqAdcTopK: dim $dim not divisible by m=$m")
    val sub = dim / m
    val codes = pqCodes(candidates, m, codebookSize, idCol, vecCol, Some(cw))
    val qv = VectorOps.asDouble(col(qvecCol))
    // per-query LUT: lut_s[j] = dot(q_s, cw_j_s), one MatrixArg `dots`
    // scan per subspace against the k×sub codeword matrix (was m×k
    // nested HOF aggregates — the measured codegen-compile hot spot);
    // constant per-codeword reconstruction norms² live in a plain literal
    val lutCols = (0 until m).map { s =>
      graft.functions.MatrixArg.dots(
        slice(qv, s * sub + 1, sub),
        cw.map(_.slice(s * sub, s * sub + sub))).as(s"_lut_$s")
    }
    val cwNormSq: Seq[Seq[Double]] = (0 until m).map { s =>
      (0 until codebookSize).map { j =>
        cw(j).slice(s * sub, s * sub + sub).map(x => x * x).sum
      }
    }
    // zero-norm queries are unrankable (cosine undefined → NULL scores
    // would still get ranked by the id tiebreak) — exclude them, the
    // same contract as brpLshTopK
    val qs = queries
      .filter(VectorOps.normSq(col(qvecCol)) > 0)
      .select(col(qidCol) +: sqrt(VectorOps.normSq(col(qvecCol))).as("_qn") +: lutCols: _*)
    val dotExpr = (0 until m).map(s =>
      element_at(col(s"_lut_$s"), col(s"code_$s") + 1)).reduce(_ + _)
    val reconNormSq = (0 until m).map(s =>
      element_at(typedLit(cwNormSq(s)), col(s"code_$s") + 1)).reduce(_ + _)
    val w = Window.partitionBy(col(qidCol)).orderBy(col("score").desc, col(idCol))
    codes.crossJoin(broadcast(qs))
      // a zero-norm reconstruction (all-zero codewords) is equally
      // unrankable — drop it rather than rank NULL scores
      .filter(reconNormSq > 0)
      .withColumn("score", round(dotExpr / (col("_qn") * sqrt(reconNormSq)), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("score"), col("rank"))
  }

  /** Recall audit of approximate top-k paths against an exact result:
    * one row per method with `hits` (approx ∩ exact pairs), `expected`
    * (|exact|) and `recall_at_k = hits / expected`. The exact frame is
    * k·|queries| rows — metadata-sized next to the corpus — and it is
    * pinned ONCE through the seam (`recall.ex`, lazy default): brute
    * force over the candidate set is the expensive half of the audit,
    * and without materialization every method branch plus the
    * `expected` aggregate re-derives it (N+1 full scans for an N-method
    * audit). Pinned, one brute-force pass feeds every branch's
    * broadcast join — the form that survives index-build scale. Lazy
    * over the old hardcoded eager was measured (MatDrill r22 min-of-4):
    * ann_recall 1.85 s vs 2.05, ann_recall_brp 0.86 s vs 1.34 — the
    * eager head job serialized work the first consumer overlaps. This
    * is the recall@k number an ANN deployment is tuned by
    * (nprobe/nlist, probes/dims, PQ m×k).
    *
    * Schema note (r7): the output column was renamed `recall_at_10` →
    * `recall` (k is whatever the caller's rankings used, so a literal 10
    * in the name was wrong). All in-repo consumers were migrated;
    * external readers of the audit frame must rename on read. */
  def recallAudit(exact: DataFrame, approx: Seq[(String, DataFrame)],
                  qidCol: String = "q_vec_id", idCol: String = "vec_id"): DataFrame = {
    val ex = Mat.point(exact.select(col(qidCol), col(idCol)), "recall.ex")
    val expected = ex.agg(count(lit(1)).as("expected"))
    approx.map { case (m, df) =>
      df.select(col(qidCol), col(idCol))
        .join(broadcast(ex), Seq(qidCol, idCol))
        .agg(count(lit(1)).as("hits"))
        .select(lit(m).as("method"), col("hits"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(expected))
      .select(col("method"), col("hits"), col("expected"),
        // named `recall`, not recall_at_k: k is whatever the caller's
        // rankings used (the spec audits k=5 lists through this too)
        round(col("hits").cast("double") / col("expected"), 4).as("recall"))
  }

  /** One Lloyd iteration of k-means, emitted as SUFFICIENT STATISTICS —
    * per (cell, dimension): member count and the micro-unit component
    * sum. This is the map-reduce form of the k-means update (what every
    * distributed implementation reduces; the new centroid is sum/n on
    * the consumer side), and the offline refinement step behind
    * [[ivfTopK]]/[[pqCodes]]' quantizers. Seeds are the engine-
    * reproducible hash-minimal sample (k-means|| would wander between
    * engines); assignment is argmax cosine against k centroid literals
    * rounded to 6 decimals with first-index tiebreak — scan-only, zero
    * shuffle; the single exchange is the (cell, dim) aggregate of
    * k·dim rows. Integer micro-unit sums are order-free, so any engine
    * reduces to identical statistics. Zero-norm vectors have no cosine
    * cell and are excluded (the [[pqAdcTopK]]/brpLshTopK contract). */
  def kmeansStep(vecs: DataFrame, kCents: Int = 8, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val nz = vecs.filter(VectorOps.normSq(col(vecCol)) > 0)
    val cw = hashMinimalCodebook(nz, kCents, idCol, vecCol)
    kmeansAssignAgg(nz, cw, vecCol)
  }

  /** The Lloyd update body both [[kmeansStep]] and [[kmeansLoop]] run:
    * argmax against ONE k×dim centroid-matrix literal (MatrixArg) — the
    * single-pass kernel subsumes the old ComputeOnce barrier: there is
    * no k-way scoring array for CollapseProject to duplicate, and
    * codegen stays O(1) in kCents. Scores are bit-identical (MatrixArg
    * computes dot/(√nx·√ny) with the same left-to-right folds as the
    * old aggregate(zip_with)/normSq/driver-side cwNorm composition). */
  private def kmeansAssignAgg(nz: DataFrame, cw: Seq[Seq[Double]],
                              vecCol: String): DataFrame = {
    val v = VectorOps.asDouble(col(vecCol))
    nz.withColumn("cell", graft.functions.MatrixArg.argmaxCosine(v, cw, 6))
      .select(col("cell"), posexplode(v).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        sum(round(col("x") * 1e6, 0).cast("long")).as("sum6"))
  }

  /** Lloyd's k-means run to a FIXED round count — the offline quantizer
    * refinement behind [[ivfTopK]]/[[pqCodes]], completed from one
    * sufficient-statistics step to the full iterative fit. Round 1 is
    * exactly [[kmeansStep]] (hash-minimal seeds); each later round
    * derives centroids from the previous round's statistics
    * (`sum6 / (n·10⁶)` — ONE IEEE division of exact integers, so both
    * engines compute identical doubles), keeps the non-empty cells
    * ordered by cell id as the new matrix (row index = the new cell
    * id), and re-runs the same scan→argmax→aggregate body. Fixed
    * rounds — not a convergence test — keep the whole trajectory
    * replayable as generated per-round CTEs in the oracle (the
    * [[graft.operators.Unigram.emLoop]] precedent); a caller wanting
    * early stop wraps the loop and compares successive statistics.
    *
    * Scale shape per round: the centroid matrix is k·dim longs through
    * the driver (the bounded-model-artifact exception), then one scan
    * projection + one (cell, dim) partial-combined aggregate of k·dim
    * output rows — no join, no window, corpus-sized work × rounds. */
  def kmeansLoop(vecs: DataFrame, kCents: Int = 8, rounds: Int = 3,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val nz = vecs.filter(VectorOps.normSq(col(vecCol)) > 0)
    var stats = kmeansStep(vecs, kCents, idCol, vecCol).localCheckpoint()
    for (_ <- 2 to rounds) {
      val rows = stats.select(col("cell"), col("dim"),
          col("n_members"), col("sum6")).collect()
      val cw = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
        rs.sortBy(_.getInt(1))
          .map(r => r.getLong(3) / (r.getLong(2) * 1.0e6)).toSeq
      }
      stats = kmeansAssignAgg(nz, cw, vecCol).localCheckpoint()
    }
    stats
  }

  /** MLlib `BucketedRandomProjectionLSH` top-k — the library ANN path
    * SURVEY §2.5 names for Q1. Vectors are L2-normalized first so
    * Euclidean distance (the only metric BRP-LSH hashes) is monotone in
    * cosine: ‖a−b‖² = 2−2·cos on the unit sphere. `approxSimilarityJoin`
    * prunes to same-bucket pairs (OR-amplified over `numHashTables`),
    * then a per-query rank-limit keeps k. Seeded → run-reproducible, but
    * NOT engine-reproducible (the hyperplanes come from MLlib's RNG), so
    * the driver check is rows-only — the deterministic twins
    * ([[lshTopK]], [[ivfTopK]]) carry the hash-compared oracles.
    * Scale: the join shuffles by (table, bucket) key — candidates never
    * cross-join; skewed buckets are the usual LSH tradeoff, tuned by
    * `bucketLength`/`numHashTables`. */
  def brpLshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                 bucketLength: Double = 1.0, numHashTables: Int = 3,
                 seed: Long = 42L,
                 qidCol: String = "q_vec_id", qvecCol: String = "q_embedding",
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    // zero-norm vectors are unrankable under the unit-sphere mapping (an
    // unnormalized zero would sit at distance 1 from everything → a
    // phantom cosine of 0.5 where brute force scores ~0) — exclude them
    // BEFORE the vector conversion, with a plain column predicate.
    // Normalization stays in codegen (same left-to-right double fold
    // and IEEE division as [[graft.functions.VectorOps.l2Normalize]]),
    // but the division must be TOTAL: MLlib's hash predicate is a
    // deterministic UDF, so the optimizer may evaluate it BELOW the
    // norm filter, and an ANSI divide-by-zero on a row the filter was
    // about to drop would kill the job (the zero branch maps to the
    // zero vector — hashable, never surfaced). Only the ml-Vector
    // conversion is the library's own `array_to_vector`.
    val toVec = (c: Column) => org.apache.spark.ml.functions.array_to_vector({
      val d = graft.functions.VectorOps.asDouble(c)
      aggregate(d, lit(0.0), (acc, x) => acc + x * x,
        s => transform(d, x => when(s > 0.0, x / sqrt(s)).otherwise(0.0)))
    })
    val cand = candidates
      .filter(graft.functions.VectorOps.normSq(col(vecCol)) > 0)
      .select(col(idCol), toVec(col(vecCol)).as("features"))
    val qs = queries
      .filter(graft.functions.VectorOps.normSq(col(qvecCol)) > 0)
      .select(col(qidCol), toVec(col(qvecCol)).as("features"))
    val model = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(seed)
      .fit(cand)
    val w = Window.partitionBy(col(qidCol)).orderBy(col("dist"), col(idCol))
    model.approxSimilarityJoin(qs, cand, 2.1, "dist") // > unit-sphere diameter 2
      .select(col(s"datasetA.$qidCol").as(qidCol), col(s"datasetB.$idCol").as(idCol),
        round(lit(1.0) - col("dist") * col("dist") / 2.0, 4).as("score"),
        col("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("score"), col("rank"))
  }
}
