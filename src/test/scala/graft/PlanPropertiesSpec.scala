package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-regression tests: the properties that make each operator hold at
  * cluster scale, asserted on the optimized physical plan so a future
  * "correct but quadratic" rewrite fails CI, not the 100 TB run.
  * (sf0.001 inputs — plan shape, not data, is under test.)
  */
class PlanPropertiesSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  /** Tree-only plan for node COUNTING (formatted mode prints every node
    * twice — once in the tree, once in the details section). */
  private def planTree(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution
      .explainString(ExplainMode.fromString("simple"))

  test("no accidental cartesian products anywhere") {
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, d).queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — quadratic at scale")
    }
  }

  test("Q1 kNN: filter pushed to scan, partial top-k before the shuffle") {
    val p = plan("knn_filtered")
    assert(p.contains("EqualTo(label,3)"), "metadata filter must reach the parquet scan")
    // two WindowGroupLimit nodes = partial (map-side) + final: only O(k)
    // rows per task cross the exchange
    assert("WindowGroupLimit".r.findAllIn(planTree("knn_filtered")).size >= 2,
      "need partial+final rank limit")
    assert(p.contains("BroadcastNestedLoopJoin"), "tiny query side must broadcast")
  }

  test("Q1 scan prunes to the columns the query needs") {
    val p = plan("knn_cosine")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("label"), "unfiltered kNN must not read the label column")
  }

  test("TPC-H Q1: two-phase aggregate with pushed date filter") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      "shipdate predicate must reach the scan")
    assert("HashAggregate".r.findAllIn(planTree("q01_pricing_summary")).size >= 2,
      "need partial+final aggregation")
  }

  test("Q5 join chain broadcasts every dimension, streams the fact table") {
    val p = plan("q05_local_supplier")
    assert("BroadcastHashJoin".r.findAllIn(planTree("q05_local_supplier")).size >= 5)
    assert(!p.contains("SortMergeJoin"), "no dimension is big enough to shuffle for")
  }

  test("keyword scoring has no pre-ranking aggregation shuffle") {
    val p = plan("keyword_search")
    assert(!p.contains("HashAggregate"),
      "scoring must be a projection; an aggregate means the match table shuffles")
    assert("WindowGroupLimit".r.findAllIn(planTree("keyword_search")).size >= 2)
  }

  test("as-of join is a window plan, not a join") {
    val p = plan("asof_join")
    assert(!p.contains("Join"), "as-of must not plan a range join (skew-fragile)")
    assert(p.contains("Window"), "expected the running last_value window")
  }

  test("range join keeps the equi key, band as post-filter") {
    val p = plan("range_join")
    // any equi-join strategy is fine (AQE broadcasts the small side at
    // test scale; a cluster-size side sort-merges) — what must NOT
    // happen is a nested-loop over the band condition alone
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "user_id equi key lost — band-only join is quadratic per key")
  }

  test("exact dedup: partial-combined keeper aggregate, no fp window") {
    val p = planTree("dedup_exact")
    // round 20: the keeper is groupBy(fp).agg(min) + an fp equi-join —
    // two fp exchanges statically (the aggregate's and the probe
    // side's; the agg output reuses its own partitioning), which AQE
    // demotes to one + a broadcast at small scale. The property that
    // matters is the NEGATIVE one: no Window node — a window cannot
    // map-side combine, so a hot boilerplate fingerprint would
    // serialize the corpus through one task
    assert("Exchange".r.findAllIn(p).size <= 2,
      "keeper aggregate + probe-side hash partition on fp is enough")
    assert(!p.contains("Window"), "the fp rank window is the skew wall")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "the keeper must be a partial-combinable aggregate")
  }

  test("frame sampling is a pure generator — no shuffle at all") {
    val p = plan("mm_frame_sample")
    assert(!p.contains("Exchange"))
    assert(p.contains("Generate"))
  }

  test("duplicated spans: bounded shuffles, broadcast flag-back, per-doc span window") {
    val p = planTree("dup_spans")
    // fp aggregate + window exchanges only; the dup-gram flag-back is a
    // broadcast equi-join (the dup set is aggregate-reduced), never a
    // sort-merge of the full positions table against itself
    assert("(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(p).size <= 3,
      s"unexpected shuffle count:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("Window"))
  }

  test("video frame decode is a pure generator — no shuffle at all") {
    assert(!planTree("mm_video_frames").contains("Exchange"))
  }

  test("C4 sentence repacking is per-row — no groupByKey shuffle") {
    assert(!planTree("c4_split_large").contains("Exchange"),
      "packing folds over ONE chunk's sentences; a shuffle means it regressed to grouped form")
  }

  test("section chunking is a pure generator — no shuffle at all") {
    val p = plan("c1_sections")
    assert(!p.contains("Exchange"),
      "sections must not shuffle: header spans are per-row array ops")
    assert(p.contains("Generate"))
  }

  test("train/test split is scan-only: no shuffle, no aggregate") {
    val p = planTree("split_train_test")
    assert(!p.contains("Exchange") && !p.contains("HashAggregate"),
      "hash-threshold selection must stay map-side")
  }

  test("quantile bucketing broadcasts cutoffs instead of sorting globally") {
    val p = planTree("len_deciles")
    assert(!p.contains("Window"), "no ntile: a global window would run in one task")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "cutoff row must broadcast")
  }

  test("near-dup cosine kernel is evaluated once, not re-pushed into the filter") {
    val p = planTree("embed_near_dups")
    assert("CosineSimilarity\\.cosine\\(".r.findAllIn(p).size === 1,
      "threshold pushdown must not duplicate the scoring kernel")
  }

  test("bm25 joins are all equi-joins; question side broadcast") {
    val p = planTree("bm25_search")
    assert(!p.contains("CartesianProduct"))
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "per-question top-k must prune before the shuffle")
  }

  test("bm25 has no full-vocabulary aggregate: every groupBy sits above the query-vocab prune") {
    // the r4 rewrite derives dl scan-only and prunes tokens to the query
    // vocabulary BEFORE any (id, term) aggregate — today an IN-list
    // filter on term over the exploded tokens; a regression to
    // aggregate-then-prune shows up as a HashAggregate whose input
    // subtree lacks that filter
    val p = SparkEntry.queries("bm25_search")(spark, d).queryExecution.executedPlan match {
      // AQE root doesn't expose the plan as children — unwrap it
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    def subtreeHasVocabPrune(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n.collect { case f: org.apache.spark.sql.execution.FilterExec => f.condition }.exists(
        _.exists {
          case org.apache.spark.sql.catalyst.expressions.InSet(a, _) => a.references.exists(_.name == "term")
          case org.apache.spark.sql.catalyst.expressions.In(a, _) => a.references.exists(_.name == "term")
          case _ => false
        })
    def readsCorpus(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.nonEmpty
    val byTermAggs = p.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if h.groupingExpressions.exists(_.toString.contains("term")) && readsCorpus(h) => h
    }
    assert(byTermAggs.nonEmpty, "expected corpus-fed term-keyed aggregates in the bm25 plan")
    byTermAggs.foreach { agg =>
      assert(subtreeHasVocabPrune(agg),
        "a term-keyed aggregate runs over unpruned corpus tokens — " +
          "the full-vocabulary exchange the rewrite removed is back")
    }
  }

  test("decontamination never exchanges the corpus before the benchmark join") {
    val p = planTree("decontam_report")
    assert(p.contains("BroadcastHashJoin"), "benchmark n-gram index must broadcast")
    // exchanges allowed: hit-count aggregates + the final left join back;
    // the corpus-side token stream itself must reach the join unshuffled
    assert(!p.contains("CartesianProduct"))
  }

  test("weighted sample is a distributed top-n, never a global sort") {
    val p = planTree("weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "orderBy+limit must plan the per-partition-heap top-n")
    assert(!p.contains("Exchange rangepartitioning"),
      "a range-partitioned sort means the whole corpus is being ordered")
  }

  test("bloom probe broadcasts the filter table, never shuffles the corpus to it") {
    val p = planTree("bloom_decontam")
    assert(p.contains("BroadcastHashJoin"),
      "the <= m/64-row filter table must ride broadcast")
  }

  test("k-means assignment is scan-only: the single exchange is the statistics aggregate") {
    val p = planTree("kmeans_step")
    assert(!p.contains("Join"),
      "centroids are literals — any join means the codebook got planned as a table")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "need partial+final statistics aggregation")
  }

  test("knnAuto switches plans on the Catalyst size statistic") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val e = graft.io.Tables.embeddings(spark, d)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val idx = e.filter(col("vec_id") >= 5)
    def planOf(threshold: Long) = graft.operators.Retrieval
      .knnAuto(qs, idx, k = 10, annThresholdBytes = threshold)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    // big threshold → exact path: broadcast-cross scoring of every candidate
    assert(planOf(Long.MaxValue).contains("BroadcastNestedLoopJoin"))
    // zero threshold → ANN path: equi-join on LSH buckets, no cross scan
    val ann = planOf(0L)
    assert(!ann.contains("BroadcastNestedLoopJoin") && !ann.contains("CartesianProduct"))
    assert(ann.contains("bucket"), "ANN path must join on the sign-LSH bucket key")
    // exact path below the threshold must equal knnCosine row-for-row
    val auto = graft.operators.Retrieval.knnAuto(qs, idx, k = 10).collect().toSet
    val exact = graft.operators.Retrieval.knnCosine(qs, idx, k = 10).collect().toSet
    assert(auto == exact)
  }

  test("knnAuto prefers rowCount: a CBO-estimated selective filter flips the switch to exact") {
    import org.apache.spark.sql.functions.col
    // A catalog table carries ANALYZE'd rowCount + column stats; with CBO
    // on, FilterEstimation shrinks rowCount through the attribute filter —
    // the case the size-only visitor can't see (r5 watch item).
    val e = graft.io.Tables.embeddings(spark, d)
    spark.sql("DROP TABLE IF EXISTS knnauto_idx")
    e.write.mode("overwrite").saveAsTable("knnauto_idx")
    spark.sql("ANALYZE TABLE knnauto_idx COMPUTE STATISTICS FOR COLUMNS label")
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val idx = spark.table("knnauto_idx")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
      val full = idx.queryExecution.optimizedPlan.stats
      assert(full.rowCount.isDefined, "ANALYZE must yield a catalog rowCount")
      val rowWidth = 8L + idx.queryExecution.optimizedPlan.output
        .map(_.dataType.defaultSize.toLong).sum
      // same estimate the switch computes: max(rowCount·width, sizeInBytes);
      // threshold halfway — the ~1/10 filtered estimate lands below it
      val threshold =
        (BigInt(full.rowCount.get.toLong * rowWidth).max(full.sizeInBytes) / 2).toLong
      def planOf(filter: org.apache.spark.sql.Column) = graft.operators.Retrieval
        .knnAuto(qs, idx, k = 10, annThresholdBytes = threshold, indexFilter = filter)
        .queryExecution.explainString(ExplainMode.fromString("simple"))
      // label = 3 selects ~1/10 of rows → estimate below threshold → exact scan
      assert(planOf(col("label") === 3).contains("BroadcastNestedLoopJoin"),
        "selective filter under CBO must plan the exact broadcast-cross scan")
      // unfiltered index sits above the threshold → ANN bucket join
      val ann = planOf(org.apache.spark.sql.functions.lit(true))
      assert(!ann.contains("BroadcastNestedLoopJoin") && ann.contains("bucket"),
        "full index above threshold must plan the sign-LSH path")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.sql("DROP TABLE IF EXISTS knnauto_idx")
    }
  }

  test("knnAuto without CBO: partition pruning flips a selective filter to exact") {
    import org.apache.spark.sql.functions.{col, lit}
    // No catalog, no ANALYZE, CBO off (the session default here): the
    // size-only visitor passes sizeInBytes through filters unchanged and
    // supplies no rowCount — the switch must instead read the
    // partition-pruned file listing (prunedParquetEstimate).
    assert(spark.conf.get("spark.sql.cbo.enabled") == "false",
      "this spec exercises the no-CBO fallback")
    val dir = java.nio.file.Files.createTempDirectory("knnauto_part").toString
    try {
      val e = graft.io.Tables.embeddings(spark, d)
      e.write.mode("overwrite").partitionBy("label").parquet(dir)
      val idx = spark.read.parquet(dir)
      assert(idx.filter(col("label") === 3).queryExecution
        .optimizedPlan.stats.rowCount.isEmpty,
        "precondition: the logical plan must carry no rowCount")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
      // threshold between one partition's bytes and the whole table's:
      // half the full listing (labels are ~uniform over 10 values)
      val fs = new java.io.File(dir)
      def bytesUnder(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
      val threshold = bytesUnder(fs) / 2
      def planOf(filter: org.apache.spark.sql.Column) = graft.operators.Retrieval
        .knnAuto(qs, idx, k = 10, annThresholdBytes = threshold, indexFilter = filter)
        .queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(planOf(col("label") === 3).contains("BroadcastNestedLoopJoin"),
        "partition filter must prune the listing below threshold → exact scan")
      val ann = planOf(lit(true))
      assert(!ann.contains("BroadcastNestedLoopJoin") && ann.contains("bucket"),
        "full index above threshold must still plan the sign-LSH path")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("semantic dedup: centroid assignment is map-side literals; pairing is a cell equi-join") {
    val p = planTree("semantic_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "within-cell pairing must join on the cell key, never scan all pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected the cell-keyed candidate equi-join")
  }

  test("bigram LM generates bigrams per row and partial-aggregates counts") {
    val p = planTree("lm_bigram")
    assert(p.contains("Generate"), "bigrams must come from a per-row generator")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "bigram counting needs map-side partial aggregation")
    assert(!p.contains("CartesianProduct"))
  }

  test("simhash pairing joins on band buckets — an equi-join, not a similarity scan") {
    val p = planTree("simhash_pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "band-bucket candidate join must be an equi-join")
  }

  test("corpus delta hashes below the shuffle — bodies never cross the exchange") {
    val p = planTree("corpus_delta")
    assert(p.contains("FullOuter"), "snapshot diff must be a full-outer join")
    val exchange = p.indexOf("Exchange hashpartitioning(id")
    val hash = p.indexOf("md5")
    assert(exchange >= 0 && hash > exchange,
      "md5 must be projected BELOW the exchange (children print after parents): " +
        "shuffling document bodies to hash them post-join is the 100 TB killer")
  }

  test("BPE token counting broadcasts the trained vocab and partial-aggregates") {
    val p = planTree("bpe_tokens")
    assert(p.contains("BroadcastHashJoin"),
      "the trained tokenizer is the small side — it must broadcast")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-doc token totals need map-side partial aggregation")
  }

  test("BPE pair counting: per-row generator, partial agg, top-k without full sort") {
    val p = planTree("bpe_pairs")
    assert(p.contains("Generate"), "pairs must come from a per-row generator")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "word-freq and pair-count aggregations each need a partial phase")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be a bounded take, not a global sort")
  }

  test("z-value projection is shuffle-free — pure codegen over the scan") {
    val p = planTree("zorder_layout")
    assert(!p.contains("Exchange"), "bit interleave must not cost a shuffle")
  }

  test("global_index never plans a single-partition exchange") {
    val p = planTree("global_index")
    assert(!p.contains("SinglePartition"),
      "a global ORDER BY window would funnel 100 TB through one reducer")
    assert(!p.contains("Window"),
      "the ordinal must come from the id projection, not a window")
  }

  test("subword encode runs vocab-compressed: generator over the vocab agg") {
    val p = planTree("subword_encode")
    assert(p.contains("Generate"), "piece explode must be a per-row generator")
    // the word-vocab agg lives in the trainer's checkpointed jobs; the
    // encode plan itself carries the piece-count partial + final pair
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "piece-count aggregation needs a map-side partial phase")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the inventory is a literal — no join may appear")
  }

  test("unigram Viterbi DP is a pure projection over the checkpointed vocab") {
    val p = planTree("unigram_viterbi")
    assert(!p.contains("Join"), "the seed inventory is a literal map — no join")
    assert(!p.contains("Exchange"), "the per-word DP must not shuffle")
  }

  test("unigram EM M-step: generator + one count shuffle, no join") {
    val p = planTree("unigram_em")
    assert(!p.contains("Join"), "the model rides along as a literal — no join")
    assert(p.contains("Generate"), "piece explode must be a per-row generator")
    assert("(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(p).size === 1,
      "exactly the expected-count aggregation may shuffle")
  }
}
