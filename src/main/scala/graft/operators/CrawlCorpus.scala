package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** THE CRAWL→CORPUS FLAGSHIP (curation_e2e's crawl-side sibling):
  * discovery → RefinedWeb URL filtering → politeness → real HTTP
  * fetch → format-routed extraction (HTML + markdown) → Unicode NFC →
  * CCNet host-line boilerplate removal → the full 8-family corpus
  * verdict → banded near-dup → span-level decontamination → final
  * corpus membership, end to end over the loopback mini-site
  * ([[UrlIngest.crawlSiteBase]]). Every stage is the production
  * operator, not a demo stub: links resolve (RFC 3986 §5) and
  * canonicalize (the ?utm_source twin collapses), the robots-denied
  * /private/ link never reaches the wire, the blocklisted tracker
  * link dies BEFORE the frontier (filter before you fetch), the
  * frontier budgets/spaces the host, the site-wide footer line is
  * stripped host-statistically before any fingerprint,
  * [[Cleaning.cleanCorpus]] runs ALL families including the gopher/C4
  * fold, SimHash banding catches the one-word-changed near-duplicate
  * exact dedup cannot see, and the benchmark-contaminated page ships
  * CLIPPED (leaked span removed) instead of dropped.
  *
  * Factored out of the `crawl_corpus_e2e` registry entry so the chain
  * is (a) a reusable pipeline a caller can run over their own seeds
  * and (b) drillable per stage (the `crawl_corpus` drill leg of
  * `graft.Tool` times each boundary). Stage boundaries mirror where
  * a production deployment persists: discovered URLs, the extracted
  * page staging table, the verdict table.
  *
  * Reference behavior covered: ingestion_service.py's fetch→validate→
  * chunk chain generalized to the crawl setting (see SURVEY §2.1);
  * verdict semantics hand-derived in the oracle
  * (`EntryDocs.oracleSql("crawl_corpus_e2e")`).
  */
object CrawlCorpus {

  /** Robots rules for the mini-site: the site's robots.txt plus its
    * published Sitemap: directive (the group-independent channel) —
    * BOTH production discovery channels run: hub-page links AND the
    * sitemap tree (article6 is reachable only through the latter). */
  def siteRules(base: String): UrlOps.RobotsRules =
    UrlOps.parseRobots(
      s"Sitemap: $base/site-sitemap.xml\n" + DocFixtures.robotsTxt, "graftbot")

  /** The URL-quality blocklist the flagship's RefinedWeb stage
    * consumes (the hub's tracker link resolves into this domain and
    * must die BEFORE the frontier — filter before you fetch). */
  def blocklist(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("spamads.com").toDF("domain")
  }

  /** Discovery: seed-page links ∪ sitemap tree, through ONE
    * canonicalize → fetchable → robots → URL-quality chain (article5
    * arrives via both channels and must collapse; the tracker link is
    * dropped by [[UrlOps.urlFilter]] at list price — RefinedWeb's
    * "filter before you fetch", the cheapest filter a crawl runs).
    * Returns frontier-ready (url, priority_micro). */
  def discover(spark: SparkSession, seeds: DataFrame,
               rules: UrlOps.RobotsRules,
               blocked: DataFrame = null): DataFrame = {
    val seedPages = UrlIngest.fetchBytes(seeds, backoffMs = 1)
      .filter(col("content").isNotNull)
      .select(col("url").as("page_url"), Html.parseHtmlUdf(col("content")).as("p"))
    val linkUrls = seedPages
      .select(col("page_url"), explode(col("p.links")).as("l"))
      // politeness at discovery: a rel=nofollow link never seeds the
      // frontier (the mini-site has none; the directives fixture pins it)
      .filter(!col("l.nofollow"))
      .select(UrlOps.resolveUrl(col("page_url"), col("l.href")).as("url"))
    import spark.implicits._
    val sitemapUrls = UrlOps.sitemapTree(rules.sitemaps.toDF("url"), backoffMs = 1)
      .select(col("loc").as("url"))
    linkUrls.unionByName(sitemapUrls)
      .select(UrlOps.canonicalizeUrl(col("url")).as("url"))
      .filter(UrlOps.isFetchable(col("url")))
      .distinct()
      .withColumn("path",
        regexp_extract(col("url"), "^[^:/?#]+://[^/?#]+([^?#]*)", 1))
      .filter(UrlOps.robotsAllowed(rules)(col("path")))
      .transform(d =>
        if (blocked == null) d
        else UrlOps.urlFilter(d.select("url"), blocked).filter(col("keep")))
      .select(col("url"), lit(0L).as("priority_micro"))
  }

  /** Politeness schedule over the discovered set. */
  def schedule(discovered: DataFrame, rules: UrlOps.RobotsRules): DataFrame =
    UrlOps.crawlFrontier(discovered, hostBudget = 10,
      crawlDelaySec = rules.crawlDelaySec.getOrElse(1))

  /** Fetch seed + scheduled pages ('/': the hub's Home link 404s after
    * 3 real retries and contributes nothing) and extract one row per
    * PAGE: title + blocks joined in document order.
    *
    * MATERIALIZED (the curation_e2e precedent, and then some): the
    * verdict chain consumes this frame ~7 times (dedup, lang+web
    * filters, repetition, LM train + score, decontam) and the SimHash
    * band join twice more — unmaterialized, EVERY consumer re-runs the
    * fetch+parse+window subtree, re-GETting the pages over HTTP per
    * evaluation (measured 30 s vs ~5 s checkpointed). At scale this is
    * the pipeline's natural persist point anyway: the extracted corpus
    * lands in a staging table before curation.
    *
    * `doc_id` defaults to the url hash (`xxhash64(idKey)`) — the
    * production corpus key: content-free, collision-negligible at
    * archive scale, and assigned per-row with ZERO shuffle. The
    * ordinal alternative (`ordinalIds = true`) is a FIXTURE-ONLY
    * convenience — dense 1..n ids via a GLOBAL window, i.e. a
    * single-partition sort that must never see a real corpus. All
    * downstream keeper choices (exact-dup rank, near-dup keeper) are
    * "smallest id in the group" — under the hash key that reads
    * "canonical representative = smallest-hash member": arbitrary but
    * deterministic, the production dedup convention. */
  def fetchExtract(seeds: DataFrame, frontier: DataFrame,
                   idKey: String = "doc",
                   ordinalIds: Boolean = false): DataFrame = {
    // RE-FETCH CONTRACT (r22, restoring the r21-cbc0167 decision that
    // 8bdf788 silently weakened): the HTTP byte frame is pinned EAGER —
    // one head job performs every GET exactly once before any consumer
    // schedules. Lazy materialization has no compute-once guarantee
    // under concurrent first readers (extract routing vs directive
    // parse), so each racing job could re-run the fetch subtree and
    // re-GET the pages — a politeness/cost bug at crawl scale, not just
    // a perf loss. Default `eager` here is a contract, not a tuning; a
    // cluster run overrides to `reliable:<dir>` (still fetch-once, plus
    // fault tolerance), never to `lazy`/`none`.
    val fetched = Mat.point(UrlIngest.fetchBytes(
        seeds.unionByName(frontier.select("url")).distinct(), backoffMs = 1)
      .filter(col("content").isNotNull), "crawl.bytes", default = "eager")
    // extractor ROUTING on extension: crawled corpora are not one
    // format — markdown pages go through the markdown block parser,
    // everything else through the HTML extractor (the S7 strategy
    // rule applied at the crawl tier)
    val isMd = col("url").endsWith(".md")
    // page-level robots: <meta name=robots> noindex — quality can keep
    // a page, the directive still excludes it from corpus membership
    // (markdown has no directive channel: noindex = false). noindex
    // rides the SAME full parse as the blocks (r22, guide §2.4): the
    // old shape ran a blocks-only parse AND a separate htmlDirectives
    // full parse joined back — two HTML parses of every page and a
    // join, for fields one parse already carries. (Directive fields
    // are wantLinks-gated, so this must be the FULL parse — the light
    // blocks parse returns metaRobots empty.)
    val htmlPages = fetched.filter(!isMd)
      .select(col("url").as("doc"), Html.parseHtmlUdf(col("content")).as("p"))
      .select(col("doc"), col("p.title").as("title"),
        coalesce(array_contains(col("p.metaRobots"), "noindex") ||
          array_contains(col("p.metaRobots"), "none"), lit(false)).as("_noidx"),
        explode(col("p.blocks")).as("b"))
      .groupBy(col("doc"))
      .agg(max(col("title")).as("title"),
        array_join(transform(
          array_sort(collect_list(struct(col("b.block_idx").as("block_idx"),
            col("b.content").as("content")))),
          b => b.getField("content")), "\n").as("text"),
        max(col("_noidx")).as("noindex"))
    val mdPages = Markdown.markdownBlocks(
        fetched.filter(isMd).select(col("url").as("doc"),
          decode(col("content"), "UTF-8").as("text")))
      .groupBy(col("doc"))
      .agg(
        // title = the first heading (the <title> analog); body = every
        // block in document order, heading lines included (the C1/C4
        // line rules treat them exactly like HTML heading blocks)
        coalesce(element_at(transform(
          array_sort(collect_list(when(col("kind") === "heading",
            struct(col("block_idx"), col("content"))))),
          b => b.getField("content")), 1), lit("")).as("title"),
        array_join(transform(
          array_sort(collect_list(struct(col("block_idx"), col("content")))),
          b => b.getField("content")), "\n").as("text"))
      .withColumn("noindex", lit(false))
    val pages = htmlPages.unionByName(mdPages)
      // encoding repair THEN Unicode NFC, before ANY fingerprinting/
      // shingling: article5's upstream-corrupted CafÃ© repairs to Café
      // (the strict-decode guard leaves every legitimately-accented
      // page byte-identical — the readme's decomposed é makes it
      // un-unmixable, exactly the conservative contract), and composed
      // vs decomposed spellings collapse to one dedup key
      .withColumn("text",
        TextAnalysis.normalizeText(TextAnalysis.fixMojibake(col("text"))))
      .withColumn("host", UrlOps.urlHost(col("doc")))
      .withColumn("path", regexp_replace(col("doc"), "^http://[^/]+", ""))
      .withColumn("doc_id",
        if (ordinalIds)
          // fixture-only: dense 1..n ids through a GLOBAL window — a
          // single-partition sort, never for a real corpus
          row_number().over(Window.orderBy(col("path"))).cast("long")
        else xxhash64(col(idKey)))
      // materialize BEFORE the host-line stage: hostLineDedup reads
      // this frame three times (line explode, host counts, re-anchor)
      // and the outer join a fourth — unmaterialized, each consumer
      // re-runs the parse→group→NFC subtree from the byte checkpoint
      .transform(Mat.point(_, "crawl.pages"))
    // CCNet host-level boilerplate-line removal: the cross-page class
    // the per-page extractor cannot see (the site-wide footer line
    // survives link-density pruning on every page; what gives it away
    // is appearing on most of its HOST's pages) — stripped BEFORE the
    // verdict, exact-dup fingerprints, and SimHash banding, so the
    // dedup tier keys on content, not chrome
    val cleaned = Cleaning.hostLineDedup(pages)
      .select(col("doc_id"), col("clean_text"),
        col("n_removed").as("n_boiler_lines"))
    Mat.point(pages.drop("text")
      .join(cleaned, Seq("doc_id"))
      .withColumnRenamed("clean_text", "text"), "crawl.corpus")
  }

  /** The benchmark table the decontamination families probe — ONE
    * source for the verdict's n-gram report and the span clipper. */
  def benchTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, "the secret benchmark answer key")).toDF("bench_id", "text")
  }

  /** The full composed verdict; surprisal band parked at 9.0 — a
    * seven-page corpus LM has ln(total)≈5.5 as its ceiling, so the
    * family participates without firing (its thresholds are proven on
    * the big corpus in clean_corpus). */
  def verdict(spark: SparkSession, pages: DataFrame): DataFrame =
    Cleaning.cleanCorpus(pages.select("doc_id", "text"), benchTable(spark),
      maxSurprisal = 9.0)

  /** Span-level decontamination (Lee et al. / GPT-3 App. C: clip the
    * WINDOW, keep the document) — the surgical counterpart to the
    * verdict's whole-doc `contaminated` reason: a page whose ONLY
    * failing family is contamination ships with the leaked span
    * removed instead of being dropped ([[corpus]] consumes both). */
  def clip(spark: SparkSession, pages: DataFrame): DataFrame =
    Decontaminate.clipContaminated(pages.select("doc_id", "text"),
      benchTable(spark), n = 4)

  /** Banded SimHash near-dup: each page maps to the smallest-id member
    * it pairs with (under the url-hash key: the smallest-hash member —
    * the deterministic canonical-representative convention). */
  def nearDup(pages: DataFrame): DataFrame =
    Dedup.simhashPairs(pages.select("doc_id", "text"), maxHamming = 3)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("_keeper_id"))

  /** Final corpus membership: verdict ∧ not-a-near-dup ∧ not
    * self-excluded (meta-robots noindex — the directive gate is
    * separate from quality: good text can still opt out) — with the
    * span-decontamination refinement: a page whose ONLY failing family
    * is `contaminated` is CLIPPED (leaked span removed) and kept,
    * provided the clip leaves real text. `clipped` reports the
    * surgery. */
  def corpus(pages: DataFrame, verdict: DataFrame, nd: DataFrame,
             clip: DataFrame): DataFrame =
    pages.join(verdict, "doc_id")
      .join(nd, Seq("doc_id"), "left")
      .join(pages.select(col("doc_id").as("_keeper_id"),
        col("path").as("near_dup_of")), Seq("_keeper_id"), "left")
      .join(clip.select(col("doc_id"), col("n_words_removed"),
        (col("n_words") - col("n_words_removed") > 0).as("_kept_words")),
        Seq("doc_id"))
      .withColumn("clipped",
        col("reasons") === "contaminated" && col("n_words_removed") > 0 &&
          col("_kept_words"))
      // n_boiler_removed pins the CCNet stage (the site footer must be
      // gone from every html page); n_chars pins NFC (the readme's
      // decomposed e + U+0301 counts 2 chars raw, 1 composed)
      .select(col("path"), col("title"), col("reasons"), col("keep"),
        col("near_dup_of"), col("noindex"), col("clipped"),
        col("n_boiler_lines").as("n_boiler_removed"),
        length(col("text")).cast("long").as("n_chars"),
        ((col("keep") || col("clipped")) && col("near_dup_of").isNull &&
          !col("noindex")).as("in_corpus"))

  /** Iterative BFS crawl — the loop every production crawler runs,
    * expressed as bounded iterative DataFrame rounds (the PageRank
    * fixed-point pattern): each round is ONE distributed fetch+extract
    * pass over the frontier; discovered links go through the same
    * resolve → canonicalize → fetchable → robots → nofollow chain as
    * [[discover]], then an anti-join against the visited set (the only
    * shuffle per round besides the distinct) yields the next frontier
    * at depth+1. Stops at `maxDepth` or an empty frontier; a cycle
    * edge can never re-fetch a page. `localCheckpoint` per round
    * truncates the iterative lineage exactly like the PageRank loop.
    *
    * Scale shape: the driver loop is bounded by DEPTH (a crawl's
    * politeness horizon, single digits), never by data — each round's
    * work is corpus-sized and fully distributed; the visited set is
    * the only state that grows, kept as a checkpointed table exactly
    * as a production frontier DB would be.
    *
    * Returns one row per visited page: (url, depth, fetched).
    *
    * @param frontierPartitions when > 0, repartition each round's
    *   frontier to this width before materializing — the fixture-scale
    *   knob (a 2-row frontier must not pay 32 checkpoint tasks ×
    *   rounds of pure scheduling floor). Leave 0 in production: the
    *   frontier keeps the shuffle width the anti-join produced, which
    *   AQE sizes to the data.
    * @param fetch the transport seam: urls(url) → (url, content) —
    *   defaults to the real HTTP kernel ([[UrlIngest.fetchBytes]]);
    *   the `bfs`/`bfs_deep` drill legs of `graft.Tool` plug a synthetic
    *   page generator here so the LOOP mechanics (parse → resolve →
    *   canonicalize → robots → distinct → anti-join → checkpoint) can
    *   be measured at 10⁵–10⁶-row frontiers without a socket.
    * @param visitedCompactEvery the checkpoint-cadence knob: the
    *   visited set is kept as a LAZY union of the per-round frontier
    *   checkpoints (each `next` is checkpointed anyway — re-writing
    *   the whole set every round was O(V·depth) churn), and compacted
    *   to one checkpoint every N rounds so the anti-join's plan width
    *   stays bounded at N × frontier partitions. Cost model (the r19
    *   depth ladder, BfsWidthDrill BFSDEPTH rows): each un-compacted
    *   part taxes every round's anti-join ~α (scheduling floor per
    *   part), compaction costs ~β·|visited|; the optimum is
    *   k* ≈ √(2β·V/α), so DEEP-narrow crawls (100 k pages over 33
    *   levels: V small, rounds many) measured best at ~4 while WIDE
    *   crawls (1 M pages in 5 rounds: V large) preferred ≥8. The
    *   default 8 is the geometric middle of the two measured optima;
    *   tune DOWN for politeness-horizon crawls past depth ~30, UP for
    *   archive-width frontiers.
    * @param onRound optional per-round probe `(depth, nextRows,
    *   secs)` — drill instrumentation; null (production) costs
    *   nothing. */
  def bfs(spark: SparkSession, seeds: DataFrame, rules: UrlOps.RobotsRules,
          maxDepth: Int, backoffMs: Long = 1,
          frontierPartitions: Int = 0,
          hostBudget: Int = Int.MaxValue, crawlDelaySec: Int = 1,
          fetch: DataFrame => DataFrame = null,
          visitedCompactEvery: Int = 8,
          onRound: (Int, Long, Double) => Unit = null): DataFrame = {
    require(visitedCompactEvery >= 1,
      s"visitedCompactEvery must be >= 1, got $visitedCompactEvery")
    val doFetch: DataFrame => DataFrame =
      if (fetch != null) fetch
      else urls => UrlIngest.fetchBytes(urls, backoffMs = backoffMs)
    def width(df: DataFrame): DataFrame =
      if (frontierPartitions > 0) df.repartition(frontierPartitions) else df
    // visited = union of checkpointed per-round frontiers; compacted
    // on the cadence so neither lineage nor partition count grows
    // unboundedly with depth
    var visitedParts = List(width(
      seeds.select(UrlOps.canonicalizeUrl(col("url")).as("url"))
        .distinct()).localCheckpoint())
    var roundsSinceCompact = 0
    def visited: DataFrame = visitedParts.reduceLeft(_ unionByName _)
    var frontier = visitedParts.head
    var depth = 0
    var out: DataFrame = null
    var done = false
    while (!done) {
      val t0 = System.nanoTime()
      val fetched = doFetch(frontier.select("url"))
        .select(col("url"), lit(depth).as("depth"), col("content"))
        .localCheckpoint()
      val round = fetched.select(col("url"), col("depth"),
        col("content").isNotNull.as("fetched"))
      out = if (out == null) round else out.unionByName(round)
      if (depth >= maxDepth) done = true
      else {
        val next = fetched.filter(col("content").isNotNull)
          .select(col("url").as("page_url"), Html.parseHtmlUdf(col("content")).as("p"))
          .select(col("page_url"), explode(col("p.links")).as("l"))
          .filter(!col("l.nofollow"))
          .select(UrlOps.canonicalizeUrl(
            UrlOps.resolveUrl(col("page_url"), col("l.href"))).as("url"))
          .filter(UrlOps.isFetchable(col("url")))
          .withColumn("path",
            regexp_extract(col("url"), "^[^:/?#]+://[^/?#]+([^?#]*)", 1))
          .filter(UrlOps.robotsAllowed(rules)(col("path")))
          .select("url").distinct()
          .join(visited, Seq("url"), "left_anti")
          // per-round politeness: the frontier window budgets each host
          // exactly like single-hop discovery; a page dropped by the
          // budget is NOT marked visited, so a later round can carry it
          // (the deferred-crawl shape of a production frontier)
          .transform(nf => if (hostBudget == Int.MaxValue) nf
            else UrlOps.crawlFrontier(nf.withColumn("priority_micro", lit(0L)),
              hostBudget, crawlDelaySec).select("url"))
          .transform(width)
          .localCheckpoint()
        if (next.isEmpty) done = true
        else {
          visitedParts ::= next
          roundsSinceCompact += 1
          if (roundsSinceCompact >= visitedCompactEvery) {
            // compaction must also bound the PARTITION count: with
            // frontierPartitions = 0 (production) the lazy union's
            // partitions otherwise accumulate across rounds — coalesce
            // (no shuffle) back to the session's shuffle width
            val compacted =
              if (frontierPartitions > 0) width(visited)
              else visited.coalesce(
                spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
            visitedParts = List(compacted.localCheckpoint())
            roundsSinceCompact = 0
          }
          frontier = next
          depth += 1
          if (onRound != null)
            onRound(depth, next.count(), (System.nanoTime() - t0) / 1e9)
        }
      }
    }
    out
  }

  /** The whole chain (the `crawl_corpus_e2e` registry body). Warm cost
    * ~6-8 s, the curation_e2e/golden_e2e lifecycle class: the time is
    * the composed chain's ~30 serial AQE stages (verdict exchanges,
    * band join, frontier window, two real-HTTP fetch legs), not data —
    * narrowing shuffle width was measured a no-op (6.0 s scoped=2 vs
    * 6.0 s at 32); per-stage attribution in SCALING.md via
    * the `crawl_corpus` drill leg of `graft.Tool`. */
  def run(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val base = UrlIngest.crawlSiteBase
    val rules = siteRules(base)
    val seeds = Seq(s"$base/site.html").toDF("url")
    val discovered = discover(spark, seeds, rules, blocklist(spark))
    // the production url-hash key, applied to the host-stripped path:
    // the loopback fixture's host carries an ephemeral port that varies
    // per run, and the oracle is a fixed VALUES table — a real corpus
    // passes the default idKey = "doc" (the full url)
    val pages = fetchExtract(seeds, schedule(discovered, rules), idKey = "path")
    corpus(pages, verdict(spark, pages), nearDup(pages), clip(spark, pages))
  }
}
