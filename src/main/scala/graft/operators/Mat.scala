package graft.operators

import org.apache.spark.sql.DataFrame

/** The materialization seam (r21): every operator that must pin a
  * multiply-consumed intermediate calls [[point]] instead of hardcoding
  * `localCheckpoint()`. Why a seam: `localCheckpoint` truncates lineage
  * onto executor-local blocks — measured right for the local bench
  * (AQE-degenerate doubled branches without it), but NOT fault-tolerant:
  * at 100 TB one lost executor late in a job kills the run, so a
  * cluster deployment lands these frames on reliable storage instead.
  * The mode is a session conf, not a code fork:
  *
  *  - `eager` — `localCheckpoint()` (materialize NOW as a head job);
  *  - `lazy`  — `localCheckpoint(eager = false)` (materialize inside
  *    whichever consumer job runs first — no standalone barrier; the
  *    golden_e2e r20 fix generalized);
  *  - `reliable:<dir>` — write parquet under `<dir>/<appId>/<uuid>` and
  *    read it back: survives executor loss, shareable across jobs — the
  *    cluster-scale setting. Directories are app-scoped and removed by
  *    a JVM shutdown hook (or explicitly via [[cleanupReliable]]), so a
  *    long-lived cluster does not accrete orphan staging dirs (r22).
  *
  * Mode resolution is PER SITE (r22): lazy's "materialize inside the
  * first consumer" has no compute-once guarantee when the frame's first
  * consumers RACE — the classic shape is an aggregate feeding both a
  * broadcast-exchange future and the main join side, where both jobs
  * recompute the upstream corpus pass (r21's unverified pin batch;
  * measured per site with interleaved conf A/Bs in r22, today
  * `graft.Tool time --conf`). Such sites pass their measured-best mode
  * as `default`; an explicit session conf still overrides it,
  * most-specific first:
  *
  *  1. `spark.graft.materialize.mode.<site>` — this one site;
  *  2. `spark.graft.materialize.mode` — every site (the drill's A/B);
  *  3. the call site's `default` (`lazy` unless measured otherwise).
  */
object Mat {
  val ModeKey = "spark.graft.materialize.mode"

  /** Reliable-mode staging dirs created by this JVM — removed on exit. */
  private val createdDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Remove every reliable-mode staging dir this JVM created. Idempotent;
    * also registered as a shutdown hook the first time reliable mode runs. */
  def cleanupReliable(): Unit = {
    val it = createdDirs.iterator()
    while (it.hasNext) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(it.next()))
      it.remove()
    }
  }

  def point(df: DataFrame, site: String = "", default: String = "lazy"): DataFrame = {
    val conf = df.sparkSession.conf
    val mode = (if (site.nonEmpty) conf.getOption(s"$ModeKey.$site") else None)
      .orElse(conf.getOption(ModeKey))
      .getOrElse(default)
    mode match {
      case "eager" => df.localCheckpoint()
      // `none` = passthrough (no materialization): each consumer
      // re-evaluates the shared subtree. Primarily the drill's control
      // (`graft.Tool time --conf spark.graft.materialize.mode=...`
      // prices a site's repeated-subtree cost with it), but also a
      // legitimate site DEFAULT where the re-evaluation is measured
      // cheaper than the pin at bench scale (cur.sp, r22) —
      // such sites get flipped to eager/reliable by conf on a cluster,
      // where the re-run is a full corpus pass.
      case "none" => df
      case m if m.startsWith("reliable:") =>
        val appDir = m.stripPrefix("reliable:") + "/" +
          df.sparkSession.sparkContext.applicationId
        val dir = appDir + "/" + java.util.UUID.randomUUID().toString
        df.write.mode("overwrite").parquet(dir)
        createdDirs.add(appDir)
        if (hookInstalled.compareAndSet(false, true))
          Runtime.getRuntime.addShutdownHook(
            new Thread(() => cleanupReliable(), "graft-mat-reliable-cleanup"))
        df.sparkSession.read.parquet(dir)
      case _ => df.localCheckpoint(eager = false)
    }
  }
}
