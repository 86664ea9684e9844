package graft

import java.io.File

import graft.streaming.FixtureStream

/** What a stream query leaves behind: no checkpoint, no new temp dir
  * per invocation, and the session conf as it found it. */
class StreamLifecycleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val streams = Seq("dedup_stream_e2e", "neardup_stream_e2e", "recrawl_stream_e2e",
    "frontier_stream_e2e", "crawl_stream_e2e", "ivf_stream_e2e")
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private val scoped = FixtureStream.narrowRocksDb.keys.toSeq.sorted

  private def graftEntries(): Set[File] =
    tmp.listFiles().filter(_.getName.startsWith("graft-")).toSet

  /** Stream checkpoints (dirs holding `offsets/` and `commits/`) at
    * most `depth` levels below `root`, `root` included. */
  private def checkpoints(root: File, depth: Int = 3): Seq[File] = {
    val kids = Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
    val here = Seq("offsets", "commits").forall(n => kids.exists(_.getName == n))
    (if (here) Seq(root) else Nil) ++
      (if (depth > 0) kids.flatMap(checkpoints(_, depth - 1)) else Nil)
  }

  private def confNow(): Seq[(String, Option[String])] =
    scoped.map(k => k -> spark.conf.getOption(k))

  test("two invocations of every stream query leave no checkpoint and no new temp dir") {
    val before = graftEntries()
    val conf = confNow()
    def invokeAll(): Unit =
      streams.foreach(q => assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q))
    invokeAll()
    val afterFirst = graftEntries()
    invokeAll()
    val afterSecond = graftEntries()
    val leaked = (afterSecond -- before).toSeq.flatMap(checkpoints(_))
    assert(leaked.isEmpty, s"checkpoints left behind: ${leaked.mkString(", ")}")
    assert(afterSecond.size <= afterFirst.size,
      s"new per invocation: ${(afterSecond -- afterFirst).map(_.getName).mkString(", ")}")
    assert(confNow() === conf)
  }

  test("a failing after-batch hook still restores every scoped key and deletes the checkpoint") {
    import spark.implicits._
    val saved = confNow()
    try {
      // one scoped key set to another value, one unset
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      val prior = confNow()
      var ck = ""
      var seen = Seq.empty[(String, Option[String])]
      val e = intercept[IllegalStateException] {
        FixtureStream.run(spark, Seq(Seq(1, 2), Seq(3)), conf = FixtureStream.narrowRocksDb,
            afterBatch = _ => { seen = confNow(); throw new IllegalStateException("hook") }) {
          (in, dir) => ck = dir; in.writeStream.format("noop")
        }
      }
      assert(e.getMessage === "hook")
      assert(seen === FixtureStream.narrowRocksDb.toSeq.sorted.map { case (k, v) => k -> Some(v) })
      assert(confNow() === prior)
      assert(ck.nonEmpty && !new File(ck).exists, ck)
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
