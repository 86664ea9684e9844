package graft

import graft.io.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def refZ(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L)((z, i) =>
      z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))

  test("zValue equals the reference interleave over the full 8-bit grid edge cases") {
    val pts = (for {
      x <- Seq(0L, 1L, 2L, 127L, 128L, 200L, 255L)
      y <- Seq(0L, 1L, 3L, 64L, 255L)
    } yield (x, y)) ++ Seq((255L, 255L), (170L, 85L))
    val out = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y"), 8).as("z"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(2) === refZ(r.getLong(0), r.getLong(1), 8),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("zValue bit budget is validated at entry") {
    intercept[IllegalArgumentException](Layout.zValue(lit(1L), lit(1L), 0))
    intercept[IllegalArgumentException](Layout.zValue(lit(1L), lit(1L), 32))
  }

  test("zorderBy bounds BOTH dimensions per partition; single-key sort does not") {
    val ev = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts_ns"))
    // normalized mean per-partition span of each dimension
    def spans(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val withPid = df.withColumn("pid", spark_partition_id())
      val g = withPid.groupBy("pid").agg(
        (max("user_id") - min("user_id")).as("us"),
        (max("ts_ns") - min("ts_ns")).as("ts")).agg(avg("us"), avg("ts")).head()
      val r = df.agg(max("user_id") - min("user_id"),
        max("ts_ns") - min("ts_ns")).head()
      (g.getDouble(0) / r.getLong(0), g.getDouble(1) / r.getLong(1))
    }
    val (zU, zT) = spans(Layout.zorderBy(ev, "user_id", "ts_ns", bits = 8, numFiles = 8))
    val (sU, sT) = spans(
      ev.repartitionByRange(8, col("ts_ns")).sortWithinPartitions("ts_ns"))
    // ts-only sort: perfect ts intervals but full-width user intervals
    assert(sU > 0.9, s"ts-sorted user span $sU")
    assert(sT < 0.3, s"ts-sorted ts span $sT")
    // z-order: both dimensions bounded — every partition covers a
    // rectangle, not a stripe (8 files over an 8-bit z space → blocks
    // of at most half the range per dimension, plus block-boundary slop)
    assert(zU < 0.7, s"zorder user span $zU")
    assert(zT < 0.7, s"zorder ts span $zT")
  }

  test("zorderBy rejects empty input (no min/max to scale against)") {
    val empty = Seq.empty[(Long, Long)].toDF("user_id", "ts_ns")
    intercept[IllegalArgumentException](Layout.zorderBy(empty, "user_id", "ts_ns"))
  }

  test("globalIndex stamps 0..n-1 in key order across a genuinely multi-partition frame") {
    // shuffled insert order; unique keys → fully deterministic ids
    val keys = scala.util.Random.shuffle((0L until 997L).toList)
    val df = keys.map(k => (k, s"v$k")).toDF("k", "v")
    val out = Layout.globalIndex(df, "k", numParts = 7)
    // more than one partition actually carries rows (distributed shape)
    assert(out.select(spark_partition_id()).distinct().count() > 1)
    val got = out.select("k", "global_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.map(_._2).toSeq === (0L until 997L),
      "ids must be the contiguous ordinals of the key order")
  }

  test("globalIndex with duplicate keys: ids are a contiguous permutation, key-sorted") {
    val df = (0 until 500).map(i => (i % 7L, i)).toDF("k", "payload")
    val got = Layout.globalIndex(df, "k", numParts = 5)
      .select("k", "global_idx").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).sorted.toSeq === (0L until 500L), "contiguous 0..n-1")
    // every id respects the key order even where ties are arbitrary
    val byId = got.sortBy(_._2).map(_._1)
    assert(byId.toSeq === byId.sorted.toSeq, "ids must be nondecreasing in key")
  }

  test("writeWithStats + readPruned: genuine file skipping, identical values") {
    val dir = java.nio.file.Files.createTempDirectory("layout-stats").toString + "/t"
    val ev = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts_ns")
    Layout.writeWithStats(
      Layout.zorderBy(ev, "user_id", "ts_ns", bits = 8, numFiles = 8),
      dir, Seq("user_id", "ts_ns"))
    val (kept, total) = Layout.prunedPaths(spark, dir, "user_id", 10L, 20L)
    assert(total === 8, "expected the 8 requested output files")
    assert(kept.size < total,
      s"z-clustered files must allow skipping (kept ${kept.size}/$total)")
    assert(kept.nonEmpty)
    val got = Layout.readPruned(spark, dir, "user_id", 10L, 20L)
      .select("event_id", "user_id", "ts_ns").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val want = ev.filter(col("user_id").between(10L, 20L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === want.toSeq, "skipping must never change the answer")
    assert(want.nonEmpty)
  }

  test("prunedPaths without a manifest keeps every file (skip is optional)") {
    val dir = java.nio.file.Files.createTempDirectory("layout-noman").toString + "/t"
    Seq((1L, 2L), (3L, 4L)).toDF("user_id", "ts_ns")
      .repartition(2).write.parquet(dir)
    val (kept, total) = Layout.prunedPaths(spark, dir, "user_id", 100L, 200L)
    assert(kept.size === total, "no manifest → nothing may be skipped")
  }

  test("manifest parsing survives field reorder / extra keys; malformed lines fail safe") {
    val dir = java.nio.file.Files.createTempDirectory("layout-drift").toString + "/t"
    val df = Seq((1L, 5L), (200L, 6L)).toDF("user_id", "ts_ns")
    Layout.writeWithStats(df.repartition(2, col("user_id")), dir, Seq("user_id"))
    val (keptBefore, total) = Layout.prunedPaths(spark, dir, "user_id", 100L, 300L)
    assert(total === 2 && keptBefore.size === 1, "baseline: one file skipped")
    // rewrite the manifest with reordered fields, injected keys, and one
    // malformed line — a REAL JSON reader must tolerate the first two;
    // the malformed line's file must stay unprunable (kept), never skipped
    val mPath = java.nio.file.Paths.get(dir, "_graft_stats.json")
    val lines = scala.io.Source.fromFile(mPath.toFile).getLines().toSeq
    val drifted = lines.zipWithIndex.map { case (l, i) =>
      if (i == 0) {
        // reorder: max before min, plus an unknown key in between
        val f = """"file":"([^"]+)"""".r.findFirstMatchIn(l).get.group(1)
        val mn = """"min_user_id":(-?\d+)""".r.findFirstMatchIn(l).get.group(1)
        val mx = """"max_user_id":(-?\d+)""".r.findFirstMatchIn(l).get.group(1)
        s"""{"max_user_id":$mx, "rows": 1, "min_user_id":$mn, "file":"$f"}"""
      } else "{not json at all"
    }
    java.nio.file.Files.write(mPath, drifted.mkString("\n").getBytes("UTF-8"))
    // drop the Hadoop local-FS checksum sidecar our out-of-band rewrite broke
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "._graft_stats.json.crc"))
    val (kept, _) = Layout.prunedPaths(spark, dir, "user_id", 100L, 300L)
    // the reordered line still prunes or keeps per its bounds; the
    // malformed line's file is kept unconditionally
    val firstFile = drifted.head.split("\"file\":\"")(1).takeWhile(_ != '"')
    val firstKept = kept.exists(_.endsWith(firstFile))
    val firstInRange = {
      val mn = """"min_user_id":(-?\d+)""".r.findFirstMatchIn(drifted.head).get.group(1).toLong
      val mx = """"max_user_id":(-?\d+)""".r.findFirstMatchIn(drifted.head).get.group(1).toLong
      mx >= 100L && mn <= 300L
    }
    assert(firstKept === firstInRange, "reordered JSON line must still be parsed")
    assert(kept.size >= 1, "the malformed line's file must be kept (fail safe)")
    assert(kept.size === (if (firstInRange) 2 else 1))
  }

  test("readPruned with a fully-out-of-range predicate returns an empty, well-typed frame") {
    val dir = java.nio.file.Files.createTempDirectory("layout-empty").toString + "/t"
    val df = Seq((1L, 5L), (2L, 6L)).toDF("user_id", "ts_ns")
    Layout.writeWithStats(df.repartition(1), dir, Seq("user_id"))
    val out = Layout.readPruned(spark, dir, "user_id", 100L, 200L)
    assert(out.columns.toSeq.sorted === Seq("ts_ns", "user_id"))
    assert(out.count() === 0L)
  }

  test("tumbling consumer over a stats table: fewer files read, values unchanged") {
    // the prune_tumbling driver query's shape: z-order events, write
    // with a manifest, answer a ts_ns slice through readPruned
    val dir = java.nio.file.Files.createTempDirectory("layout-consumer").toString + "/t"
    val ev = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "event_type", "value", "user_id", "ts_ns")
    Layout.writeWithStats(
      Layout.zorderBy(ev, "user_id", "ts_ns", bits = 8, numFiles = 8),
      dir, Seq("user_id", "ts_ns"))
    val r = ev.agg(min("ts_ns"), max("ts_ns")).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
    val (kept, total) = Layout.prunedPaths(spark, dir, "ts_ns", lo, hi)
    assert(total === 8)
    assert(kept.size < total,
      s"the quarter-to-half time slice must skip files (kept ${kept.size}/$total)")
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(expr("ts_ns div 600000000000").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(expr("CAST(round(value * 1e6) AS BIGINT)")).as("sv"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val pruned = agg(Layout.readPruned(spark, dir, "ts_ns", lo, hi))
    val plain = agg(ev.filter(col("ts_ns").between(lo, hi)))
    assert(pruned === plain, "skipping must not change the aggregate")
    assert(plain.nonEmpty)
  }

  test("string stats: categorical clustering prunes files; non-ASCII compares as UTF-8 bytes") {
    val dir = java.nio.file.Files.createTempDirectory("layout-str").toString + "/t"
    // é (UTF-8 0xC3A9) sorts ABOVE 'z' in unsigned byte order but BELOW
    // it in UTF-16 code-unit order? No — é = U+00E9 > 'z' = U+007A in
    // both; use a 4-byte emoji (U+1F600, surrogate pair) where UTF-16
    // code-unit compare and UTF-8 byte compare genuinely diverge from
    // naive expectations; the manifest must stay consistent with the
    // parquet footer's byte order either way
    val rows = Seq((1L, "apple"), (2L, "banana"), (3L, "cherry"),
      (4L, "zebra"), (5L, "éclair"), (6L, "😀moji"))
    val df = rows.toDF("id", "cat")
    Layout.writeWithStats(
      df.repartitionByRange(3, col("cat")).sortWithinPartitions("cat"),
      dir, Seq("cat"))
    for ((v, wantId) <- Seq("apple" -> 1L, "zebra" -> 4L,
        "éclair" -> 5L, "😀moji" -> 6L)) {
      val (kept, total) = Layout.prunedPathsEq(spark, dir, "cat", v)
      assert(total === 3)
      assert(kept.size < total, s"value '$v' must skip files (kept ${kept.size}/$total)")
      val got = Layout.readPrunedEq(spark, dir, "cat", v)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got === Seq(wantId), s"value '$v'")
    }
    // absent value: possibly zero files kept, but never a wrong row
    assert(Layout.readPrunedEq(spark, dir, "cat", "nope").count() === 0L)
  }

  test("nested (dotted) stats columns round-trip the manifest and still prune") {
    val dir = java.nio.file.Files.createTempDirectory("layout-nested").toString + "/t"
    val df = (0L until 100L).map(i => (i, (i * 10, s"p$i")))
      .toDF("id", "s").selectExpr("id", "named_struct('x', s._1, 'tag', s._2) AS s")
    Layout.writeWithStats(
      df.repartitionByRange(4, col("s.x")).sortWithinPartitions("s.x"),
      dir, Seq("s.x"))
    // the dotted name must survive manifest parsing (regex quoting):
    // skipping under it proves its bounds were read back
    val (kept, total) = Layout.prunedPaths(spark, dir, "s.x", 0L, 90L)
    assert(total === 4 && kept.size < total, s"kept ${kept.size}/$total")
    val got = Layout.readPruned(spark, dir, "s.x", 0L, 90L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (0L to 9L), "s.x <= 90 keeps ids 0..9")
  }

  test("prunedPaths refuses a partitioned tree; readPruned degrades to a plain filter") {
    val dir = java.nio.file.Files.createTempDirectory("layout-part").toString + "/t"
    (0L until 50L).map(i => (i, i % 3L)).toDF("user_id", "p")
      .write.partitionBy("p").parquet(dir)
    intercept[IllegalArgumentException](
      Layout.prunedPaths(spark, dir, "user_id", 0L, 10L))
    val got = Layout.readPruned(spark, dir, "user_id", 0L, 10L)
      .select("user_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (0L to 10L), "fallback read must still answer correctly")
  }

  test("globalIndex on one partition degenerates gracefully") {
    val got = Layout.globalIndex(Seq((3L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v"),
      "k", numParts = 1).select("k", "global_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  test("generative: skipping is NEVER a filter — random tables, boundary longs, " +
      "non-ASCII strings, random ranges (seeded)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int, salt: Long): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(salt + i)))
    val extremeLong = Gen.oneOf(
      Gen.oneOf(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
        Long.MaxValue - 1, Long.MaxValue),
      Gen.choose(-1000L, 1000L))
    // strings across the UTF-8 byte-order traps: ASCII, Latin-1,
    // multi-byte CJK, an astral pair, and the empty string
    val str = Gen.oneOf("", "a", "z", "Z", "zz", "é", "ü",
      "中文", "😀", "abcé", "~", "")
    val rowGen = for { v <- extremeLong; s <- str } yield (v, s)
    val tableGen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, rowGen)
      files <- Gen.choose(1, 6)
    } yield (rows, files)
    samples(tableGen, 8, 4200L).zipWithIndex.foreach { case ((rows, files), i) =>
      val dir = java.nio.file.Files.createTempDirectory(s"layout-gen$i")
        .toString + "/t"
      val df = rows.zipWithIndex.map { case ((v, s), j) => (j.toLong, v, s) }
        .toDF("id", "v", "s")
      // range-cluster on v so bounds are tight and skipping actually
      // happens for narrow ranges (correctness must hold either way)
      Layout.writeWithStats(
        df.repartitionByRange(files, col("v")).sortWithinPartitions("v"),
        dir, Seq("v", "s"))
      // random ranges: inverted, point, wide, and data-derived
      val vs = rows.map(_._1)
      val ranges = samples(for {
        a <- Gen.oneOf(Gen.oneOf(vs), extremeLong)
        b <- Gen.oneOf(Gen.oneOf(vs), extremeLong)
      } yield (math.min(a, b), math.max(a, b)), 5, 77L * (i + 1)) ++
        Seq((Long.MinValue, Long.MaxValue), (5L, -5L)) // full + empty-inverted
      ranges.foreach { case (lo, hi) =>
        val got = Layout.readPruned(spark, dir, "v", lo, hi)
          .select("id").collect().map(_.getLong(0)).sorted
        val want = df.filter(col("v") >= lo && col("v") <= hi)
          .select("id").collect().map(_.getLong(0)).sorted
        assert(got.toSeq === want.toSeq,
          s"table $i range [$lo,$hi]: pruned read changed the answer")
      }
      // equality reads: every distinct present value plus two absent ones
      (rows.map(_._2).distinct ++ Seq("absent", "不在")).foreach { v =>
        val got = Layout.readPrunedEq(spark, dir, "s", v)
          .select("id").collect().map(_.getLong(0)).sorted
        val want = df.filter(col("s") === v)
          .select("id").collect().map(_.getLong(0)).sorted
        assert(got.toSeq === want.toSeq,
          s"table $i value '$v': pruned eq-read changed the answer")
      }
    }
  }
}
