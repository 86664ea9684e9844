package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.functions.{GopherCounts, Kernel}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Parity for the native [[graft.functions.GopherCounts.counts]] kernel: every
  * slot must count exactly what the regex column formulation counts —
  * the formulation the DuckDB oracle replays. Edge fixtures pin the
  * split/trim/anchor corners; the fuzz loop sweeps a hostile alphabet
  * (whitespace runs, dots, bullets, hashes) where off-by-one scan bugs
  * actually live. The alphabet stays `\r`-free: the kernel implements
  * RE2 line semantics (`^`/`$` at `\n` only — what DuckDB evaluates),
  * while Java's (?m) also honors `\r`, so `\r`-bearing text is the one
  * documented divergence from the old Java-regex formulation. */
class GopherCountsSpec extends SparkSpec {
  import spark.implicits._

  private def regexCols(t: org.apache.spark.sql.Column) = Seq(
    size(split(trim(t), "\\s+")).cast("long"),
    size(split(t, "\n")).cast("long"),
    length(regexp_replace(t, "\\s+", "")).cast("long"),
    regexp_count(t, lit("(?m)^\\s*[-*]")).cast("long"),
    regexp_count(t, lit("(?m)\\.\\.\\.$")).cast("long"),
    (regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))).cast("long"),
    regexp_count(t, lit("(^|\\s)[^\\s]*[A-Za-z]")).cast("long"))

  private def kernelCol(t: org.apache.spark.sql.Column) =
    Kernel.call(GopherCounts, "counts", ArrayType(LongType, containsNull = false), t)

  private def check(texts: Seq[String]): Unit = {
    val df = texts.toDF("text")
    val rows = df.select(kernelCol(col("text")).as("k"),
        array(regexCols(col("text")): _*).as("r"), col("text"))
      .collect()
    rows.foreach { row =>
      val k = row.getSeq[Long](0)
      val r = row.getSeq[Long](1)
      assert(k === r, s"kernel $k vs regex $r for ${row.getString(2).take(120).replace("\n", "\\n")}")
    }
  }

  test("edge fixtures: empty, pure whitespace, anchors, overlaps, trim corners") {
    check(Seq(
      "", " ", "  ", "\n", "\n\n\n", "\t", "\tfoo", "foo\n", " foo ",
      "...", "....", ".....", "......", "...\n...", "....\n",
      "- item", " - item", "\n- a\n- b", "-", "*x", "a\n \n- x", "  \n- x",
      "# #", "ab cd", "ab- cd", "x1x y", "1a1a", "a  b", "ab  cd",
      "- one\n- two\n- three", "to be continued...\nalso unfinished...",
      "word " * 60, ("line.\n" * 10).trim, "-vtab", "ab",
      "d5 we close here. d5 story ends now.", "- a bullet d7\n- another one d7"))
  }

  test("fuzz: 400 random pages over the hostile alphabet match slot-for-slot") {
    val rnd = new scala.util.Random(1717)
    val alphabet = "abcz019 .#-*\t\n".toCharArray
    val texts = (1 to 400).map { _ =>
      val len = rnd.nextInt(300)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        // bias toward the interesting chars: dots, dashes, whitespace
        val c = alphabet(rnd.nextInt(alphabet.length))
        sb.append(c)
        if (c == '.' && rnd.nextBoolean()) sb.append("..")
      }
      sb.toString
    }
    check(texts)
  }

  test("gopherQuality over the kernel equals the round-16 published values") {
    // the QualityFiltersSpec fixtures re-checked through the kernelized
    // operator: exact micro values unchanged
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    val clean = fifty + " and that story had the happy end we hoped it would have."
    val out = TextAnalysis.gopherQuality(
      Seq((0L, "one line.\nto be continued...\nalso unfinished..."),
        (1L, clean)).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("ellipsis_frac_micro") === 666666L)
    assert(out(1L).getAs[Boolean]("gopher_pass"))
  }
}
