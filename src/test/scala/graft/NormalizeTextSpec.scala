package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.NormalizeText
import graft.operators.TextAnalysis

/** Parity and fast-path semantics for the Unicode-normalization kernel
  * ([[graft.functions.NormalizeText.normalize]]): form-for-form equality with
  * `java.text.Normalizer` (the JDK is the reference the kernel wraps;
  * the DuckDB oracle `nfc_normalize` pins cross-engine NFC equality
  * independently), the zero-copy ASCII path, and codegen execution. */
class NormalizeTextSpec extends SparkSpec {
  import spark.implicits._

  private val samples = Seq(
    "Café",            // decomposed e + combining acute → é
    "Café",             // already composed
    "naı̈ve",      // dotless ı + diaeresis: NO precomposed form
    "ﬁle",              // ﬁ ligature: NFKC folds, NFC keeps
    "ＨＥ",          // fullwidth HE: NFKC folds to ASCII
    "Å",               // A + ring → Å
    "Å",                // ANGSTROM SIGN → Å under NFC
    "plain ascii", "", "mixed ascii café tail",
    "😀 emoji")    // supplementary plane passes through

  test("all four forms match java.text.Normalizer exactly") {
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val rows = samples.toDF("t")
        .select(col("t"), TextAnalysis.normalizeText(col("t"), form).as("k"))
        .collect()
      rows.foreach { r =>
        val expect = java.text.Normalizer.normalize(r.getString(0),
          java.text.Normalizer.Form.valueOf(form))
        assert(r.getString(1) === expect, s"form=$form in=<${r.getString(0)}>")
      }
    }
  }

  test("ASCII fast path returns the input buffer untouched (zero copy)") {
    val in = UTF8String.fromString("nothing but ascii 123")
    assert(NormalizeText.normalize(in, "NFKC") eq in)
    // already-normalized non-ASCII also avoids the re-encode
    val composed = UTF8String.fromString("café")
    assert(NormalizeText.normalize(composed, "NFC") eq composed)
  }

  test("null in, null out; runs inside whole-stage codegen") {
    val df = spark.range(2)
      .select(when(col("id") === 0, lit("Café")).otherwise(lit(null))
        .as("t"))
      .select(TextAnalysis.normalizeText(col("t")).as("n"))
    val rows = df.orderBy(col("n").desc_nulls_last).collect()
    assert(rows(0).getString(0) === "Café")
    assert(rows(1).isNullAt(0))
    val spans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.nonEmpty)
  }

  test("NFC collapses the dedup key the raw bytes split") {
    val df = Seq(("a", "Café menu"), ("b", "Café menu")).toDF("id", "t")
    assert(df.select(col("t")).distinct().count() === 2)
    assert(df.select(TextAnalysis.normalizeText(col("t"))).distinct().count() === 1)
  }

  test("fixMojibake: single and double cp1252 corruption repair; legit " +
      "text and ASCII are untouchable") {
    import graft.functions.FixMojibake
    val clean = "Caf\u00e9 it\u2019s \u20ac5 fine."
    val single = "Caf\u00c3\u00a9 it\u00e2\u20ac\u2122s \u00e2\u201a\u00ac5 fine."
    val double = "Caf\u00c3\u0192\u00c2\u00a9 it\u00c3\u00a2\u00e2\u201a\u00ac\u00e2\u201e\u00a2s \u00c3\u00a2\u00e2\u20ac\u0161\u00c2\u00ac5 fine."
    def fix(x: String): String =
      FixMojibake.fix(UTF8String.fromString(x)).toString
    assert(fix(single) === clean)
    assert(fix(double) === clean, "two passes undo the double encode")
    // the strict-decode guard: a legitimate accented word whose bytes
    // do NOT parse as UTF-8 through cp1252 must come back byte-equal
    assert(fix("d\u00e9j\u00e0 intact") === "d\u00e9j\u00e0 intact")
    assert(fix(clean) === clean, "already-repaired text is a fixed point")
    // ASCII zero-copy: the SAME UTF8String instance returns
    val ascii = UTF8String.fromString("plain ascii only")
    assert(FixMojibake.fix(ascii) eq ascii)
    // column path runs inside codegen and nulls pass through
    val out = Seq((1L, single), (2L, null: String)).toDF("id", "t")
      .select(TextAnalysis.fixMojibake(col("t")).as("f"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq === Seq(Some(clean), None))
  }
}
