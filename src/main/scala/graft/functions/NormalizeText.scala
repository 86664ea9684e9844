package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `normalize_text(text STRING) -> STRING`: Unicode normalization —
  * the pass every corpus pipeline runs BEFORE content fingerprinting
  * (a composed `é` (U+00E9) and its decomposed twin `e`+U+0301 are the
  * same text to a reader but different bytes to every dedup key,
  * MinHash shingle, and tokenizer vocab lookup; crawled HTML mixes
  * both freely). Spark has no built-in for this; the kernel is the
  * JDK's `java.text.Normalizer` behind one codegen'd static call.
  *
  * `form` is plan-time: NFC (the corpus default — W3C's choice for
  * the web), NFD, NFKC (the aggressive variant Dolma/Gopher-style
  * pipelines use to fold ligatures/fullwidth forms), NFKD.
  *
  * The ASCII fast path matters at corpus scale: most web text is
  * ASCII-dominant, every ASCII string is already in every normal
  * form, and `Normalizer.normalize` allocates even when idempotent —
  * the kernel scans for a non-ASCII byte first and returns the INPUT
  * UTF8String untouched (zero copy) when there is none.
  *
  * Oracle parity: DuckDB's `nfc_normalize` (utf8proc) and the JDK
  * (ICU tables) implement the same Unicode normalization algorithm;
  * the `nfc_normalize` driver query pins equality over synthesized
  * composed/decomposed pairs. Null in, null out. */
object NormalizeText {

  val Forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")

  /** The per-row kernel the generated code calls. */
  def normalize(text: UTF8String, form: String): UTF8String = {
    // ASCII fast path: every ASCII string is already normalized in
    // every form — return the input buffer untouched
    val bytes = text.getBytes
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) < 0) {
        val s = text.toString
        val f = java.text.Normalizer.Form.valueOf(form)
        return if (java.text.Normalizer.isNormalized(s, f)) text
          else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
      }
      i += 1
    }
    text
  }
}
