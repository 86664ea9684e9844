package graft.functions

import java.nio.charset.{CharacterCodingException, StandardCharsets}
import java.nio.charset.CodingErrorAction

import org.apache.spark.unsafe.types.UTF8String

/** `fix_mojibake(text STRING) -> STRING`: repair the dominant
  * encoding-corruption class of crawled text — UTF-8 bytes that were
  * DECODED as Windows-1252/Latin-1 somewhere upstream (`Ã©` for `é`,
  * `â€™` for `'`, `Ã¢â‚¬â„¢` when it happened twice), the defect the
  * ftfy library exists for. The repair is the exact inverse of the
  * corruption, applied only when it parses:
  *
  *  1. map the string back to bytes through cp1252 (the decoding that
  *     corrupted it — cp1252 over Latin-1 because real pipelines
  *     mislabel as cp1252, and its 0x80-0x9F graphics are exactly the
  *     `â€™` tells); characters with no cp1252 byte → NOT mojibake,
  *     return the input;
  *  2. STRICT-decode those bytes as UTF-8; any error → NOT mojibake,
  *     return the input (a legitimate `Ã` followed by a non-
  *     continuation char survives untouched — the false-positive
  *     guard);
  *  3. accept only if step 2 changed the string (pure ASCII round-
  *     trips to itself → zero-copy no-op), and re-run once more for
  *     the double-encoded class, stopping at the first fixed point.
  *
  * Determinism: a pure byte-table function of the input — no locale,
  * no heuristic scoring. The cp1252 table is the JDK charset. The
  * ASCII fast path returns the input buffer untouched (the
  * [[NormalizeText]] contract — mojibake REQUIRES a non-ASCII char).
  * Null in, null out.
  *
  * The oracle states expected repairs as VALUES over a corruption
  * fixture built by the inverse transform (encode UTF-8 → decode
  * cp1252), so the driver check pins the full repair table without
  * needing ftfy on the oracle side. */
object FixMojibake {

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** One inverse pass: string → cp1252 bytes → strict UTF-8, or null
    * when either leg refuses (not the corruption this repairs). */
  private def unmix(s: String): String = {
    val enc = Cp1252.newEncoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try dec.decode(enc.encode(java.nio.CharBuffer.wrap(s))).toString
    catch { case _: CharacterCodingException => null }
  }

  /** The per-row kernel the generated code calls. */
  def fix(text: UTF8String): UTF8String = {
    // ASCII fast path: mojibake requires a non-ASCII character
    val bytes = text.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) {
      if (bytes(i) < 0) ascii = false
      i += 1
    }
    if (ascii) return text
    var cur = text.toString
    var rounds = 0
    var changed = false
    while (rounds < 2) {
      val next = unmix(cur)
      if (next == null || next == cur) rounds = 2
      else { cur = next; changed = true; rounds += 1 }
    }
    if (changed) UTF8String.fromString(cur) else text
  }
}
