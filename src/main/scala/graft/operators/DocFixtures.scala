package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, Deflater, ZipEntry, ZipOutputStream}

/** Deterministic in-memory document fixtures for the S4/S8/S9 extractors
  * ([[DocExtract]]) — real container formats built with nothing but the
  * JDK, so the parse path under test is the same one a
  * `spark.read.format("binaryFile")` scan would feed at scale.
  *
  * The CONTENT constants below are the single source of truth: the
  * DuckDB oracles in `SparkEntry.oracleSql` state the expected parse
  * results as literal VALUES derived (by hand) from these constants, so
  * a drift in either the builder or the extractor breaks the hash
  * compare.
  */
object DocFixtures {

  // ---- DOCX ------------------------------------------------------------

  /** (text, styleId) body paragraphs of the `policy` fixture, in
    * document order. Index 2 is deliberately empty: the reference
    * enumerates ALL paragraphs for chunk ids but emits only non-blank
    * ones (`document_processing_service.py:390-408`), so `para_2` must
    * be skipped while `para_3` keeps its index. */
  val policyParas: Seq[(String, Option[String])] = Seq(
    ("Coverage Policy", Some("Heading1")),
    ("This policy covers accidental damage to insured property.", None),
    ("", None),
    ("Exclusions", Some("Heading2")),
    ("Damage caused by war or nuclear events is excluded.", None),
    ("Contact support for claims.", None))

  /** Rows (first = header row) of the `policy` fixture's one table. */
  val policyTable: Seq[Seq[String]] = Seq(
    Seq("Item", "Limit"), Seq("Laptop", "1000"), Seq("Phone", "500"))

  val memoParas: Seq[(String, Option[String])] = Seq(
    ("Quarterly results improved.", None),
    ("Next Steps", Some("Heading1")),
    ("Hire two engineers.", None))

  private def xmlEsc(s: String) =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Minimal WordprocessingML: one `w:p` per paragraph (split into two
    * `w:r` runs when the text has a space, to exercise run
    * concatenation), `w:tbl` per table. */
  private def documentXml(paras: Seq[(String, Option[String])],
                          tables: Seq[Seq[Seq[String]]]): String = {
    val ns = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    def runs(text: String): String = {
      val cut = text.indexOf(' ')
      if (cut < 0) s"<w:r><w:t xml:space=\"preserve\">${xmlEsc(text)}</w:t></w:r>"
      else s"<w:r><w:t xml:space=\"preserve\">${xmlEsc(text.substring(0, cut + 1))}</w:t></w:r>" +
        s"<w:r><w:t xml:space=\"preserve\">${xmlEsc(text.substring(cut + 1))}</w:t></w:r>"
    }
    val ps = paras.map { case (text, style) =>
      val pr = style.map(s => s"<w:pPr><w:pStyle w:val=\"$s\"/></w:pPr>").getOrElse("")
      val body = if (text.isEmpty) "" else runs(text)
      s"<w:p>$pr$body</w:p>"
    }.mkString
    val tbls = tables.map { rows =>
      val trs = rows.map { cells =>
        val tcs = cells.map(c =>
          s"<w:tc><w:p>${runs(c)}</w:p></w:tc>").mkString
        s"<w:tr>$tcs</w:tr>"
      }.mkString
      s"<w:tbl>$trs</w:tbl>"
    }.mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      s"""<w:document xmlns:w="$ns"><w:body>$ps$tbls</w:body></w:document>"""
  }

  /** Zip the parts into a valid-enough OOXML container (STORED entries
    * with fixed timestamps — byte-deterministic across runs/JVMs). */
  private def zipBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, data) =>
      val e = new ZipEntry(name)
      e.setMethod(ZipEntry.STORED)
      e.setSize(data.length.toLong)
      val crc = new CRC32(); crc.update(data)
      e.setCrc(crc.getValue)
      e.setTime(0L)
      zos.putNextEntry(e); zos.write(data); zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private val contentTypesXml =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
      """</Types>"""

  def docxBytes(paras: Seq[(String, Option[String])],
                tables: Seq[Seq[Seq[String]]]): Array[Byte] =
    zipBytes(Seq(
      "[Content_Types].xml" -> contentTypesXml.getBytes(UTF_8),
      "word/document.xml" -> documentXml(paras, tables).getBytes(UTF_8)))

  // ---- EML -------------------------------------------------------------

  /** Single-part plain-text message. First body paragraph is ≤ 20 chars
    * so the >20 filter (`document_processing_service.py:522`) drops it
    * while later paragraphs keep their enumeration index. */
  val simpleEml: String = Seq(
    "Return-Path: <alice@example.com>",
    "Subject: Policy renewal",
    "From: alice@example.com",
    "To: bob@example.com",
    "Date: Mon, 01 Jan 2024 10:00:00 +0000",
    "Content-Type: text/plain; charset=utf-8",
    "",
    "Hello Bob,",
    "",
    "Your insurance policy is due for renewal next month. Please review the terms.",
    "",
    "Thanks from the renewals team at Example Insurance.").mkString("\r\n")

  /** Multipart/alternative: a quoted-printable text/plain part, a
    * base64 text/plain part, and a text/html part that the walk must
    * skip. Decoded, the two plain parts concatenate (each ends with a
    * newline) exactly as `msg.walk()` + `get_content()` appends them. */
  val multiEml: String = Seq(
    "MIME-Version: 1.0",
    "Subject: Meeting notes",
    "From: carol@example.com",
    "To: dave@example.com",
    "Date: Tue, 02 Jan 2024 09:30:00 +0000",
    "Content-Type: multipart/alternative; boundary=\"b42\"",
    "",
    "--b42",
    "Content-Type: text/plain; charset=utf-8",
    "Content-Transfer-Encoding: quoted-printable",
    "",
    "Caf=C3=A9 meeting confirmed for Tuesday at noon sharp.",
    "",
    "--b42",
    "Content-Type: text/plain; charset=utf-8",
    "Content-Transfer-Encoding: base64",
    "",
    java.util.Base64.getEncoder.encodeToString(
      "This is a base64 encoded paragraph body.\n".getBytes(UTF_8)),
    "--b42",
    "Content-Type: text/html; charset=utf-8",
    "",
    "<p>HTML body that must NOT appear in the text.</p>",
    "--b42--",
    "").mkString("\r\n")

  // ---- PDF -------------------------------------------------------------

  /** Page texts of the `contract` fixture; page 2's second line is
    * emitted via a TJ array (two string pieces) to exercise that
    * operator. */
  val contractPages: Seq[Seq[String]] = Seq(
    Seq("MASTER SERVICE AGREEMENT",
      "This agreement is made between the parties."),
    Seq("Termination requires thirty days notice.",
      "Signed by both parties."))

  /** Page texts of the `invoice` fixture — each page carries one
    * whitespace-aligned table (columns separated by runs of 2+ spaces,
    * the alignment a fixed-pitch PDF text layer produces) surrounded by
    * prose lines, for the S5-lite table detector. Page 2's line 1 goes
    * through the TJ special case in [[pdfBytes]] like `contract`'s. */
  val invoicePages: Seq[Seq[String]] = Seq(
    Seq("INVOICE 2024-001",
      "Billed to Example Corp for consulting services.",
      "Item      Qty   Price",
      "Widget    2     10.00",
      "Gadget    1     25.50",
      "Assembly  3     45.00",
      "Thank you for your business."),
    Seq("PAYMENT TERMS",
      "Net thirty days from invoice date.",
      "Method    Fee",
      "Wire      0.00",
      "Card      3.50"))

  private def pdfStrEsc(s: String) =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Minimal but structurally valid PDF: catalog → pages → one page +
    * one FlateDecode content stream per page, cross-reference table and
    * trailer included. Page 2 exercises the TJ (array-show) operator. */
  def pdfBytes(pages: Seq[Seq[String]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets_ISO))
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def beginObj(n: Int): Unit = { offsets += out.size(); w(s"$n 0 obj\n") }

    val nPages = pages.size
    val pageObjNums = (0 until nPages).map(i => 3 + 2 * i)
    w("%PDF-1.4\n")
    beginObj(1); w("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    beginObj(2)
    w(s"<< /Type /Pages /Kids [${pageObjNums.map(n => s"$n 0 R").mkString(" ")}] /Count $nPages >>\nendobj\n")
    pages.zipWithIndex.foreach { case (lines, i) =>
      val pageNum = pageObjNums(i)
      beginObj(pageNum)
      w(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents ${pageNum + 1} 0 R >>\nendobj\n")
      val ops = new StringBuilder("BT /F1 12 Tf 72 720 Td ")
      lines.zipWithIndex.foreach { case (line, li) =>
        if (li > 0) ops.append("T* ")
        if (li == 1 && line.contains(' ') && i == pages.size - 1) {
          // TJ: split into two pieces with a kerning number between
          val cut = line.indexOf(' ') + 1
          ops.append(s"[(${pdfStrEsc(line.substring(0, cut))}) -20 (${pdfStrEsc(line.substring(cut))})] TJ ")
        } else ops.append(s"(${pdfStrEsc(line)}) Tj ")
      }
      ops.append("ET")
      val data = deflate(ops.toString.getBytes(UTF_8))
      beginObj(pageNum + 1)
      w(s"<< /Length ${data.length} /Filter /FlateDecode >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    val xrefPos = out.size()
    val n = offsets.size + 1
    w(s"xref\n0 $n\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size $n /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  private val StandardCharsets_ISO = java.nio.charset.StandardCharsets.ISO_8859_1

  // ---- PDF 1.5+: xref stream + object streams ---------------------------

  /** Page texts of the `amendment` fixture (the PDF 1.5 builder below).
    * Three pages exercise a multi-kid page tree; page 2's ops are split
    * across TWO content streams (a `/Contents` array); the last page's
    * second line goes through TJ like the classic fixtures. */
  val amendmentPages: Seq[Seq[String]] = Seq(
    Seq("AMENDMENT NO 3",
      "Effective date is the first of March."),
    Seq("Scope of changes.",
      "Payment terms move to net sixty days."),
    Seq("Governing law stays unchanged.",
      "Signatures follow on the last page."))

  /** Modern (PDF 1.5+) shape of [[pdfBytes]]: the catalog, page-tree
    * and page objects live compressed inside an OBJECT STREAM
    * (`/Type /ObjStm`), content-stream `/Length`s are INDIRECT
    * references to integers that also live in the object stream, page 2
    * (when present) spreads its ops over a `/Contents` ARRAY of two
    * streams, and the only cross-reference is an XREF STREAM
    * (`/Type /XRef`, `/W [1 4 2]`, FlateDecode behind a PNG Up
    * predictor — the layout pdflatex/Chromium emit). Same visible text
    * as `pdfBytes(pages)`, so the two readers can be differentially
    * tested. */
  def pdfBytesXrefStream(pages: Seq[Seq[String]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets_ISO))
    val n = pages.size

    def lineOps(line: String, li: Int, useTJ: Boolean, useHex: Boolean): String = {
      val prefix = if (li > 0) "T* " else ""
      if (useHex)
        // UTF-16BE hex show-string — the Identity-H text form
        s"$prefix<${line.map(ch => f"${ch.toInt}%04X").mkString}> Tj "
      else if (useTJ && line.contains(' ')) {
        val cut = line.indexOf(' ') + 1
        s"$prefix[(${pdfStrEsc(line.substring(0, cut))}) -20 (${pdfStrEsc(line.substring(cut))})] TJ "
      } else s"$prefix(${pdfStrEsc(line)}) Tj "
    }
    // ops per page, pre-split into this page's content-stream parts;
    // the LAST page renders line 1 as a UTF-16BE hex show-string and
    // line 2 through a TJ array, so both show forms ride the fixture
    val partsPerPage: Seq[Seq[String]] = pages.zipWithIndex.map { case (lines, i) =>
      val frags = lines.zipWithIndex.map { case (l, li) =>
        lineOps(l, li, useTJ = li == 1 && i == n - 1, useHex = li == 0 && i == n - 1)
      }
      val head = "BT /F1 12 Tf 72 720 Td "
      if (i == 1 && frags.size >= 2)
        Seq(head + frags.head, frags.tail.mkString + "ET")
      else Seq(head + frags.mkString + "ET")
    }

    // object numbering: 1 catalog, 2 pages, 3..2+n page dicts (all in
    // the ObjStm), then per content part a stream obj + its length obj,
    // then the ObjStm, then the XRef stream
    var next = 3 + n
    val contentNums: Seq[Seq[Int]] = partsPerPage.map(_.map { _ => val c = next; next += 1; c })
    val lengthNums: Seq[Seq[Int]] = contentNums.map(_.map { _ => val l = next; next += 1; l })
    val objStmNum = { val v = next; next += 1; v }
    val xrefNum = { val v = next; next += 1; v }
    val size = next

    w("%PDF-1.5\n")
    // top-level content streams, offsets recorded for the xref rows
    val offsets = scala.collection.mutable.Map[Int, Long]()
    val deflatedParts: Seq[Seq[Array[Byte]]] = partsPerPage.map(_.map(p => deflate(p.getBytes(UTF_8))))
    pages.indices.foreach { i =>
      deflatedParts(i).zipWithIndex.foreach { case (data, pi) =>
        val num = contentNums(i)(pi)
        offsets(num) = out.size().toLong
        w(s"$num 0 obj\n<< /Length ${lengthNums(i)(pi)} 0 R /Filter /FlateDecode >>\nstream\n")
        out.write(data)
        w("\nendstream\nendobj\n")
      }
    }
    // the object stream: catalog + pages + page dicts + length ints
    val contained: Seq[(Int, String)] =
      Seq(
        1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> s"<< /Type /Pages /Kids [${(0 until n).map(i => s"${3 + i} 0 R").mkString(" ")}] /Count $n >>") ++
      pages.indices.map { i =>
        val contents =
          if (contentNums(i).size == 1) s"${contentNums(i).head} 0 R"
          else s"[${contentNums(i).map(c => s"$c 0 R").mkString(" ")}]"
        (3 + i) -> s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents $contents >>"
      } ++
      pages.indices.flatMap(i => deflatedParts(i).indices.map(pi =>
        lengthNums(i)(pi) -> deflatedParts(i)(pi).length.toString))
    val bodyOffsets = contained.map(_._2 + "\n").scanLeft(0)(_ + _.length)
    val header = contained.zip(bodyOffsets).map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
    val objStmData = deflate((header + contained.map(_._2 + "\n").mkString).getBytes(UTF_8))
    offsets(objStmNum) = out.size().toLong
    w(s"$objStmNum 0 obj\n<< /Type /ObjStm /N ${contained.size} /First ${header.length} " +
      s"/Length ${objStmData.length} /Filter /FlateDecode >>\nstream\n")
    out.write(objStmData)
    w("\nendstream\nendobj\n")
    // the xref stream: W [1 4 2] rows behind a PNG Up predictor
    val xrefPos = out.size().toLong
    offsets(xrefNum) = xrefPos
    val inObjStm: Map[Int, Int] = contained.map(_._1).zipWithIndex.toMap
    def row(num: Int): Array[Byte] = {
      val (t, f2, f3): (Int, Long, Int) =
        if (num == 0) (0, 0L, 65535)
        else inObjStm.get(num) match {
          case Some(idx) => (2, objStmNum.toLong, idx)
          case None => (1, offsets(num), 0)
        }
      Array[Byte](t.toByte,
        ((f2 >> 24) & 0xff).toByte, ((f2 >> 16) & 0xff).toByte,
        ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte,
        ((f3 >> 8) & 0xff).toByte, (f3 & 0xff).toByte)
    }
    val rowLen = 7
    val pred = new ByteArrayOutputStream()
    var prev = new Array[Byte](rowLen)
    (0 until size).foreach { num =>
      val r = row(num)
      pred.write(2) // PNG Up
      (0 until rowLen).foreach(c => pred.write((r(c) - prev(c)) & 0xff))
      prev = r
    }
    val xrefData = deflate(pred.toByteArray)
    w(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] /Root 1 0 R " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $rowLen >> " +
      s"/Length ${xrefData.length} >>\nstream\n")
    out.write(xrefData)
    w("\nendstream\nendobj\n")
    w(s"startxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** PDF 1.5+ fixture set for the xref-stream query surface (kept
    * separate from [[all]] so the classic-fixture VALUES oracles stay
    * untouched). */
  def xrefAll: Seq[(String, String, Array[Byte])] = Seq(
    ("amendment", "pdf", pdfBytesXrefStream(amendmentPages)))

  // ---- composite (CID) font + ToUnicode CMap ---------------------------

  /** Page texts of the `treaty` CID fixture. "efficient" carries an
    * `ffi` trigram (shown as ONE ligature code with a 3-char CMap
    * destination) and "xyz" rides the incrementing bfrange form — the
    * two mapping shapes a no-CMap heuristic cannot reproduce. */
  val cidPages: Seq[Seq[String]] = Seq(
    Seq("TREATY OF AMITY",
      "An efficient xyz protocol governs here."),
    Seq("Ratified by both parties in good faith.",
      "Signatures follow on the final page."))

  /** Composite-font PDF: one Type0 /Identity-H font whose /ToUnicode
    * CMap is the ONLY route back to the text — every show-string code
    * is an arbitrary 2-byte value (`0x0101 + k`, never the character's
    * Unicode), so a reader that ignores the CMap decodes garbage, not
    * approximately-right text. The font lives in the PAGE-TREE node's
    * /Resources (pages inherit it — PDF 32000-1 §7.7.3.4); the last
    * line is shown as a LITERAL string of code bytes (both string
    * forms are font-encoded in a composite font), the rest as hex
    * strings; `xyz` maps via an incrementing bfrange, `ffi` via the
    * array form with a multi-char destination. Per-char code bytes sit
    * ABOVE 0x7F (byte-transparency proof: a UTF-8 content decode would
    * mangle them); the xyz/ligature codes stay below it (mixed). */
  def pdfBytesCid(pages: Seq[Seq[String]], codeBytes: Int = 2): Array[Byte] = {
    require(codeBytes == 1 || codeBytes == 2, "fixture supports 1- or 2-byte codes")
    // 1-byte layout (legal per spec §9.7.6.2) packs everything ≤ 0x7F;
    // 2-byte is the Identity-H shape. Either way NO code equals its
    // character's Unicode value.
    val LigCode = if (codeBytes == 2) 0x0300 else 0x7a // "ffi" → one code
    val XyzBase = if (codeBytes == 2) 0x0200 else 0x70 // x,y,z → bfrange
    val chars: Seq[Char] = pages.flatten.flatMap(_.replace("ffi", "").toSeq)
      .filterNot("xyz".contains(_)).distinct
    require(codeBytes == 2 || chars.size <= 0x5e, "1-byte code space exhausted")
    val charCode: Map[Char, Int] = chars.zipWithIndex.map { case (c, k) =>
      // HIGH bytes on purpose (both halves >= 0x80 for 2-byte codes,
      // >= 0xA1 for 1-byte): the reader's content decode must be
      // byte-transparent for the CMap lookup to see the right codes —
      // a UTF-8 round-trip would fold these into U+FFFD
      c -> (if (codeBytes == 2) 0x8081 + (k / 0x7f) * 0x100 + (k % 0x7f)
            else 0xa1 + k)
    }.toMap
    val hexW = codeBytes * 2 // hex digits per code
    def encode(line: String): Seq[Int] = {
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < line.length) {
        if (line.startsWith("ffi", i)) { out += LigCode; i += 3 }
        else if ("xyz".indexOf(line.charAt(i)) >= 0) {
          out += XyzBase + "xyz".indexOf(line.charAt(i)); i += 1
        } else { out += charCode(line.charAt(i)); i += 1 }
      }
      out.toSeq
    }
    def u16(s: String) = s.map(c => f"${c.toInt}%04X").mkString
    val cmap = new StringBuilder
    cmap.append("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n")
    cmap.append("/CMapName /Graft-UCS def\n/CMapType 2 def\n")
    def cHex(code: Int) = ("%0" + hexW + "X").format(code)
    cmap.append(s"1 begincodespacerange\n<${"0" * hexW}> <${"F" * hexW}>\nendcodespacerange\n")
    cmap.append(s"${chars.size} beginbfchar\n")
    chars.foreach(c => cmap.append(s"<${cHex(charCode(c))}> <${u16(c.toString)}>\n"))
    cmap.append("endbfchar\n")
    cmap.append("2 beginbfrange\n")
    cmap.append(s"<${cHex(XyzBase)}> <${cHex(XyzBase + 2)}> <${u16("x")}>\n")
    cmap.append(s"<${cHex(LigCode)}> <${cHex(LigCode)}> [<${u16("ffi")}>]\n")
    cmap.append("endbfrange\nendcmap\n")
    cmap.append("CMapName currentdict /CMap defineresource pop\nend\nend\n")
    val cmapText = cmap.toString

    def hexShow(codes: Seq[Int]) = "<" + codes.map(cHex).mkString + "> Tj "
    def litShow(codes: Seq[Int]) = {
      val sb = new StringBuilder("(")
      codes.flatMap(c => if (codeBytes == 2) Seq((c >> 8) & 0xff, c & 0xff)
                         else Seq(c & 0xff)).foreach {
        case 0x28 => sb.append("\\(")
        case 0x29 => sb.append("\\)")
        case 0x5c => sb.append("\\\\")
        case b if b < 0x20 => sb.append(f"\\$b%03o") // raw CR/LF would be line ends
        case b => sb.append(b.toChar)
      }
      sb.append(") Tj ").toString
    }

    val out = new ByteArrayOutputStream()
    val iso = StandardCharsets_ISO
    def w(s: String): Unit = out.write(s.getBytes(iso))
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def beginObj(n: Int): Unit = { offsets += out.size(); w(s"$n 0 obj\n") }

    val nPages = pages.size
    val pageObjNums = (0 until nPages).map(i => 3 + 2 * i)
    val fontNum = 3 + 2 * nPages
    val toUniNum = fontNum + 1
    w("%PDF-1.4\n")
    beginObj(1); w("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    beginObj(2)
    w(s"<< /Type /Pages /Kids [${pageObjNums.map(n => s"$n 0 R").mkString(" ")}] " +
      s"/Count $nPages /Resources << /Font << /F9 $fontNum 0 R >> >> >>\nendobj\n")
    pages.zipWithIndex.foreach { case (lines, i) =>
      val pageNum = pageObjNums(i)
      beginObj(pageNum)
      w(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents ${pageNum + 1} 0 R >>\nendobj\n")
      val ops = new StringBuilder("BT /F9 12 Tf 72 720 Td ")
      lines.zipWithIndex.foreach { case (line, li) =>
        if (li > 0) ops.append("T* ")
        val codes = encode(line)
        if (i == nPages - 1 && li == lines.size - 1) ops.append(litShow(codes))
        else ops.append(hexShow(codes))
      }
      ops.append("ET")
      val data = deflate(ops.toString.getBytes(iso))
      beginObj(pageNum + 1)
      w(s"<< /Length ${data.length} /Filter /FlateDecode >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    beginObj(fontNum)
    w(s"<< /Type /Font /Subtype /Type0 /BaseFont /Graft-CID " +
      s"/Encoding /Identity-H /ToUnicode $toUniNum 0 R >>\nendobj\n")
    val cmapData = deflate(cmapText.getBytes(iso))
    beginObj(toUniNum)
    w(s"<< /Length ${cmapData.length} /Filter /FlateDecode >>\nstream\n")
    out.write(cmapData)
    w("\nendstream\nendobj\n")
    val xrefPos = out.size()
    val n = offsets.size + 1
    w(s"xref\n0 $n\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size $n /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** CID fixture set for the ToUnicode query surface. */
  def cidAll: Seq[(String, String, Array[Byte])] = Seq(
    ("treaty", "pdf", pdfBytesCid(cidPages)))

  // ---- HTML --------------------------------------------------------------

  /** A crawled-page-shaped fixture for [[Html.parseHtml]]: nav/footer
    * chrome, a link-heavy related-posts block, script/style bodies, a
    * comment hiding tag soup, and entity-encoded text. The expected
    * kept blocks (hand-derived under the documented heuristics) are the
    * `html_extract` oracle's VALUES. */
  val blogHtml: String =
    """<!DOCTYPE html>
      |<html><head>
      |<title>Graft &amp; the Web</title>
      |<style>body { color: red; } /* <p>not text</p> */</style>
      |<script>var x = "<p>not text either</p>";</script>
      |</head>
      |<body>
      |<nav><a href="/">Home</a> <a href="/blog">Blog</a> <a href="/about">About</a></nav>
      |<header><div>Graft Engineering Blog</div></header>
      |<article>
      |<h1>Parsing at scale</h1>
      |<p>Crawled HTML is the dominant raw format for training corpora, and boilerplate removal decides corpus quality.</p>
      |<p>Short note.</p>
      |<p>Link density separates navigation chrome from prose: see <a href="/x">the docs</a> for the exact thresholds used here.</p>
      |<div class="related"><a href="/a">Ten more posts</a> <a href="/b">you might like</a></div>
      |<!-- a comment <p>ignored</p> -->
      |<p>Entities decode: caf&#233; &amp; r&#xE9;sum&#xE9; stay readable.</p>
      |</article>
      |<footer>Copyright 2026 Graft. All rights reserved for eternity.</footer>
      |</body></html>
      |""".stripMargin

  /** HTML fixture set: the blog page plus binary garbage (NUL byte in
    * the head) that must yield NO rows, not an error. */
  def htmlAll: Seq[(String, String, Array[Byte])] = Seq(
    ("blog", "html", blogHtml.getBytes(UTF_8)),
    ("garbage_html", "html",
      Array[Byte]('<'.toByte, 'h'.toByte, 0, 1, 2, '>'.toByte)))

  /** Crawl-directive pages (`html_directives` oracle): a page carrying
    * every page-level directive a production crawler honors
    * (rel=canonical in quoted/cased form, meta robots with mixed-case
    * comma tokens, a rel=nofollow link), the `none` shorthand (=
    * noindex+nofollow), and a directive-free page whose decoy
    * attributes (data-rel, name=robots-something) must not match. */
  val directivesHtml: String =
    """<html><head><title>Directives</title>
      |<link rel="stylesheet" href="/ignored.css">
      |<link REL="canonical" HREF="https://example.com/the-one-true-url">
      |<link rel="canonical" href="/a-second-canonical-ignored">
      |<meta name="ROBOTS" content="NOINDEX, nofollow">
      |</head><body>
      |<p>A paragraph long enough to survive the boilerplate filter here.</p>
      |<p>See <a href="/paid" rel="nofollow sponsored">a paid placement</a> and
      |<a href="/organic">the organic reference</a> for details.</p>
      |</body></html>
      |""".stripMargin

  val directivesNoneHtml: String =
    """<html><head><meta name="robots" content="none"></head>
      |<body><p>The none token implies both noindex and nofollow.</p></body></html>
      |""".stripMargin

  val directivesPlainHtml: String =
    """<html><head><title>Plain</title>
      |<link data-rel="canonical" href="/decoy-not-canonical">
      |<meta name="robots-custom" content="noindex">
      |</head><body><p>No directives here; decoy attributes must not match.</p>
      |<a href="/normal">a normal followable link</a></body></html>
      |""".stripMargin

  def directivesAll: Seq[(String, String, Array[Byte])] = Seq(
    ("directives", "html", directivesHtml.getBytes(UTF_8)),
    ("none_token", "html", directivesNoneHtml.getBytes(UTF_8)),
    ("plain", "html", directivesPlainHtml.getBytes(UTF_8)))

  /** Two DIFFERENT fetch URLs (the amp/mobile-variant shape) declaring
    * the SAME canonical identity — through [[graft.operators.UrlOps
    * .canonicalizeUrl]] (case + tracking-param normalization applies to
    * DECLARED canonicals too) they collapse to one corpus row
    * (`canonical_dedup` oracle). Distinct bodies on purpose: content
    * dedup would NOT catch these. */
  val canonicalTwinAHtml: String =
    """<html><head><title>One Story (AMP)</title>
      |<link rel="canonical" href="HTTPS://Example.com/stories/one-story?utm_source=amp">
      |</head><body><p>The AMP rendering of the story body, trimmed for speed.</p></body></html>
      |""".stripMargin

  val canonicalTwinBHtml: String =
    """<html><head><title>One Story</title>
      |<link rel="canonical" href="https://example.com/stories/one-story">
      |</head><body><p>The full desktop rendering of the story body with extras.</p></body></html>
      |""".stripMargin

  /** Legacy-encoding pages for the charset-detection surface: a
    * Latin-1 page whose `é` is the single byte 0xE9 (UTF-8 would
    * mangle it), and a UTF-16LE page behind its BOM (whose NUL bytes
    * would read as binary garbage if the BOM check didn't come
    * first). */
  val latin1Html: Array[Byte] =
    ("<html><head><meta charset=\"ISO-8859-1\"><title>Café menu</title></head>" +
      "<body><p>Un café crème et un pain au chocolat, s'il vous plaît.</p>" +
      "</body></html>").getBytes(StandardCharsets_ISO)

  val utf16Html: Array[Byte] = {
    val body = "<html><head><title>Wide</title></head>" +
      "<body><p>Sixteen-bit pages decode through the byte-order mark.</p></body></html>"
    Array[Byte](0xFF.toByte, 0xFE.toByte) ++
      body.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
  }

  /** Charset fixture set (kept separate from [[htmlAll]] so its
    * oracle stays untouched). */
  def charsetHtmlAll: Seq[(String, String, Array[Byte])] = Seq(
    ("latin1", "html", latin1Html),
    ("utf16", "html", utf16Html))

  /** robots.txt for the compliance-filter surface: the specific agent
    * group (with a longest-match Allow carve-out and a prefix — not
    * path-segment — Disallow) must beat the deny-all `*` group. */
  val robotsTxt: String =
    """# Graft crawler policy
      |User-agent: graftbot
      |Disallow: /private/
      |Allow: /private/press/   # carve-out inside the disallowed tree
      |Disallow: /tmp
      |Crawl-delay: 2
      |
      |User-agent: *
      |Disallow: /
      |Crawl-delay: 10
      |""".stripMargin

  /** sitemaps.org fixtures: a urlset (full fields, loc-only, an
    * entity-escaped loc) and an index pointing at two child maps. */
  val sitemapXml: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      | <url>
      |  <loc>http://example.com/blog</loc>
      |  <lastmod>2026-01-15</lastmod>
      |  <priority>0.8</priority>
      | </url>
      | <url><loc>http://example.com/about</loc></url>
      | <url>
      |  <loc>http://example.com/search?q=a&amp;lang=en</loc>
      |  <priority>0.25</priority>
      | </url>
      |</urlset>
      |""".stripMargin

  val sitemapIndexXml: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      | <sitemap><loc>http://example.com/sitemap-posts.xml</loc>
      |  <lastmod>2026-02-01</lastmod></sitemap>
      | <sitemap><loc>http://example.com/sitemap-pages.xml</loc></sitemap>
      |</sitemapindex>
      |""".stripMargin

  def sitemapAll: Seq[(String, Array[Byte])] = Seq(
    ("posts", sitemapXml.getBytes(UTF_8)),
    // sitemap.xml.gz: the same urlset gzip-compressed (sitemaps.org
    // allows it; large sites ship maps only this way)
    ("posts_gz", {
      val out = new ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      try gz.write(sitemapXml.getBytes(UTF_8)) finally gz.close()
      out.toByteArray
    }),
    ("index", sitemapIndexXml.getBytes(UTF_8)))

  // ---- WARC --------------------------------------------------------------

  private def warcRecordBytes(headers: Seq[(String, String)],
                              body: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => h ++= s"$k: $v\r\n" }
    h ++= s"Content-Length: ${body.length}\r\n\r\n"
    h.toString.getBytes(StandardCharsets_ISO) ++ body ++
      "\r\n\r\n".getBytes(StandardCharsets_ISO)
  }

  private def httpResponseBytes(status: Int, reason: String, ctype: String,
                                payload: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 $status $reason\r\nContent-Type: $ctype\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(StandardCharsets_ISO) ++
      payload

  /** A five-record crawl WARC: warcinfo, a request (ignored by the
    * HTML chain), a 200 text/html response carrying [[blogHtml]], a
    * 404, and a 200 of the wrong content type. Deterministic bytes. */
  val crawlWarc: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    crawlWarcRecords.foreach(out.write)
    out.toByteArray
  }

  /** The same records as one gzip MEMBER each, concatenated — the
    * CommonCrawl `.warc.gz` framing (GZIPInputStream reads members
    * back-to-back; Java writes MTIME=0, so bytes are deterministic). */
  val crawlWarcGz: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    crawlWarcRecords.foreach { rec =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      // close(), not just finish(): each member leaks a native Deflater
      // otherwise; closing after finish() on the shared BAOS is safe
      try gz.write(rec) finally gz.close()
    }
    out.toByteArray
  }

  private lazy val crawlWarcRecords: Seq[Array[Byte]] = Seq(
    warcRecordBytes(
      Seq("WARC-Type" -> "warcinfo", "WARC-Record-ID" -> "<urn:uuid:0001>"),
      "software: graft-crawler/1.0\r\n".getBytes(StandardCharsets_ISO)),
    warcRecordBytes(
      Seq("WARC-Type" -> "request",
        "WARC-Target-URI" -> "http://example.com/blog",
        "WARC-Record-ID" -> "<urn:uuid:0002>"),
      "GET /blog HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes(StandardCharsets_ISO)),
    warcRecordBytes(
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/blog",
        "WARC-Record-ID" -> "<urn:uuid:0003>"),
      httpResponseBytes(200, "OK", "text/html; charset=utf-8",
        blogHtml.getBytes(UTF_8))),
    warcRecordBytes(
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/gone",
        "WARC-Record-ID" -> "<urn:uuid:0004>"),
      httpResponseBytes(404, "Not Found", "text/html",
        "<html><body>Not Found</body></html>".getBytes(StandardCharsets_ISO))),
    warcRecordBytes(
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "http://example.com/report.pdf",
        "WARC-Record-ID" -> "<urn:uuid:0005>"),
      httpResponseBytes(200, "OK", "application/pdf",
        "%PDF-1.4 fake".getBytes(StandardCharsets_ISO))))

  /** WARC fixture set: the SAME records plain and member-gzipped — the
    * reader must produce identical rows for both framings. */
  def warcAll: Seq[(String, Array[Byte])] = Seq(
    ("crawl", crawlWarc),
    ("crawl_gz", crawlWarcGz))

  // ---- assembled fixture set ------------------------------------------

  /** A structurally-VALID encrypted PDF: proper objects, xref and
    * trailer, but the trailer carries `/Encrypt 5 0 R` (PDF 32000-1
    * §7.6, the RC4 "Standard" security-handler shape) and the content
    * stream holds stand-in CIPHERTEXT (the plaintext ops XOR-scrambled).
    * The reader must classify it `encrypted` and emit NO text — the
    * scrambled bytes decoding to garbage "pages" is exactly the failure
    * the explicit /Encrypt check exists to prevent. */
  def encryptedPdfBytes: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets_ISO))
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def beginObj(n: Int): Unit = { offsets += out.size(); w(s"$n 0 obj\n") }
    w("%PDF-1.4\n")
    beginObj(1); w("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    beginObj(2); w("<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    beginObj(3); w("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n")
    val plain = "BT /F1 12 Tf 72 720 Td (Top secret clause.) Tj ET"
      .getBytes(StandardCharsets_ISO)
    val cipher = plain.zipWithIndex
      .map { case (b, i) => (b ^ (0x5A + i % 7)).toByte }
    beginObj(4)
    w(s"<< /Length ${cipher.length} >>\nstream\n"); out.write(cipher)
    w("\nendstream\nendobj\n")
    beginObj(5)
    w("<< /Filter /Standard /V 1 /R 2 /P -44 " +
      "/O (0123456789abcdef0123456789abcdef) " +
      "/U (fedcba9876543210fedcba9876543210) >>\nendobj\n")
    val xrefPos = out.size()
    w(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R /Encrypt 5 0 R >>\n" +
      s"startxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** (doc, fmt, bytes): the parse-query corpus, including two corrupt
    * members and one encrypted member for the validator surface. */
  def all: Seq[(String, String, Array[Byte])] = Seq(
    ("policy", "docx", docxBytes(policyParas, Seq(policyTable))),
    ("memo", "docx", docxBytes(memoParas, Seq.empty)),
    ("simple", "eml", simpleEml.getBytes(UTF_8)),
    ("multi", "eml", multiEml.getBytes(UTF_8)),
    ("contract", "pdf", pdfBytes(contractPages)),
    ("invoice", "pdf", pdfBytes(invoicePages)),
    ("locked", "pdf", encryptedPdfBytes),
    ("garbage_docx", "docx", Array[Byte](0x50, 0x4b, 0x03, 0x04, 0x00, 0x01, 0x02)),
    ("garbage_pdf", "pdf", "%PDF-1.4 not really a pdf".getBytes(UTF_8)))
}
