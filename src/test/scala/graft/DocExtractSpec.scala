package graft

import graft.operators.{DocExtract, DocFixtures}

/** S4/S8/S9 extractors against the deterministic fixtures — expected
  * values are hand-derived from the fixture constants, not captured
  * from the implementation. */
class DocExtractSpec extends SparkSpec {

  /** HYBRID-reference variant (Acrobat's 1.4-compat layout): the same
    * body as [[DocFixtures.pdfBytesXrefStream]], but `startxref` points
    * at a CLASSIC xref table whose trailer carries `/XRefStm` → the xref
    * stream that actually holds the compressed-object entries. A
    * classic-only reader sees a well-formed (if sparse) table; a 1.5
    * reader follows /XRefStm for the ObjStm members. */
  private def pdfBytesHybrid(pages: Seq[Seq[String]]): Array[Byte] = {
    val base = DocFixtures.pdfBytesXrefStream(pages)
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    val raw = new String(base, iso)
    // body = everything up to (and excluding) the builder's startxref
    val sx = raw.lastIndexOf("startxref")
    val body = raw.substring(0, sx)
    val xrefStmPos = raw.substring(sx + "startxref".length).trim.takeWhile(_.isDigit).toLong
    val size = "/Size (\\d+)".r.findFirstMatchIn(raw).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException("no /Size in base pdf"))
    val out = new java.io.ByteArrayOutputStream()
    out.write(body.getBytes(iso))
    val tablePos = out.size()
    out.write((s"xref\n0 1\n0000000000 65535 f \n" +
      s"trailer\n<< /Size $size /Root 1 0 R /XRefStm $xrefStmPos >>\n" +
      s"startxref\n$tablePos\n%%EOF\n").getBytes(iso))
    out.toByteArray
  }

  // ---- DOCX ------------------------------------------------------------

  test("docx: paragraphs keep their full-enumeration index, headings become sections") {
    val chunks = DocExtract.parseDocx(
      DocFixtures.docxBytes(DocFixtures.policyParas, Seq(DocFixtures.policyTable))).get
    val paras = chunks.filter(_.chunk_type != "table")
    assert(paras.map(_.chunk_idx) == Seq(0, 1, 3, 4, 5)) // idx 2 is the blank paragraph
    assert(paras.head.chunk_type == "section")
    assert(paras.head.section_title.contains("Coverage Policy"))
    assert(paras.head.style.contains("Heading1"))
    assert(paras(1).chunk_type == "paragraph")
    assert(paras(1).section_title.isEmpty)
    assert(paras(1).style.contains("Normal"))
    assert(paras(1).content == "This policy covers accidental damage to insured property.")
  }

  test("docx: table chunk is pipe-joined rows, newline-joined") {
    val chunks = DocExtract.parseDocx(
      DocFixtures.docxBytes(DocFixtures.policyParas, Seq(DocFixtures.policyTable))).get
    val table = chunks.filter(_.chunk_type == "table")
    assert(table.size == 1)
    assert(table.head.content == "Item | Limit\nLaptop | 1000\nPhone | 500")
  }

  test("docx: corrupt bytes yield None, not an exception") {
    assert(DocExtract.parseDocx(Array[Byte](0x50, 0x4b, 0x03, 0x04, 1, 2, 3)).isEmpty)
    assert(DocExtract.parseDocx("not a zip at all".getBytes).isEmpty)
  }

  test("docx: XML external entities are rejected (untrusted input)") {
    // a document.xml with a DOCTYPE must not parse (XXE hardening)
    val evil = ("""<?xml version="1.0"?><!DOCTYPE d [<!ENTITY x SYSTEM "file:///etc/hostname">]>""" +
      """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      """<w:body><w:p><w:r><w:t>&x;</w:t></w:r></w:p></w:body></w:document>""").getBytes("UTF-8")
    val zipped = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
      zos.write(evil); zos.closeEntry(); zos.close()
      bos.toByteArray
    }
    assert(DocExtract.parseDocx(zipped).isEmpty)
  }

  // ---- EML -------------------------------------------------------------

  test("eml single-part: headers chunk + >20-char paragraphs with gap-preserving index") {
    val p = DocExtract.parseEml(DocFixtures.simpleEml.getBytes("UTF-8")).get
    assert(!p.multipart)
    assert(p.subject == "Policy renewal")
    assert(p.headerText ==
      "Subject: Policy renewal\nFrom: alice@example.com\nTo: bob@example.com\n" +
        "Date: Mon, 01 Jan 2024 10:00:00 +0000")
    val chunks = DocExtract.emlChunks(p)
    // "Hello Bob," (idx 0, 10 chars) is dropped; idx 1 and 2 survive
    assert(chunks.map(c => (c.chunk_type, c.chunk_idx)) ==
      Seq(("headers", -1), ("paragraph", 1), ("paragraph", 2)))
    assert(chunks(1).content ==
      "Your insurance policy is due for renewal next month. Please review the terms.")
    assert(chunks(2).content == "Thanks from the renewals team at Example Insurance.")
  }

  test("eml multipart: QP and base64 text/plain parts concatenate, html skipped") {
    val p = DocExtract.parseEml(DocFixtures.multiEml.getBytes("UTF-8")).get
    assert(p.multipart)
    assert(p.bodyText ==
      "Café meeting confirmed for Tuesday at noon sharp.\n" +
        "This is a base64 encoded paragraph body.\n")
    val chunks = DocExtract.emlChunks(p)
    assert(chunks.size == 2) // headers + the one (joined) paragraph
    assert(chunks(1).content ==
      "Café meeting confirmed for Tuesday at noon sharp.\nThis is a base64 encoded paragraph body.")
  }

  test("eml: boundary lines with RFC-2046 transport padding still delimit") {
    val padded = DocFixtures.multiEml.replace("--b42\r\n", "--b42 \r\n")
      .replace("--b42--", "--b42-- ")
    val p = DocExtract.parseEml(padded.getBytes("UTF-8")).get
    assert(p.bodyText ==
      "Café meeting confirmed for Tuesday at noon sharp.\n" +
        "This is a base64 encoded paragraph body.\n")
  }

  test("eml: literal non-ASCII chars in a QP body survive decoding") {
    val eml = ("Subject: s\r\nFrom: a@b.c\r\nTo: d@e.f\r\nDate: x\r\n" +
      "Content-Type: text/plain; charset=utf-8\r\n" +
      "Content-Transfer-Encoding: quoted-printable\r\n\r\n" +
      "café und straße plus 中 literal with =C3=A9 encoded too.\r\n")
      .getBytes("UTF-8")
    val p = DocExtract.parseEml(eml).get
    assert(p.bodyText == "café und straße plus 中 literal with é encoded too.\n")
  }

  test("pdf: truncated FlateDecode stream yields None, not partial text") {
    val good = DocFixtures.pdfBytes(DocFixtures.contractPages)
    val raw = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
    // chop the tail off the first stream's data, keeping structure around it
    val s = raw.indexOf("stream\n") + "stream\n".length
    val e = raw.indexOf("\nendstream")
    val truncated = (raw.substring(0, s + (e - s) / 2) + raw.substring(e))
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(DocExtract.parsePdf(truncated).isEmpty)
  }

  test("eml: QP escapes are strict two-hex-digit; astral-plane literals survive") {
    val eml = ("Subject: s\r\nFrom: a@b.c\r\nTo: d@e.f\r\nDate: x\r\n" +
      "Content-Type: text/plain; charset=utf-8\r\n" +
      "Content-Transfer-Encoding: quoted-printable\r\n\r\n" +
      "x=+9y and z=-1w stay literal; emoji 😀 survives; =41 decodes.\r\n")
      .getBytes("UTF-8")
    val p = DocExtract.parseEml(eml).get
    assert(p.bodyText ==
      "x=+9y and z=-1w stay literal; emoji 😀 survives; A decodes.\n")
  }

  test("eml: folded headers unfold before extraction") {
    val folded = "Subject: a very\r\n long subject\r\nFrom: x@y.z\r\n\r\nBody paragraph long enough to keep.\r\n"
    val p = DocExtract.parseEml(folded.getBytes("UTF-8")).get
    assert(p.subject == "a very long subject")
  }

  // ---- PDF -------------------------------------------------------------

  test("pdf: FlateDecode content streams decode page text in order") {
    val pages = DocExtract.parsePdf(DocFixtures.pdfBytes(DocFixtures.contractPages)).get
    assert(pages.map(_.page) == Seq(1, 2))
    assert(pages(0).text ==
      "MASTER SERVICE AGREEMENT\nThis agreement is made between the parties.")
    // page 2 line 2 went through a TJ array with a kerning number
    assert(pages(1).text ==
      "Termination requires thirty days notice.\nSigned by both parties.")
  }

  test("pdf: escaped parens and octal escapes in strings") {
    val ops = "BT (paren \\( inside \\)) Tj T* (tab\\there) Tj T* (\\101\\102) Tj ET"
    assert(DocExtract.decodeContentOps(ops) == "paren ( inside )\ntab\there\nAB")
  }

  test("pdf: corrupt bytes yield None") {
    assert(DocExtract.parsePdf("%PDF-1.4 not really a pdf".getBytes).isEmpty)
    assert(DocExtract.parsePdf("plain text".getBytes).isEmpty)
  }

  test("pdf 1.5: xref stream + ObjStm + indirect /Length parse in tree order") {
    val pages = DocExtract.parsePdf(
      DocFixtures.pdfBytesXrefStream(DocFixtures.amendmentPages)).get
    assert(pages.map(_.page) == Seq(1, 2, 3))
    assert(pages(0).text ==
      "AMENDMENT NO 3\nEffective date is the first of March.")
    // page 2's ops are split over a /Contents ARRAY of two streams
    assert(pages(1).text ==
      "Scope of changes.\nPayment terms move to net sixty days.")
    // last page: line 1 is a UTF-16BE HEX show-string (Identity-H's
    // text form), line 2 a TJ array
    assert(pages(2).text ==
      "Governing law stays unchanged.\nSignatures follow on the last page.")
  }

  test("property: PDF COS lexer round-trips random value trees") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.operators.DocExtract._
    // deterministic draws — no flaky CI (the BpeSpec samples pattern)
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(777L + i)))
    val nameGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(cs => PName(cs.mkString)))
    val numGen = Gen.oneOf(
      Gen.choose(-9999, 9999).map(v => PNum(v.toDouble)),
      Gen.choose(-99.0, 99.0).map(v => PNum(math.round(v * 100) / 100.0)))
    val refGen = Gen.choose(1, 9999).map(PRef(_))
    val boolGen = Gen.oneOf(PBool(true), PBool(false))
    def valGen(depth: Int): Gen[PVal] =
      if (depth <= 0) Gen.oneOf(nameGen, numGen, refGen, boolGen, Gen.const(PNullV))
      else Gen.frequency(
        3 -> nameGen, 3 -> numGen, 2 -> refGen, 1 -> boolGen, 1 -> Gen.const(PNullV),
        2 -> Gen.choose(0, 4).flatMap(n =>
          Gen.listOfN(n, valGen(depth - 1)).map(xs => PArr(xs.toVector))),
        2 -> Gen.choose(0, 4).flatMap(n =>
          Gen.listOfN(n, Gen.zip(nameGen.map(_.v), valGen(depth - 1)))
            .map(kvs => PDict(kvs.toMap))))
    // canonical serializer — integers render without the .0 tail, the
    // form real PDFs carry
    def render(v: PVal): String = v match {
      case PNum(d) if d == math.floor(d) && !d.isInfinite => d.toLong.toString
      case PNum(d) => d.toString
      case PRef(n) => s"$n 0 R"
      case PName(n) => s"/$n"
      case PBool(b) => b.toString
      case PNullV => "null"
      case PArr(xs) => xs.map(render).mkString("[ ", " ", " ]")
      case PDict(m) => m.toSeq.sortBy(_._1)
        .map { case (k, x) => s"/$k ${render(x)}" }.mkString("<< ", " ", " >>")
      case PStr(s) => s"($s)"
    }
    // normalize dict key order for the comparison (maps are unordered)
    def canon(v: PVal): PVal = v match {
      case PArr(xs) => PArr(xs.map(canon))
      case PDict(m) => PDict(m.map { case (k, x) => k -> canon(x) })
      case other => other
    }
    samples(valGen(3), 150).foreach { v =>
      val text = render(v)
      val parsed = new PdfLex(text, 0).value()
      assert(canon(parsed) == canon(v), s"round-trip broke on: $text")
    }
    // the ref/number ambiguity the lookahead must resolve per spec:
    // "1 2 0 R 3" is [1, ref(2), 3], never [ref(1), 0, R, 3]
    assert(new PdfLex("[ 1 2 0 R 3 ]", 0).value() ==
      PArr(Vector(PNum(1), PRef(2), PNum(3))))
  }

  test("fuzz: mutated and truncated PDFs never throw — None or best-effort text") {
    // the parse contract is total: damaged bytes yield None (or less
    // text), never an exception and never a hang — the xref reader's
    // cycle guards (/Prev, ObjStm loading, page-tree visited set) and
    // the linear fallback's bounds are what this pins
    val builders = Seq(
      DocFixtures.pdfBytes(DocFixtures.contractPages),
      DocFixtures.pdfBytesXrefStream(DocFixtures.amendmentPages),
      pdfBytesHybrid(DocFixtures.amendmentPages),
      DocFixtures.pdfBytesCid(DocFixtures.cidPages))
    val rnd = new scala.util.Random(4242)
    builders.foreach { base =>
      // byte flips: 40 single-byte mutations at random offsets
      (1 to 40).foreach { _ =>
        val b = base.clone()
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        DocExtract.parsePdf(b) // must return, whatever the Option is
      }
      // truncations: every ~7% prefix boundary
      (1 until 15).foreach { k =>
        DocExtract.parsePdf(java.util.Arrays.copyOf(base, base.length * k / 15))
      }
      // and the unmutated base still parses fully
      assert(DocExtract.parsePdf(base).exists(_.nonEmpty))
    }
  }

  test("pdf CID: ToUnicode CMap recovers text from arbitrary codes") {
    // the fixture's show-strings carry codes with NO relation to the
    // characters (0x0101+k): correct text proves the CMap route is
    // taken for hex AND literal strings, through bfchar, both bfrange
    // forms (incrementing `xyz`, array-form `ffi` → 3 chars), and a
    // page-tree-INHERITED /Resources /Font
    val pages = DocExtract.parsePdf(DocFixtures.pdfBytesCid(DocFixtures.cidPages))
    assert(pages.isDefined)
    assert(pages.get.map(_.text) === DocFixtures.cidPages.map(_.mkString("\n")))
  }

  test("pdf CID: 1-byte codespace decodes through the same CMap route") {
    // a composite font may declare a 1-byte code space (§9.7.6.2) —
    // parseToUnicode reads the width from begincodespacerange and
    // mapCodes consumes 1-byte codes; same text, half the bytes
    val pages = DocExtract.parsePdf(
      DocFixtures.pdfBytesCid(DocFixtures.cidPages, codeBytes = 1))
    assert(pages.isDefined)
    assert(pages.get.map(_.text) === DocFixtures.cidPages.map(_.mkString("\n")))
  }

  test("property: CID and classic builders extract identical text (both widths)") {
    // differential: the same random page texts through pdfBytes (plain
    // Latin-1 show-strings) and pdfBytesCid (arbitrary codes + CMap)
    // must decode to the same pages — the CMap round-trip is exercised
    // over arbitrary content, not just the hand-picked fixture
    val rnd = new scala.util.Random(9090)
    val alpha = "abcdefghijklmnopqrstuvwxyz ABCDEFGHIJKLMNOPQRSTUVWXYZ.,"
    (1 to 10).foreach { _ =>
      val pages = Seq.fill(1 + rnd.nextInt(3))(
        Seq.fill(1 + rnd.nextInt(4))(
          // occasionally seed the special trigrams the CMap maps
          (if (rnd.nextBoolean()) "ffi xyz " else "") +
            Seq.fill(3 + rnd.nextInt(20))(alpha(rnd.nextInt(alpha.length))).mkString))
      val classic = DocExtract.parsePdf(DocFixtures.pdfBytes(pages)).get.map(_.text)
      Seq(1, 2).foreach { w =>
        val cid = DocExtract.parsePdf(DocFixtures.pdfBytesCid(pages, codeBytes = w))
        assert(cid.isDefined && cid.get.map(_.text) === classic,
          s"codeBytes=$w diverged on: $pages")
      }
    }
  }

  test("pdf CID: a font without /ToUnicode keeps the byte heuristics") {
    // strip the /ToUnicode entry: the same document must still parse
    // (no crash, no None) but the codes now decode heuristically —
    // wrong-looking text is acceptable there, failure is not
    val raw = new String(DocFixtures.pdfBytesCid(DocFixtures.cidPages),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    // the ToUnicode ref sits in the font dict; blank it out in place
    // (same byte length, so the xref offsets stay valid)
    val m = "/ToUnicode \\d+ 0 R".r.findFirstMatchIn(raw).get
    val blanked = raw.substring(0, m.start) + (" " * (m.end - m.start)) + raw.substring(m.end)
    val pages = DocExtract.parsePdf(
      blanked.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(pages.isDefined && pages.get.nonEmpty)
    assert(pages.get.map(_.text) !== DocFixtures.cidPages.map(_.mkString("\n")),
      "without the CMap the arbitrary codes cannot decode to the real text")
  }

  test("pdf CID: parseToUnicode handles bfchar, both bfrange forms, and junk") {
    val cm = DocExtract.parseToUnicode(
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |1 begincodespacerange <0000> <FFFF> endcodespacerange
        |2 beginbfchar
        |<0003> <0041>
        |<0004> <FB03>
        |endbfchar
        |2 beginbfrange
        |<0010> <0012> <0061>
        |<0020> <0021> [<00580059005A> <005A>]
        |endbfrange
        |endcmap end""".stripMargin)
    assert(cm.codeBytes === 2)
    assert(cm.map(0x0003) === "A")
    assert(cm.map(0x0004) === "ﬃ") // the ffi ligature codepoint
    assert(cm.map(0x0010) === "a" && cm.map(0x0011) === "b" && cm.map(0x0012) === "c")
    assert(cm.map(0x0020) === "XYZ" && cm.map(0x0021) === "Z")
    // junk in, nothing out — never an exception
    val junk = DocExtract.parseToUnicode("beginbfrange <zz> oops [ endbfrange")
    assert(junk.map.isEmpty)
    // a hostile full-space range is capped, not materialized beyond 2^16
    val wide = DocExtract.parseToUnicode(
      "1 beginbfrange <0000> <FFFF> <0041> endbfrange")
    assert(wide.map.size === 0x10000)
    // ...and the cap is TOTAL, not per-range: thousands of repeated
    // full-space ranges (a ~30-byte line each) must not amplify into
    // range-count × 2^16 entries (the OOM a Try cannot catch)
    val hostile = "beginbfrange\n" +
      ("<0000> <FFFF> <0041>\n" * 3000) + "endbfrange"
    val t0 = System.nanoTime()
    val capped = DocExtract.parseToUnicode(hostile)
    assert(capped.map.size === 0x10000)
    assert((System.nanoTime() - t0) / 1e9 < 10.0, "amplification must be capped")
  }

  test("pdf hex show-strings: UTF-16BE and Latin-1 byte layouts, odd-pad, TJ mix") {
    // 1-byte codes → Latin-1; zero-high-byte pairs → UTF-16BE
    assert(DocExtract.decodeContentOps("BT <48656C6C6F> Tj ET") == "Hello")
    assert(DocExtract.decodeContentOps(
      "BT <00480065006C006C006F> Tj ET") == "Hello")
    // odd digit count pads a trailing 0: <48656C6C6F7> = "Hello" + 0x70
    assert(DocExtract.decodeContentOps("BT <48656C6C6F7> Tj ET") == "Hellop")
    // hex and literal pieces mix inside one TJ array
    assert(DocExtract.decodeContentOps(
      "BT [(He) -10 <6C6C6F> -10 ( there)] TJ ET") == "Hello there")
    // whitespace inside the hex string is insignificant (spec 7.3.4.3)
    assert(DocExtract.decodeContentOps("BT <4865 6C6C 6F> Tj ET") == "Hello")
  }

  test("pdf 1.5: differential — same text as the classic builder") {
    val modern = DocExtract.parsePdf(
      DocFixtures.pdfBytesXrefStream(DocFixtures.contractPages)).get
    val classic = DocExtract.parsePdf(
      DocFixtures.pdfBytes(DocFixtures.contractPages)).get
    assert(modern == classic)
  }

  test("pdf hybrid: classic trailer's /XRefStm reaches the ObjStm entries") {
    val pages = DocExtract.parsePdf(
      pdfBytesHybrid(DocFixtures.amendmentPages)).get
    assert(pages == DocExtract.parsePdf(
      DocFixtures.pdfBytesXrefStream(DocFixtures.amendmentPages)).get)
  }

  test("pdf 1.5: lying startxref falls back to the linear stream scan") {
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    val good = new String(
      DocFixtures.pdfBytesXrefStream(DocFixtures.amendmentPages), iso)
    val broken = good.replaceAll("startxref\\n\\d+", "startxref\n2").getBytes(iso)
    val pages = DocExtract.parsePdf(broken).get
    // the linear scan sees raw content STREAMS, not the page tree: the
    // /Contents-array page contributes two entries (4 total), and the
    // ObjStm/xref streams decode to op-less bytes that emit nothing
    assert(pages.map(_.text) == Seq(
      "AMENDMENT NO 3\nEffective date is the first of March.",
      "Scope of changes.",
      "Payment terms move to net sixty days.",
      "Governing law stays unchanged.\nSignatures follow on the last page."))
  }

  // ---- Spark surface ---------------------------------------------------

  test("streaming: binaryFile source → extractor → chunk rows (S3→S8 as a stream)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_binstream").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "policy.docx").toPath,
        DocFixtures.docxBytes(DocFixtures.policyParas, Seq(DocFixtures.policyTable)))
      java.nio.file.Files.write(new java.io.File(dir, "memo.docx").toPath,
        DocFixtures.docxBytes(DocFixtures.memoParas, Seq.empty))
      val seen = scala.collection.mutable.ArrayBuffer[String]()
      val src = spark.readStream.format("binaryFile")
        .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
        .option("pathGlobFilter", "*.docx").load(dir.getAbsolutePath)
        .withColumn("doc", regexp_extract(col("path"), "([^/]+)\\.docx$", 1))
      val q = src.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = DocExtract.docxChunks(batch).collect().map(_.getAs[String]("chunk_id"))
          seen.synchronized { seen ++= ids }
          ()
        }
        .start()
      q.awaitTermination(60000L)
      assert(seen.sorted.toSeq == Seq(
        "memo_para_0", "memo_para_1", "memo_para_2",
        "policy_para_0", "policy_para_1", "policy_para_3", "policy_para_4",
        "policy_para_5", "policy_table_0"))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete(); ()
    }
  }

  test("spark surface: chunk ids follow the reference scheme; validators agree") {
    val fx = DocExtract.fixturesDF(spark)
    val docx = DocExtract.docxChunks(fx.filter(org.apache.spark.sql.functions.col("fmt") === "docx"))
      .collect().map(r => r.getAs[String]("chunk_id")).sorted
    assert(docx.contains("policy_para_0"))
    assert(docx.contains("policy_table_0"))
    assert(docx.contains("memo_para_2"))
    val eml = DocExtract.emlChunksDF(fx.filter(org.apache.spark.sql.functions.col("fmt") === "eml"))
      .collect().map(r => r.getAs[String]("chunk_id")).sorted
    assert(eml.toSeq == Seq("multi_body_0", "multi_headers", "simple_body_1", "simple_body_2", "simple_headers"))
    val valid = DocExtract.validateAll(fx).collect()
      .map(r => (r.getAs[String]("doc"),
        (r.getAs[Boolean]("is_valid"), Option(r.getAs[String]("error"))))).toMap
    assert(valid == Map(
      "policy" -> (true, None), "memo" -> (true, None),
      "simple" -> (true, None), "multi" -> (true, None),
      "contract" -> (true, None), "invoice" -> (true, None),
      "locked" -> (false, Some("encrypted")),
      "garbage_docx" -> (false, Some("parse_failed")),
      "garbage_pdf" -> (false, Some("parse_failed"))))
  }

  test("S4: encrypted PDF classifies 'encrypted' and yields NO text, ever") {
    val enc = DocFixtures.encryptedPdfBytes
    assert(DocExtract.pdfEncrypted(enc))
    assert(DocExtract.parsePdf(enc).isEmpty) // never ciphertext-garbled pages
    assert(DocExtract.parsePdfTables(enc).isEmpty)
    // plain fixtures must NOT misclassify
    assert(!DocExtract.pdfEncrypted(DocFixtures.pdfBytes(DocFixtures.contractPages)))
    assert(!DocExtract.pdfEncrypted(DocFixtures.pdfBytesXrefStream(DocFixtures.amendmentPages)))
    assert(!DocExtract.pdfEncrypted("%PDF-1.4 not really a pdf".getBytes("UTF-8")))
    // a DAMAGED encrypted file (xref clobbered) still reports encrypted
    // via the conservative textual probe — and still yields no pages
    val damaged = {
      val s = new String(enc, "ISO-8859-1")
      val cut = s.lastIndexOf("startxref")
      s.substring(0, cut).getBytes("ISO-8859-1")
    }
    assert(DocExtract.pdfEncrypted(damaged))
    assert(DocExtract.parsePdf(damaged).isEmpty)
  }

  // ---- S5-lite table detection ----------------------------------------

  test("S5: detector finds aligned blocks, first row is headers") {
    val page = DocFixtures.invoicePages.head.mkString("\n")
    val ts = DocExtract.detectTables(page)
    assert(ts.size == 1)
    val (h, rows) = ts.head
    assert(h == Seq("Item", "Qty", "Price"))
    assert(rows == Seq(
      Seq("Widget", "2", "10.00"),
      Seq("Gadget", "1", "25.50"),
      Seq("Assembly", "3", "45.00")))
  }

  test("S5: prose pages yield no tables; single aligned line is below minRows") {
    val prose = DocFixtures.contractPages.head.mkString("\n")
    assert(DocExtract.detectTables(prose).isEmpty)
    assert(DocExtract.detectTables("Name  Value\nsome prose line").isEmpty)
  }

  test("S5: ragged rows right-pad to the block's max width") {
    val page = Seq(
      "Item      Qty   Price",
      "Widget    2     10.00",
      "Total           80.50").mkString("\n")
    val ts = DocExtract.detectTables(page)
    assert(ts.size == 1)
    // no x-coords → the short row pads at the END (documented deviation
    // from pdfplumber's coordinate placement)
    assert(ts.head._2.last == Seq("Total", "80.50", ""))
  }

  test("S5: two separate blocks on one page get distinct table_idx") {
    val bytes = DocFixtures.pdfBytes(DocFixtures.invoicePages)
    val ts = DocExtract.parsePdfTables(bytes).get
    assert(ts.map(t => (t.page, t.table_idx)) == Seq((1, 0), (2, 0)))
    assert(DocExtract.parsePdfTables("%PDF-1.4 junk".getBytes("UTF-8")).isEmpty)
  }

  test("C3 input: structured DOCX tables carry header/data row split") {
    val ts = DocExtract.parseDocxTables(
      DocFixtures.docxBytes(DocFixtures.policyParas, Seq(DocFixtures.policyTable))).get
    assert(ts.size == 1)
    assert(ts.head.headers == Seq("Item", "Limit"))
    assert(ts.head.rows == Seq(Seq("Laptop", "1000"), Seq("Phone", "500")))
    assert(DocExtract.parseDocxTables(
      DocFixtures.docxBytes(DocFixtures.memoParas, Seq.empty)).get.isEmpty)
  }
}
