package graft.ops

import org.scalatest.funsuite.AnyFunSuite

class PdfSpec extends AnyFunSuite {

  // ---- string decoding ----

  test("literalString: escapes, octal, continuation, nesting") {
    def lit(s: String) = Pdf.literalString(s, 0)._1
    assert(lit("(plain)") === "plain")
    assert(lit("(a\\(b\\)c)") === "a(b)c")
    assert(lit("(tab\\there)") === "tab\there")
    assert(lit("(oct \\101\\102)") === "oct AB")
    assert(lit("(oct\\0601)") === "oct01") // 2-digit octal \060='0' then '1'
    assert(lit("(con\\\ntinued)") === "continued")
    assert(lit("(nested (inner) out)") === "nested (inner) out")
    assert(lit("(back\\\\slash)") === "back\\slash")
    assert(lit("(unknown \\z esc)") === "unknown z esc")
    assert(lit("(unterminated") === "unterminated") // reads to end
  }

  test("hexString: pairs, whitespace, odd padding") {
    def hex(s: String) = Pdf.hexString(s, 0)._1
    assert(hex("<48656C6C6F>") === "Hello")
    assert(hex("<48 65 6C\n6C 6F>") === "Hello")
    assert(hex("<484>") === "H@") // odd digit pads a trailing 0: 0x40='@'
    assert(hex("<>") === "")
  }

  // ---- content parsing ----

  test("parseContent: Tj/TJ/quotes/line ops, dict skip, comments") {
    assert(Pdf.parseContent("BT (a) Tj (b) Tj ET") === "ab")
    assert(Pdf.parseContent("[(x) -200 (y) -10 (z)] TJ") === "x yz")
    assert(Pdf.parseContent("(one) Tj 0 -14 Td (two) Tj") === "one\ntwo")
    assert(Pdf.parseContent("(one) Tj 5 0 Td (same) Tj") === "onesame")
    assert(Pdf.parseContent("(a) Tj T* (b) Tj T* T* (c) Tj") === "a\nb\nc")
    assert(Pdf.parseContent("(a) Tj (b) '") === "a\nb")
    assert(Pdf.parseContent("<< /F 1 >> (kept) Tj") === "kept")
    assert(Pdf.parseContent("% comment (not shown) Tj\n(real) Tj") === "real")
    // leading line op emits no leading newline
    assert(Pdf.parseContent("72 720 Td (first) Tj") === "first")
    assert(Pdf.parseContent("") === "")
  }

  // ---- whole-document extraction ----

  private val Text = "alpha beta gamma delta epsilon zeta"

  private val Astral = "𝔄" // U+1D504 via the fixture CMap/BOM

  test("extractText: raw + FlateDecode streams, escapes, kerning, layout") {
    // id 0: streams raw; TJ (id%3==0); CMap with array bfrange (%2==0);
    // astral BOM string (%5==0); cmap stream raw (%3==0)
    val (k0, t0) = Pdf.extractText(graft.pipeline.PdfGen.pdfBytes(0, Text))
    assert(k0 === 3) // CMap stream excluded from the count
    assert(t0 === "alpha beta gamma delta epsilon (p) A ok\nker ned!\n" +
      "Hello!continued\nsecond alpha beta gamma\ntail\n" +
      s"A${Astral}abcÿXYZ\nHI!${Astral}back to latin1")
    // id 1: c2 FlateDecode (%4==1), cmap Flate (%3==1), no array range
    val (k1, t1) = Pdf.extractText(graft.pipeline.PdfGen.pdfBytes(1, Text))
    assert(k1 === 3)
    assert(t1 === "alpha beta gamma delta epsilon (p) A ok\nplain line\n" +
      "Hello!continued\nsecond alpha beta gamma\ntail\n" +
      s"A${Astral}abcÿ\nHI!back to latin1")
    // id 3: c2 LZWDecode (%4==3); TJ (id%3==0); cmap raw
    val (k3, t3) = Pdf.extractText(graft.pipeline.PdfGen.pdfBytes(3, Text))
    assert(k3 === 3)
    assert(t3 === "alpha beta gamma delta epsilon (p) A ok\nker ned!\n" +
      "Hello!continued\nsecond alpha beta gamma\ntail\n" +
      s"A${Astral}abcÿ\nHI!back to latin1")
    // id 2: cmap stream LZW-compressed (%3==2) still feeds the font map
    val (k2, t2) = Pdf.extractText(graft.pipeline.PdfGen.pdfBytes(2, Text))
    assert(k2 === 3)
    assert(t2.contains(s"A${Astral}abcÿXYZ"))
  }

  test("extractText: damage never throws — valid subset survives") {
    val good = graft.pipeline.PdfGen.pdfBytes(2, Text)
    // truncation mid-document: the leading streams still extract
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length * 2 / 3)
    val (k, t) = Pdf.extractText(truncated)
    assert(k >= 1 && t.startsWith("alpha beta gamma"))
    // corrupt flate payload: that stream is skipped, the others survive
    val odd = graft.pipeline.PdfGen.pdfBytes(1, Text)
    val doc = new String(odd, java.nio.charset.StandardCharsets.ISO_8859_1)
    val flateStart = doc.indexOf("stream\n", doc.indexOf("FlateDecode")) + 7
    val corrupted = odd.clone()
    corrupted(flateStart) = 0x00.toByte
    corrupted(flateStart + 1) = 0x00.toByte
    val (kc, tc) = Pdf.extractText(corrupted)
    assert(kc === 2 && tc.startsWith("alpha beta gamma"))
    // corrupt LZW payload likewise (id 3's c2 is LZW)
    val lzw = graft.pipeline.PdfGen.pdfBytes(3, Text)
    val doc3 = new String(lzw, java.nio.charset.StandardCharsets.ISO_8859_1)
    val lzwStart = doc3.indexOf("stream\n", doc3.indexOf("LZWDecode")) + 7
    val corrupted3 = lzw.clone()
    corrupted3(lzwStart) = 0xFF.toByte
    corrupted3(lzwStart + 1) = 0xFF.toByte
    val (kl, tl) = Pdf.extractText(corrupted3)
    assert(kl >= 2 && tl.startsWith("alpha beta gamma"))
    // garbage / null
    assert(Pdf.extractText("not a pdf".getBytes) === ((0, "")))
    assert(Pdf.extractText(null) === ((0, "")))
    // missing /Length skips the stream rather than guessing
    val noLen = "%PDF-1.4\n<< >>\nstream\n(x) Tj\nendstream\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Pdf.extractText(noLen) === ((0, "")))
  }

  test("lzw: round-trips arbitrary data across width growth and clears") {
    val rnd = new scala.util.Random(7)
    Seq(0, 1, 5, 300, 5000, 40000).foreach { n =>
      val data = new Array[Byte](n)
      rnd.nextBytes(data)
      assert(Pdf.lzwDecode(Pdf.lzwEncode(data)).map(_.toSeq) ===
        Some(data.toSeq), s"random n=$n")
      // highly repetitive data grows the table fastest
      val rep = Array.tabulate(n)(i => ((i / 7) % 3).toByte)
      assert(Pdf.lzwDecode(Pdf.lzwEncode(rep)).map(_.toSeq) ===
        Some(rep.toSeq), s"repetitive n=$n")
    }
    // damage: impossible code -> None, never throws
    assert(Pdf.lzwDecode(Array(0xFF.toByte, 0xFF.toByte, 0xFF.toByte)) === None)
    assert(Pdf.lzwDecode(null) === None)
  }

  test("decodeShownString: BOM beats CMap; identity fallback; widths") {
    val cmap1 = Pdf.CMap(1, Map(0x01 -> "A", 0x02 -> Astral))
    // mapped codes + unmapped identity byte
    assert(Pdf.decodeShownString("\u0001\u0002\u00FF", cmap1) ===
      s"A$Astral\u00FF")
    // BOM'd bytes bypass the cmap entirely: FE FF 00 48 00 69 -> "Hi"
    assert(Pdf.decodeShownString("\u00FE\u00FF\u0000H\u0000i", cmap1) === "Hi")
    // BOM with a dangling trailing byte: the byte drops
    assert(Pdf.decodeShownString("\u00FE\u00FF\u0000H\u0000", cmap1) === "H")
    // 2-byte codes: 01 02 maps, dangling byte drops
    val cmap2 = Pdf.CMap(2, Map(0x0102 -> "XY"))
    assert(Pdf.decodeShownString("\u0001\u0002\u0003", cmap2) === "XY")
    // unmapped 2-byte code -> its UTF-16 code unit (0x0041 = 'A')
    assert(Pdf.decodeShownString("\u0000A", cmap2) === "A")
    // no cmap: byte-transparent
    assert(Pdf.decodeShownString("\u00E9x", null) === "\u00E9x")
  }

  test("parseCMap: bfchar, scalar and array bfrange, width, tolerance") {
    val cm = Pdf.parseCMap(graft.pipeline.PdfGen.cmapStream(0))
    assert(cm.codeBytes === 1)
    assert(cm.map(0x01) === "A")
    assert(cm.map(0x02) === Astral)
    assert(cm.map(0x10) === "a" && cm.map(0x11) === "b" && cm.map(0x12) === "c")
    assert(cm.map(0x20) === "X" && cm.map(0x21) === "YZ" && cm.map(0x22) === "Z")
    // 2-byte src width; scalar range bumps the LAST code unit
    val cm2 = Pdf.parseCMap(
      "beginbfrange\n<0100> <0102> <00410042>\nendbfrange")
    assert(cm2.codeBytes === 2)
    assert(cm2.map(0x0100) === "AB" && cm2.map(0x0102) === "AD")
    // malformed sections never throw, oversized ranges are skipped
    assert(Pdf.parseCMap("beginbfchar <01 endbfchar").map.isEmpty)
    assert(Pdf.parseCMap(
      "beginbfrange <0000> <FFFF0> <0041> endbfrange").map.isEmpty)
  }

  test("lengthOf: digits after /Length, oversized rejected") {
    assert(Pdf.lengthOf("<< /Length 123 >>") === 123L)
    assert(Pdf.lengthOf("<< /Length 123 /Filter /FlateDecode >>") === 123L)
    assert(Pdf.lengthOf("<< /Len 5 >>") === -1L)
    assert(Pdf.lengthOf("<< /Length abc >>") === -1L)
    assert(Pdf.lengthOf("<< /Length 1234567890123456789012 >>") === -1L)
  }

  test("lzw: entry 4095 is buildable and code 4095 decodes (full table)") {
    // hand-packed stream: single-byte codes until the decoder's table
    // reaches 4096 entries (index 4095 = the last legal 12-bit code), then
    // code 4095 itself. A 4095-capped table either fabricates KwKwK bytes
    // here or rejects the stream. The repo's own encoder clears at 3000 so
    // round-trip tests never reach this corner — only external PDFs do.
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var bits = 0; var width = 9
    def emit(code: Int): Unit = {
      acc = (acc << width) | code.toLong; bits += width
      while (bits >= 8) {
        out.write(((acc >>> (bits - 8)) & 0xFF).toInt); bits -= 8
      }
    }
    emit(256) // clear
    var tableLen = 258
    var first = true
    (0 until 3839).foreach { i =>
      emit(i % 256)
      if (!first) { // decoder adds an entry for every code after the first
        tableLen += 1
        if (tableLen == (1 << width) - 1 && width < 12) width += 1
      }
      first = false
    }
    assert(tableLen === 4096) // index 4095 was just built
    emit(4095)
    emit(257) // EOD
    if (bits > 0) out.write(((acc << (8 - bits)) & 0xFF).toInt)
    val dec = Pdf.lzwDecode(out.toByteArray)
    assert(dec.isDefined)
    val d = dec.get
    assert(d.length === 3839 + 2)
    // entry 4095 = prev(b3837) :+ head(b3838) = [253, 254]
    assert(d(d.length - 2) === 253.toByte && d(d.length - 1) === 254.toByte)
  }

  test("structural regexes are ASCII-pinned: 0xA0/0x1C are not whitespace") {
    // ADVICE r6 medium #1: Java \s is ASCII-only while an unpinned Python
    // \s also matches 0x1C-0x1F/0x85/0xA0 on latin-1 text. Pin the Scala
    // side's behavior so the mirrored re.ASCII patterns cannot drift: a
    // 0xA0 between a /Name token and its object ref must NOT form a font
    // entry, and "7\u00a00 obj" must NOT parse as an object header.
    // Font F1 -> object 5 -> /ToUnicode 7, whose CMap maps 'a' to 'Z': the
    // text reads "Z" only when both the font entry and header 7 parse.
    val cmap = "1 beginbfchar\n<61> <005A>\nendbfchar"
    def extract(fontSep: String, headerSep: String): (Int, String) = Pdf.extractText((
      "%PDF-1.4\n" +
        s"3 0 obj\n<< /Font << /F1${fontSep}5 0 R >> >>\nendobj\n" +
        "5 0 obj\n<< /Type /Font /ToUnicode 7 0 R >>\nendobj\n" +
        s"7${headerSep}0 obj\n<< /Length ${cmap.length} >>\nstream\n$cmap\nendstream\nendobj\n" +
        "4 0 obj\n<< /Length 22 >>\nstream\nBT /F1 12 Tf (a) Tj ET\nendstream\nendobj\n"
    ).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    // the delimiter forms DO bind (sanity that the patterns still match)
    assert(extract(" ", " ") === ((1, "Z")))
    // no F1 entry: the content keeps its raw 'a'
    assert(extract("\u00a0", " ")._2 === "a")
    // no object 7: /ToUnicode 7 0 R finds no CMap stream
    assert(extract(" ", "\u00a0")._2 === "a")
  }

  test("extractText: /Font-prefixed tokens don't harvest unrelated dicts") {
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    def streamObj(n: Int, data: String) =
      s"$n 0 obj\n<< /Length ${data.length} >>\nstream\n$data\nendstream\nendobj\n"
    val cmap = "1 beginbfchar\n<61> <005A>\nendbfchar"
    val doc = "%PDF-1.4\n" +
      obj(3, "<< /Font << /F1 5 0 R >> >>") + // the REAL binding: F1 -> 5
      obj(5, "<< /Type /Font /ToUnicode 7 0 R >>") +
      streamObj(7, cmap) +
      // a /Font-PREFIXED token (/FontFile2) followed by an unrelated dict
      // carrying /F1 99 0 R: an unanchored scan jumps to that dict and
      // clobbers F1 -> 99 (last-binding-wins), losing the CMap
      obj(6, "<< /FontFile2 8 0 R >>") +
      obj(9, "<< /F1 99 0 R /Parent 2 0 R >>") +
      streamObj(4, "BT /F1 12 Tf (a) Tj ET")
    val (k, t) = Pdf.extractText(
      doc.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(k === 1) // the CMap stream is excluded from the count
    assert(t === "Z") // 0x61 'a' maps through font 5's CMap
  }
}
