package graft.pdf

import java.io.ByteArrayOutputStream

/** Deterministic minimal PDF writer for fixtures and the synthetic page
  * table. Mirrors the reference's fixture philosophy — PDFs are
  * synthesized programmatically, never committed as binaries
  * (reference: tests/conftest.py:85-214, CLAUDE.md:145). The writer and
  * `PdfParser` co-evolve and define the supported subset (SURVEY.md
  * §7.5 risk 2): one xref table, Type1 font, FlateDecode'd content
  * streams, 1x1 grayscale image XObjects carrying `/Alt` description
  * text (the deterministic OCR target).
  */
object PdfWriter {

  /** One page spec: text blocks (each becomes one BT..ET group) and
    * images (alt text).
    */
  final case class PageSpec(textBlocks: Seq[String] = Nil, imageAlts: Seq[String] = Nil)

  def escapeString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '(' => sb.append("\\(")
      case ')' => sb.append("\\)")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c > 0xff => sb.append('?') // outside Latin-1 — writer subset
      case c => sb.append(c)
    }
    sb.toString
  }

  private def latin1(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Encode a content stream with the named filter (or chain). The
    * Filter ARRAY lists decode order, so chain encoding runs in reverse.
    */
  def encodeContent(raw: Array[Byte], filter: String): (Array[Byte], String) = filter match {
    case "none" => (raw, "")
    case "flate" => (PdfFilters.deflate(raw), " /Filter /FlateDecode")
    case "lzw" => (PdfFilters.lzwEncode(raw), " /Filter /LZWDecode")
    case "ahx" => (PdfFilters.asciiHexEncode(raw), " /Filter /ASCIIHexDecode")
    case "a85" => (PdfFilters.ascii85Encode(raw), " /Filter /ASCII85Decode")
    case "rl" => (PdfFilters.runLengthEncode(raw), " /Filter /RunLengthDecode")
    case "ahx+flate" =>
      (PdfFilters.asciiHexEncode(PdfFilters.deflate(raw)), " /Filter [/ASCIIHexDecode /FlateDecode]")
    case "a85+lzw" =>
      (PdfFilters.ascii85Encode(PdfFilters.lzwEncode(raw)), " /Filter [/ASCII85Decode /LZWDecode]")
    case other => throw new IllegalArgumentException(s"unknown content filter: $other")
  }

  /** The objects both writers emit, numbered 1 catalog, 2 pages-tree,
    * 3 font, then per page: page obj, contents obj, image objs.
    * `streams` are the content and image stream objects, `dicts` every
    * other object (what `buildXrefStream` packs into its ObjStm), and
    * `nextObj` the first free object number.
    */
  private final case class Layout(
      streams: Seq[(Int, Array[Byte])], dicts: Seq[(Int, String)], nextObj: Int)

  private def layout(pages: Seq[PageSpec], contentFilter: String): Layout = {
    var nextObj = 4
    val pageBodies = pages.map { spec =>
      val pageNum = nextObj; nextObj += 1
      val contentsNum = nextObj; nextObj += 1
      val imageNums = spec.imageAlts.map { _ => val n = nextObj; nextObj += 1; n }
      (pageNum, contentsNum, imageNums, spec)
    }
    val streams = scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
    val dicts = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    dicts += ((1, "<< /Type /Catalog /Pages 2 0 R >>"))
    dicts += ((2,
      s"<< /Type /Pages /Kids [${pageBodies.map(p => s"${p._1} 0 R").mkString(" ")}] " +
      s"/Count ${pageBodies.length} >>"))
    dicts += ((3,
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"))

    pageBodies.foreach { case (pageNum, contentsNum, imageNums, spec) =>
      // Content stream: one BT..ET per text block, one Do per image.
      val sb = new java.lang.StringBuilder()
      var y = 720
      spec.textBlocks.foreach { t =>
        sb.append("BT\n/F1 12 Tf\n72 ").append(y).append(" Td\n")
        val lines = t.split("\n", -1)
        var first = true
        lines.foreach { line =>
          if (!first) sb.append("0 -14 Td\n")
          sb.append('(').append(escapeString(line)).append(") Tj\n")
          first = false
        }
        sb.append("ET\n")
        y -= 20 * lines.length
      }
      imageNums.zipWithIndex.foreach { case (_, i) =>
        sb.append("q\n100 0 0 100 72 ").append(300 - i * 110).append(" cm\n/Im")
          .append(i + 1).append(" Do\nQ\n")
      }
      val (data, filter) = encodeContent(latin1(sb.toString), contentFilter)
      val contents = new ByteArrayOutputStream()
      contents.write(latin1(s"<< /Length ${data.length}$filter >>\nstream\n"))
      contents.write(data)
      contents.write(latin1("\nendstream"))
      streams += ((contentsNum, contents.toByteArray))

      val xobjEntries = imageNums.zipWithIndex
        .map { case (num, i) => s"/Im${i + 1} $num 0 R" }.mkString(" ")
      val xobj = if (imageNums.nonEmpty) s" /XObject << $xobjEntries >>" else ""
      dicts += ((pageNum,
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >>$xobj >> /Contents $contentsNum 0 R >>"))

      imageNums.zip(spec.imageAlts).foreach { case (num, alt) =>
        val img = new ByteArrayOutputStream()
        img.write(latin1(
          s"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 " +
          s"/ColorSpace /DeviceGray /BitsPerComponent 8 " +
          s"/Alt (${escapeString(alt)}) /Length 1 >>\nstream\n"))
        img.write(0)
        img.write(latin1("\nendstream"))
        streams += ((num, img.toByteArray))
      }
    }
    Layout(streams.toSeq, dicts.toSeq, nextObj)
  }

  /** Build a complete PDF from page specs. */
  def build(pages: Seq[PageSpec], compress: Boolean = true): Array[Byte] = {
    val l = layout(pages, if (compress) "flate" else "none")
    val nextObj = l.nextObj
    val objs = l.streams ++ l.dicts.map { case (num, body) => (num, latin1(body)) }

    // Serialize with a valid xref table.
    val out = new ByteArrayOutputStream(4096)
    out.write(latin1("%PDF-1.4\n"))
    val offsets = new Array[Long](nextObj)
    objs.sortBy(_._1).foreach { case (num, body) =>
      offsets(num) = out.size().toLong
      out.write(latin1(s"$num 0 obj\n"))
      out.write(body)
      out.write(latin1("\nendobj\n"))
    }
    val xrefPos = out.size()
    out.write(latin1(s"xref\n0 $nextObj\n"))
    out.write(latin1("0000000000 65535 f \n"))
    (1 until nextObj).foreach { n =>
      out.write(latin1(f"${offsets(n)}%010d 00000 n \n"))
    }
    out.write(latin1(
      s"trailer\n<< /Size $nextObj /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n"))
    out.toByteArray
  }

  /** Re-emit a `build()` PDF encrypted with the RC4 standard handler
    * (R=3, V=2, 128-bit, EMPTY user password — the restrict-printing
    * crawl case PdfCrypt decrypts).
    */
  def encryptRc4(clear: Array[Byte]): Array[Byte] = encryptStandard(clear, "rc4")

  /** Re-emit a `build()` PDF encrypted with the standard security
    * handler and an EMPTY user password. `variant`:
    *  - "rc4"      V=2 R=3, 128-bit RC4 (streams keep their length);
    *  - "aesv2"    V=4 R=4, AES-128-CBC via the /StdCF AESV2 filter;
    *  - "aesv3-r5" V=5 R=5, AES-256 (the deprecated Adobe extension);
    *  - "aesv3-r6" V=5 R=6, AES-256 with the Algorithm 2.B hash
    *    (PDF 2.0).
    * AES re-encryption changes stream lengths (16-byte IV + PKCS#7
    * pad), so each head dict's /Length is rewritten; literal strings
    * re-emit as hex strings (ciphertext can contain unbalanced parens);
    * the xref table is rebuilt for the shifted offsets and the trailer
    * gains /Encrypt + /ID. IVs derive deterministically from the file
    * digest and a counter, so fixtures are byte-stable. Only classic
    * `build()` layouts are supported.
    */
  def encryptStandard(clear: Array[Byte], variant: String): Array[Byte] = {
    val s = new String(clear, java.nio.charset.StandardCharsets.ISO_8859_1)
    val empty = Array.emptyByteArray
    val id16 = PdfCrypt.md5(clear)
    val perm = -44
    def hexStr(b: Array[Byte]): String = "<" + b.map(x => f"$x%02x").mkString + ">"
    val (key: Array[Byte], encDictBody: String) = variant match {
      case "rc4" =>
        val o = PdfCrypt.computeO(empty, empty, 3, 128)
        val k = PdfCrypt.fileKey(empty, o, perm, id16, 3, 128)
        val u = PdfCrypt.computeU(k, id16, 3)
        (k, s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $perm " +
          s"/O ${hexStr(o)} /U ${hexStr(u)} >>")
      case "aesv2" =>
        val o = PdfCrypt.computeO(empty, empty, 4, 128)
        val k = PdfCrypt.fileKey(empty, o, perm, id16, 4, 128)
        val u = PdfCrypt.computeU(k, id16, 4)
        (k, s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $perm " +
          s"/O ${hexStr(o)} /U ${hexStr(u)} " +
          "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> " +
          "/StmF /StdCF /StrF /StdCF >>")
      case "aesv3-r5" | "aesv3-r6" =>
        val r = if (variant.endsWith("5")) 5 else 6
        val k = java.security.MessageDigest.getInstance("SHA-256")
          .digest(id16 ++ "filekey".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        val vSalt = PdfCrypt.md5(id16, Array(1.toByte)).take(8)
        val kSalt = PdfCrypt.md5(id16, Array(2.toByte)).take(8)
        val ovSalt = PdfCrypt.md5(id16, Array(3.toByte)).take(8)
        val okSalt = PdfCrypt.md5(id16, Array(4.toByte)).take(8)
        val (u, ue) = PdfCrypt.computeUV5(r, k, vSalt, kSalt)
        val (o, oe) = PdfCrypt.computeOV5(r, k, u, ovSalt, okSalt)
        val perms = PdfCrypt.permsV5(perm, encryptMetadata = true, k)
        (k, s"<< /Filter /Standard /V 5 /R $r /Length 256 /P $perm " +
          s"/O ${hexStr(o)} /U ${hexStr(u)} /OE ${hexStr(oe)} /UE ${hexStr(ue)} " +
          s"/Perms ${hexStr(perms)} " +
          "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> " +
          "/StmF /StdCF /StrF /StdCF >>")
      case other => throw new IllegalArgumentException(s"unknown variant: $other")
    }
    // Deterministic per-call IVs (fixture byte-stability; uniqueness,
    // not secrecy, is what CBC needs here).
    var ivCtr = 0
    def nextIv(): Array[Byte] = {
      ivCtr += 1
      PdfCrypt.md5(id16, Array[Byte]((ivCtr >> 8).toByte, ivCtr.toByte))
    }
    def encBytes(num: Int, b: Array[Byte]): Array[Byte] = variant match {
      case "rc4" => PdfCrypt.rc4(PdfCrypt.objKey(key, num, 0), b)
      case "aesv2" => PdfCrypt.aesEncrypt(PdfCrypt.objKeyAes(key, num, 0), nextIv(), b)
      case _ => PdfCrypt.aesEncrypt(key, nextIv(), b)
    }

    def unescape(lit: String): String = {
      val sb = new java.lang.StringBuilder(lit.length)
      var i = 0
      while (i < lit.length) {
        val c = lit.charAt(i)
        if (c == '\\' && i + 1 < lit.length) {
          lit.charAt(i + 1) match {
            case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
            case 't' => sb.append('\t'); case other => sb.append(other)
          }
          i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    // Encrypt every literal string in a dict region, re-emitting as hex.
    def encStrings(region: String, num: Int): String = {
      val sb = new java.lang.StringBuilder(region.length + 32)
      var i = 0
      while (i < region.length) {
        val c = region.charAt(i)
        if (c == '(') {
          var j = i + 1
          var done = false
          while (!done && j < region.length) {
            val cj = region.charAt(j)
            if (cj == '\\') j += 2
            else if (cj == ')') done = true
            else j += 1
          }
          val raw = unescape(region.substring(i + 1, j))
          val bytes = raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          sb.append(hexStr(encBytes(num, bytes)))
          i = j + 1
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    // Collect (num, transformed body) in file order.
    val objsOut = scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
    var maxNum = 0
    var pos = 0
    val objRe = java.util.regex.Pattern.compile("(\\d+) 0 obj\\n")
    val m = objRe.matcher(s)
    val lenRe = java.util.regex.Pattern.compile("/Length (\\d+)")
    while (m.find(pos)) {
      val num = m.group(1).toInt
      maxNum = math.max(maxNum, num)
      val bodyStart = m.end()
      val out = new ByteArrayOutputStream(256)
      // Stream bodies are bounded by the head dict's /Length, NOT by
      // searching for "endstream"/"endobj" markers — arbitrary deflate
      // bytes may contain either marker and would silently truncate the
      // object (and desync the whole walk).
      val sIdx = s.indexOf("stream\n", bodyStart)
      val eIdx = s.indexOf("\nendobj\n", bodyStart)
      val bodyEnd =
        if (sIdx >= 0 && (eIdx < 0 || sIdx < eIdx)) {
          val head = s.substring(bodyStart, sIdx)
          val lm = lenRe.matcher(head)
          val streamStart = sIdx + 7
          val streamEnd =
            if (lm.find()) streamStart + lm.group(1).toInt
            else s.indexOf("\nendstream", streamStart)
          val cipher = encBytes(num,
            s.substring(streamStart, streamEnd)
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
          // AES lengthens the stream (IV + pad): /Length must track the
          // CIPHERTEXT length or the reader's bounded walk desyncs.
          val headEnc = encStrings(head, num)
            .replaceFirst("/Length \\d+", s"/Length ${cipher.length}")
          out.write(latin1(headEnc + "stream\n"))
          out.write(cipher)
          out.write(latin1("\nendstream"))
          s.indexOf("\nendobj\n", streamEnd)
        } else {
          out.write(latin1(encStrings(s.substring(bodyStart, eIdx), num)))
          eIdx
        }
      objsOut += ((num, out.toByteArray))
      pos = bodyEnd + 8
    }
    val encNum = maxNum + 1
    objsOut += ((encNum, latin1(encDictBody)))

    val out = new ByteArrayOutputStream(clear.length + 512)
    out.write(latin1("%PDF-1.4\n"))
    val offsets = new Array[Long](encNum + 1)
    objsOut.foreach { case (num, body) =>
      offsets(num) = out.size().toLong
      out.write(latin1(s"$num 0 obj\n"))
      out.write(body)
      out.write(latin1("\nendobj\n"))
    }
    val xrefPos = out.size()
    out.write(latin1(s"xref\n0 ${encNum + 1}\n"))
    out.write(latin1("0000000000 65535 f \n"))
    (1 to encNum).foreach(n => out.write(latin1(f"${offsets(n)}%010d 00000 n \n")))
    out.write(latin1(
      s"trailer\n<< /Size ${encNum + 1} /Root 1 0 R /Encrypt $encNum 0 R " +
      s"/ID [${hexStr(id16)} ${hexStr(id16)}] >>\nstartxref\n$xrefPos\n%%EOF\n"))
    out.toByteArray
  }

  /** Build the SAME document in PDF 1.5+ form: all non-stream objects
    * (catalog, page tree, font, page dicts) packed into one compressed
    * `/Type /ObjStm` object stream; cross references emitted as a
    * `/Type /XRef` STREAM (W [1 3 2], type-2 entries pointing into the
    * ObjStm) Flate-compressed under a PNG-up predictor — the layout the
    * majority of real crawl PDFs use, and exactly what the classic-only
    * round-1 parser could not read. `contentFilter` selects the content
    * streams' encoding (flate/lzw/ahx/a85/rl or a two-filter chain), so
    * every decoder in `PdfFilters` has a writer-side fixture.
    */
  def buildXrefStream(pages: Seq[PageSpec], contentFilter: String = "flate"): Array[Byte] = {
    // Object numbers after build()'s layout: S (ObjStm) and X (xref
    // stream). Streams are not allowed inside an ObjStm; every dict goes in.
    val l = layout(pages, contentFilter)
    val objStmNum = l.nextObj
    val xrefNum = l.nextObj + 1
    val nextObj = l.nextObj + 2

    // Assemble the ObjStm: header of (num offset) pairs, then bodies.
    val sortedMembers = l.dicts.sortBy(_._1).toVector
    val bodyParts = sortedMembers.map(_._2)
    val offsetsInStm = bodyParts.scanLeft(0)((acc, b) => acc + b.length + 1).init
    val header = sortedMembers.zip(offsetsInStm)
      .map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
    val stmPlain = latin1(header.drop(0) + bodyParts.mkString("\n") + "\n")
    val first = header.length
    val stmData = PdfFilters.deflate(stmPlain)
    val objStmBody = {
      val o = new ByteArrayOutputStream()
      o.write(latin1(s"<< /Type /ObjStm /N ${sortedMembers.length} /First $first " +
        s"/Length ${stmData.length} /Filter /FlateDecode >>\nstream\n"))
      o.write(stmData)
      o.write(latin1("\nendstream"))
      o.toByteArray
    }

    // Serialize: header, top-level stream objects, ObjStm, xref stream.
    val out = new ByteArrayOutputStream(4096)
    out.write(latin1("%PDF-1.5\n"))
    val offsets = new Array[Long](nextObj)
    (l.streams :+ ((objStmNum, objStmBody))).sortBy(_._1).foreach { case (num, body) =>
      offsets(num) = out.size().toLong
      out.write(latin1(s"$num 0 obj\n"))
      out.write(body)
      out.write(latin1("\nendobj\n"))
    }

    // Xref stream rows, W [1 3 2]: type 0 = free, 1 = (offset, gen→0),
    // 2 = (objstm number, index within it).
    val memberIndex: Map[Int, Int] =
      sortedMembers.zipWithIndex.map { case ((num, _), i) => num -> i }.toMap
    val xrefPos = out.size()
    offsets(xrefNum) = xrefPos.toLong
    val rowLen = 6
    val rows = new ByteArrayOutputStream(nextObj * rowLen)
    def row(t: Int, f2: Long, f3: Int): Unit = {
      rows.write(t)
      rows.write(((f2 >> 16) & 0xff).toInt); rows.write(((f2 >> 8) & 0xff).toInt)
      rows.write((f2 & 0xff).toInt)
      rows.write((f3 >> 8) & 0xff); rows.write(f3 & 0xff)
    }
    (0 until nextObj).foreach { n =>
      if (n == 0) row(0, 0, 0xffff)
      else memberIndex.get(n) match {
        case Some(idx) => row(2, objStmNum.toLong, idx)
        case None => row(1, offsets(n), 0)
      }
    }
    val predicted = PdfFilters.pngPredictUp(rows.toByteArray, rowLen)
    val xrefData = PdfFilters.deflate(predicted)
    out.write(latin1(s"$xrefNum 0 obj\n<< /Type /XRef /Size $nextObj /Root 1 0 R " +
      s"/W [1 3 2] /Index [0 $nextObj] /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns $rowLen >> " +
      s"/Length ${xrefData.length} >>\nstream\n"))
    out.write(xrefData)
    out.write(latin1("\nendstream\nendobj\n"))
    out.write(latin1(s"startxref\n$xrefPos\n%%EOF\n"))
    out.toByteArray
  }
}
