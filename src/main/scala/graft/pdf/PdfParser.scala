package graft.pdf

import graft.model.{Block, DocPage, ParsedDoc}
import java.util.zip.Inflater
import scala.collection.mutable.{ArrayBuffer, HashMap}

/** From-scratch PDF text-layer parser (no pdfbox/tika in the environment;
  * SURVEY.md §7.0/§7.5). Plays the role of the reference's PyMuPDF direct
  * text read + block-dict view (reference:
  * src/text_extraction/processor.py:308-313, detector.py:147-156).
  *
  * Supported subset (co-evolved with `PdfWriter`, plus tolerance for
  * common real-world shapes): classic object syntax `N G obj … endobj`
  * discovered by a single byte scan (no xref dependence — resilient to
  * broken offsets), direct-integer or indirect `/Length`, FlateDecode
  * streams, page-tree walk via `/Root → /Pages → /Kids`, content-stream
  * text operators `BT ET Tf Td TD T* TL Tj TJ ' "`, image XObjects via
  * `Do` with `/Alt` description text. Literal and hex strings with escape
  * and octal handling, Latin-1 byte semantics.
  *
  * Never throws on malformed input: returns Left(error) like the
  * reference's error path (processor.py:160-173).
  */
object PdfParser {

  // ---- PDF value model -------------------------------------------------
  sealed trait PVal
  final case class PNum(v: Double) extends PVal
  final case class PName(v: String) extends PVal
  final case class PStr(v: String) extends PVal
  final case class PRef(num: Int) extends PVal
  final case class PArr(v: Vector[PVal]) extends PVal
  final case class PDict(v: Map[String, PVal]) extends PVal
  final case class PBool(v: Boolean) extends PVal
  case object PNull extends PVal

  final case class PObj(dict: PDict, stream: Option[Array[Byte]])

  def isPdf(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
    bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'

  def parse(bytes: Array[Byte]): Either[String, ParsedDoc] = {
    try {
      if (!isPdf(bytes)) return Left("not a PDF: missing %PDF- header")
      val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      val topObjs = scanObjects(s)
      if (topObjs.isEmpty) return Left("no PDF objects found")

      // Encrypted files (/Encrypt in the classic trailer dict or the
      // xref-stream dict): the RC4 standard-handler subset with an EMPTY
      // user password decrypts in place (PdfCrypt — the common crawl
      // case: "encrypted" only to restrict printing/copying). AES and
      // real password protection refuse loudly — honest error beats
      // silent garbage (the reference gets decryption from PyMuPDF).
      // The classic trailer dict, parsed once: /Encrypt here, /Root below.
      val classic = Option(s.lastIndexOf("trailer")).filter(_ >= 0).flatMap { tpos =>
        // A stray "trailer" token with no dict after it (e.g. inside an
        // uncompressed stream of an xref-stream PDF) must not abort the
        // whole parse via charAt(-1) in parseValueAt.
        Option(s.indexOf("<<", tpos)).filter(_ >= 0)
          .flatMap(parseValueAt(s, _)).collect { case (d: PDict, _) => d }
      }
      val trailerDict: Option[PDict] =
        classic.filter(_.v.contains("Encrypt")).orElse(
          topObjs.values.collectFirst {
            case o if o.dict.v.get("Type").contains(PName("XRef")) &&
              o.dict.v.contains("Encrypt") => o.dict
          }).orElse(classic)
      val decryptedTop: Map[Int, PObj] =
        trailerDict.flatMap(td => td.v.get("Encrypt").map(td -> _)) match {
          case None => topObjs
          case Some((td, encVal)) =>
            val encNum = encVal match { case PRef(n) => Some(n); case _ => None }
            val encDict = encVal match {
              case PRef(n) => topObjs.get(n).map(_.dict)
              case d: PDict => Some(d)
              case _ => None
            }
            decryptAll(topObjs, td, encDict, encNum) match {
              case Left(err) => return Left(err)
              case Right(m) => m
            }
        }

      // PDF 1.5+: objects may live inside compressed object streams
      // (/Type /ObjStm) — invisible to the byte scan until inflated.
      val objs = expandObjectStreams(decryptedTop)

      def deref(v: PVal): PVal = v match {
        case PRef(n) => objs.get(n).map(_.dict).getOrElse(PNull) match {
          case d @ PDict(_) => d
          case _ => PNull
        }
        case other => other
      }
      def derefFull(v: PVal): Option[PObj] = v match {
        case PRef(n) => objs.get(n)
        case _ => None
      }

      // Find the catalog: via trailer /Root if present, else any /Type /Catalog.
      val catalog: Option[PObj] = {
        val viaTrailer = for {
          dict <- classic
          root <- dict.v.get("Root").collect { case PRef(n) => n }
          obj <- objs.get(root)
        } yield obj
        viaTrailer.orElse(objs.values.find(o =>
          o.dict.v.get("Type").contains(PName("Catalog"))))
      }

      val pagesRoot = catalog
        .flatMap(c => c.dict.v.get("Pages"))
        .flatMap(derefFull)

      // Walk the page tree in order.
      val pageObjs = ArrayBuffer[PObj]()
      def walkKids(node: PObj, depth: Int): Unit = {
        if (depth > 32) return
        node.dict.v.get("Type") match {
          case Some(PName("Page")) => pageObjs += node
          case _ =>
            node.dict.v.get("Kids") match {
              case Some(PArr(kids)) =>
                kids.foreach { k => derefFull(k).foreach(walkKids(_, depth + 1)) }
              case _ =>
                if (node.dict.v.contains("Contents")) pageObjs += node
            }
        }
      }
      pagesRoot match {
        case Some(pr) => walkKids(pr, 0)
        case None =>
          // Fallback: all /Type /Page objects in object-number order.
          objs.toVector.sortBy(_._1).foreach { case (_, o) =>
            if (o.dict.v.get("Type").contains(PName("Page"))) pageObjs += o
          }
      }

      val pages = pageObjs.toVector.map { page =>
        // Gather content bytes (single ref or array of refs).
        val content: Array[Byte] = page.dict.v.get("Contents") match {
          case Some(PRef(n)) => objs.get(n).flatMap(o => decodedStream(o, objs)).getOrElse(Array.emptyByteArray)
          case Some(PArr(refs)) =>
            refs.flatMap {
              case PRef(n) => objs.get(n).flatMap(o => decodedStream(o, objs))
              case _ => None
            }.foldLeft(Array.emptyByteArray)((a, b) => a ++ ("\n".getBytes) ++ b)
          case _ => Array.emptyByteArray
        }
        // XObject resources: name → (isImage, alt).
        val xobjects: Map[String, (Boolean, String)] = {
          val res = deref(page.dict.v.getOrElse("Resources", PNull))
          res match {
            case PDict(rv) =>
              deref(rv.getOrElse("XObject", PNull)) match {
                case PDict(xv) =>
                  xv.flatMap { case (name, v) =>
                    derefFull(v).map { o =>
                      val isImage = o.dict.v.get("Subtype").contains(PName("Image"))
                      val alt = o.dict.v.get("Alt") match {
                        case Some(PStr(a)) => a
                        case _ => ""
                      }
                      name -> (isImage, alt)
                    }
                  }
                case _ => Map.empty[String, (Boolean, String)]
              }
            case _ => Map.empty[String, (Boolean, String)]
          }
        }
        DocPage(parseContent(content, xobjects))
      }
      Right(ParsedDoc(pages))
    } catch {
      case e: Exception => Left(s"PDF parse error: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  // ---- Object scan -----------------------------------------------------

  /** Scan `N G obj … endobj` spans without trusting the xref table. */
  private def scanObjects(s: String): Map[Int, PObj] = {
    val out = HashMap[Int, PObj]()
    var i = 0
    val n = s.length
    while (i < n) {
      val objIdx = s.indexOf(" obj", i)
      if (objIdx < 0) { i = n }
      else {
        // Backtrack over "N G" before " obj".
        var j = objIdx
        var k = j - 1
        def skipDigitsBack(p0: Int): Int = { var p = p0; while (p >= 0 && s.charAt(p).isDigit) p -= 1; p }
        val genEnd = k
        val genStart = skipDigitsBack(genEnd)
        if (genEnd > genStart && genStart >= 1 && s.charAt(genStart) == ' ') {
          val numEnd = genStart - 1
          val numStart = skipDigitsBack(numEnd)
          if (numEnd > numStart) {
            val objNum = s.substring(numStart + 1, numEnd + 1).toInt
            var p = objIdx + 4
            // Parse the object's value (usually a dict).
            val (value, after) = parseValueAt(s, skipWs(s, p)).getOrElse((PNull, p))
            p = after
            // Stream?
            val sp = skipWs(s, p)
            var stream: Option[Array[Byte]] = None
            var endPos = sp
            if (s.startsWith("stream", sp)) {
              var dataStart = sp + 6
              if (dataStart < n && s.charAt(dataStart) == '\r') dataStart += 1
              if (dataStart < n && s.charAt(dataStart) == '\n') dataStart += 1
              val dict = value match { case d: PDict => d; case _ => PDict(Map.empty) }
              val lenOpt = dict.v.get("Length") match {
                case Some(PNum(l)) => Some(l.toInt)
                case _ => None // indirect /Length → fall back to endstream scan
              }
              val dataEnd = lenOpt match {
                case Some(l) if dataStart + l <= n &&
                    s.indexOf("endstream", dataStart + l) >= 0 => dataStart + l
                case _ =>
                  val e = s.indexOf("endstream", dataStart)
                  if (e < 0) n else trimStreamEnd(s, dataStart, e)
              }
              stream = Some(
                s.substring(dataStart, math.min(dataEnd, n))
                  .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
              endPos = s.indexOf("endstream", dataEnd) match {
                case -1 => n
                case e => e + 9
              }
            }
            val endObj = s.indexOf("endobj", endPos)
            value match {
              case d: PDict => out(objNum) = PObj(d, stream)
              case _ => out(objNum) = PObj(PDict(Map.empty), stream)
            }
            i = if (endObj < 0) endPos + 1 else endObj + 6
          } else i = objIdx + 4
        } else i = objIdx + 4
      }
    }
    out.toMap
  }

  private def trimStreamEnd(s: String, start: Int, endstream: Int): Int = {
    var e = endstream
    if (e > start && s.charAt(e - 1) == '\n') e -= 1
    if (e > start && s.charAt(e - 1) == '\r') e -= 1
    e
  }

  private def skipWs(s: String, p0: Int): Int = {
    var p = p0
    while (p < s.length && (s.charAt(p) == ' ' || s.charAt(p) == '\n' ||
           s.charAt(p) == '\r' || s.charAt(p) == '\t' || s.charAt(p) == '\f' ||
           s.charAt(p) == 0)) p += 1
    // Comments.
    if (p < s.length && s.charAt(p) == '%') {
      val nl = s.indexOf('\n', p)
      skipWs(s, if (nl < 0) s.length else nl + 1)
    } else p
  }

  /** Container-nesting cap for [parseValueAt]: real PDFs nest dicts/
    * arrays a handful of levels; crawl payloads are attacker-controlled,
    * and the recursive descent must not be drivable past the JVM thread
    * stack (StackOverflowError is not an Exception — the kernel's
    * error-record recovery cannot catch it). Past the cap the value is
    * treated as malformed (None), which every caller already handles.
    */
  private val MaxValueDepth = 64

  /** Parse one PDF value at position p; returns (value, positionAfter). */
  def parseValueAt(s: String, p0: Int): Option[(PVal, Int)] =
    parseValueAt(s, p0, 0)

  private def parseValueAt(s: String, p0: Int, depth: Int): Option[(PVal, Int)] = {
    if (depth >= MaxValueDepth) return None
    val p = skipWs(s, p0)
    if (p < 0 || p >= s.length) return None
    s.charAt(p) match {
      case '<' if p + 1 < s.length && s.charAt(p + 1) == '<' =>
        var q = p + 2
        val entries = Map.newBuilder[String, PVal]
        var done = false
        while (!done) {
          val qq = skipWs(s, q)
          if (qq + 1 < s.length && s.charAt(qq) == '>' && s.charAt(qq + 1) == '>') {
            q = qq + 2; done = true
          } else if (qq < s.length && s.charAt(qq) == '/') {
            val (PName(key), afterKey) = parseName(s, qq)
            parseValueAt(s, afterKey, depth + 1) match {
              case Some((v, after)) => entries += (key -> v); q = after
              case None => done = true; q = s.length
            }
          } else { done = true; q = qq } // malformed — stop
        }
        Some((PDict(entries.result()), q))
      case '<' =>
        // Hex string.
        val end = s.indexOf('>', p + 1)
        if (end < 0) None
        else {
          val hex = s.substring(p + 1, end).filterNot(c => c == ' ' || c == '\n' || c == '\r' || c == '\t')
          val padded = if (hex.length % 2 == 1) hex + "0" else hex
          val sb = new java.lang.StringBuilder(padded.length / 2)
          var i = 0
          while (i + 2 <= padded.length) {
            try sb.append(Integer.parseInt(padded.substring(i, i + 2), 16).toChar)
            catch { case _: NumberFormatException => }
            i += 2
          }
          Some((PStr(sb.toString), end + 1))
        }
      case '[' =>
        var q = p + 1
        val items = Vector.newBuilder[PVal]
        var done = false
        while (!done) {
          val qq = skipWs(s, q)
          if (qq >= s.length) { done = true; q = qq }
          else if (s.charAt(qq) == ']') { q = qq + 1; done = true }
          else parseValueAt(s, qq, depth + 1) match {
            case Some((v, after)) => items += v; q = after
            case None => done = true; q = qq + 1
          }
        }
        Some((PArr(items.result()), q))
      case '/' => Some(parseName(s, p))
      case '(' => parseLiteralString(s, p)
      case c if c.isDigit || c == '-' || c == '+' || c == '.' =>
        // Number, or "N G R" reference.
        var q = p
        while (q < s.length && (s.charAt(q).isDigit || s.charAt(q) == '-' ||
               s.charAt(q) == '+' || s.charAt(q) == '.')) q += 1
        val numStr = s.substring(p, q)
        // Lookahead for reference syntax.
        val q1 = skipWs(s, q)
        if (q1 < s.length && s.charAt(q1).isDigit && !numStr.contains('.')) {
          var q2 = q1
          while (q2 < s.length && s.charAt(q2).isDigit) q2 += 1
          val q3 = skipWs(s, q2)
          if (q3 < s.length && s.charAt(q3) == 'R' &&
              (q3 + 1 >= s.length || !isRegular(s.charAt(q3 + 1)))) {
            return Some((PRef(numStr.toInt), q3 + 1))
          }
        }
        Some((PNum(numStr.toDouble), q))
      case 't' if s.startsWith("true", p) => Some((PBool(true), p + 4))
      case 'f' if s.startsWith("false", p) => Some((PBool(false), p + 5))
      case 'n' if s.startsWith("null", p) => Some((PNull, p + 4))
      case _ => None
    }
  }

  private def isRegular(c: Char): Boolean =
    !(c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' ||
      c == '/' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '(' || c == ')' || c == '%')

  private def parseName(s: String, p: Int): (PName, Int) = {
    var q = p + 1
    val sb = new java.lang.StringBuilder()
    while (q < s.length && isRegular(s.charAt(q))) {
      if (s.charAt(q) == '#' && q + 2 < s.length) {
        try { sb.append(Integer.parseInt(s.substring(q + 1, q + 3), 16).toChar); q += 3 }
        catch { case _: Exception => sb.append(s.charAt(q)); q += 1 }
      } else { sb.append(s.charAt(q)); q += 1 }
    }
    (PName(sb.toString), q)
  }

  def parseLiteralString(s: String, p: Int): Option[(PStr, Int)] = {
    var q = p + 1
    var depth = 1
    val sb = new java.lang.StringBuilder()
    while (q < s.length && depth > 0) {
      val c = s.charAt(q)
      c match {
        case '\\' if q + 1 < s.length =>
          val e = s.charAt(q + 1)
          e match {
            case 'n' => sb.append('\n'); q += 2
            case 'r' => sb.append('\r'); q += 2
            case 't' => sb.append('\t'); q += 2
            case 'b' => sb.append('\b'); q += 2
            case 'f' => sb.append('\f'); q += 2
            case '(' => sb.append('('); q += 2
            case ')' => sb.append(')'); q += 2
            case '\\' => sb.append('\\'); q += 2
            case '\n' => q += 2 // line continuation
            case '\r' => q += (if (q + 2 < s.length && s.charAt(q + 2) == '\n') 3 else 2)
            case d if d >= '0' && d <= '7' =>
              var oct = 0; var k = q + 1; var cnt = 0
              while (k < s.length && cnt < 3 && s.charAt(k) >= '0' && s.charAt(k) <= '7') {
                oct = oct * 8 + (s.charAt(k) - '0'); k += 1; cnt += 1
              }
              sb.append((oct & 0xff).toChar); q = k
            case other => sb.append(other); q += 2
          }
        case '(' => depth += 1; sb.append('('); q += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb.append(')')
          q += 1
        case other => sb.append(other); q += 1
      }
    }
    Some((PStr(sb.toString), q))
  }

  // ---- Streams ----------------------------------------------------------

  private def decodedStream(obj: PObj, objs: Map[Int, PObj]): Option[Array[Byte]] =
    obj.stream.map(raw => applyFilters(raw, obj.dict))

  /** Filters whose output is pixel data, never text: a chain containing
    * one can't contribute to the text layer, so the stream decodes to
    * EMPTY (the image is skipped, adjacent content streams keep
    * extracting) instead of leaking raw compressed bytes into the
    * content tokenizer, where a stray `(…) Tj` byte pattern inside a
    * JPEG would fabricate text.
    */
  private val ImageOnlyFilters = Set(
    "DCTDecode", "DCT", "JPXDecode", "CCITTFaxDecode", "CCF", "JBIG2Decode")

  /** Apply a stream's full filter chain in declaration order, honoring
    * per-filter /DecodeParms (PNG predictors for Flate/LZW — the xref-
    * stream convention — and LZW /EarlyChange). Chains bearing an
    * image-only filter (DCT/JPX/CCITT/JBIG2) decode to empty — see
    * `ImageOnlyFilters`.
    */
  def applyFilters(raw: Array[Byte], dict: PDict): Array[Byte] = {
    val filters: Vector[String] = dict.v.get("Filter") match {
      case Some(PName(f)) => Vector(f)
      case Some(PArr(fs)) => fs.collect { case PName(f) => f }
      case _ => Vector.empty
    }
    if (filters.exists(ImageOnlyFilters)) return Array.emptyByteArray
    val parms: Vector[Option[PDict]] =
      dict.v.get("DecodeParms").orElse(dict.v.get("DP")) match {
        case Some(d: PDict) => Vector(Some(d))
        case Some(PArr(ps)) => ps.map { case d: PDict => Some(d); case _ => None }
        case _ => Vector.empty
      }
    def num(p: Option[PDict], key: String, default: Int): Int =
      p.flatMap(_.v.get(key)).collect { case PNum(v) => v.toInt }.getOrElse(default)
    filters.zipWithIndex.foldLeft(raw) { case (data, (f, i)) =>
      val parm = parms.lift(i).flatten
      val decoded = f match {
        case "FlateDecode" | "Fl" => inflate(data)
        case "LZWDecode" | "LZW" => PdfFilters.lzwDecode(data, num(parm, "EarlyChange", 1))
        case "ASCIIHexDecode" | "AHx" => PdfFilters.asciiHexDecode(data)
        case "ASCII85Decode" | "A85" => PdfFilters.ascii85Decode(data)
        case "RunLengthDecode" | "RL" => PdfFilters.runLengthDecode(data)
        case _ => data
      }
      val predictor = num(parm, "Predictor", 1)
      val isPredictable = f.startsWith("Flate") || f.startsWith("LZW") ||
        f == "Fl" || f == "LZW"
      if (predictor >= 10 && isPredictable)
        PdfFilters.pngUnpredict(decoded, num(parm, "Columns", 1),
          num(parm, "Colors", 1), num(parm, "BitsPerComponent", 8))
      else if (predictor == 2 && isPredictable)
        PdfFilters.tiffUnpredict(decoded, num(parm, "Columns", 1),
          num(parm, "Colors", 1), num(parm, "BitsPerComponent", 8))
      else decoded
    }
  }

  def inflate(data: Array[Byte]): Array[Byte] = PdfFilters.inflate(data)

  /** Expand `/Type /ObjStm` object streams (PDF 1.5+): decode the
    * stream, read the `N` (objnum, offset) integer pairs from its head,
    * then parse each contained object at `First + offset`. Contained
    * objects never carry streams (spec). Top-level definitions win on
    * number collisions (a later incremental update would be top-level).
    */
  /** Decrypt every object's strings and stream with the RC4 standard
    * handler (empty user password), or explain why we can't. The
    * /Encrypt dict object itself and XRef streams stay plaintext per
    * spec; ObjStm streams decrypt here so expansion sees cleartext
    * (their inner objects are NOT separately encrypted). Generation
    * numbers are taken as 0 (the byte scan's convention; nonzero gens
    * are vanishingly rare in crawl PDFs).
    */
  private def decryptAll(
      objs: Map[Int, PObj],
      trailer: PDict,
      encDict: Option[PDict],
      encNum: Option[Int]): Either[String, Map[Int, PObj]] = {
    val enc = encDict.getOrElse(return Left("encrypted PDF: unresolvable /Encrypt"))
    def name(k: String): Option[String] = enc.v.get(k).collect { case PName(n) => n }
    def int(k: String, dflt: Int): Int = enc.v.get(k).collect { case PNum(n) => n.toInt }.getOrElse(dflt)
    if (!name("Filter").contains("Standard"))
      return Left(s"encrypted PDF: unsupported handler ${name("Filter").getOrElse("?")}")
    val v = int("V", 0); val r = int("R", 0)
    def strBytes(x: PVal): Array[Byte] = x match {
      case PStr(sv) => sv.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      case _ => Array.emptyByteArray
    }
    val o = enc.v.get("O").map(strBytes).getOrElse(Array.emptyByteArray)
    val u = enc.v.get("U").map(strBytes).getOrElse(Array.emptyByteArray)
    val p = enc.v.get("P").collect { case PNum(n) => n.toInt }.getOrElse(-1)
    val id = trailer.v.get("ID").collect { case PArr(items) if items.nonEmpty => strBytes(items.head) }
      .getOrElse(Array.emptyByteArray)
    val encMeta = enc.v.get("EncryptMetadata") match {
      case Some(PBool(b)) => b
      case _ => true
    }
    // Crypt-filter method for V ≥ 4 (§7.6.5): /StmF and /StrF name a
    // filter in /CF whose /CFM is V2 (RC4), AESV2, or AESV3; the
    // "Identity" name means pass-through. V ≤ 2 is whole-file RC4.
    def cfmOf(which: String): String = {
      val fname = name(which).getOrElse("Identity")
      if (fname == "Identity") "Identity"
      else enc.v.get("CF") match {
        case Some(PDict(cf)) => cf.get(fname) match {
          case Some(PDict(f)) => f.get("CFM") match {
            case Some(PName(m)) => m
            case _ => "None"
          }
          case _ => "None"
        }
        case _ => "None"
      }
    }
    val (stmCfm, strCfm) =
      if (v <= 2) ("V2", "V2") else (cfmOf("StmF"), cfmOf("StrF"))
    val supported = Set("V2", "AESV2", "AESV3", "Identity")
    if (v != 1 && v != 2 && v != 4 && v != 5)
      return Left(s"encrypted PDF: unsupported V=$v R=$r")
    if (!supported(stmCfm) || !supported(strCfm))
      return Left(s"encrypted PDF: unsupported crypt filter $stmCfm/$strCfm")

    val key: Array[Byte] =
      if (v == 5) {
        val ue = enc.v.get("UE").map(strBytes).getOrElse(Array.emptyByteArray)
        if (u.length < 48 || ue.length < 32)
          return Left("encrypted PDF: malformed U/UE entries")
        PdfCrypt.tryEmptyUserPasswordV5(u, ue, r)
          .getOrElse(return Left("encrypted PDF: password required"))
      } else {
        if (o.length < 32 || u.length < 16)
          return Left("encrypted PDF: malformed O/U entries")
        val bits = int("Length", if (v >= 4) 128 else 40)
        PdfCrypt.tryEmptyUserPassword(o, u, p, id, r, bits, encMeta)
          .getOrElse(return Left("encrypted PDF: password required"))
      }

    // Per-object decrypt: AESV3 uses the file key directly; AESV2 and
    // RC4 derive per-object keys (with/without the sAlT suffix).
    def decBytes(cfm: String, num: Int, bytes: Array[Byte]): Array[Byte] = cfm match {
      case "Identity" => bytes
      case "V2" => PdfCrypt.rc4(PdfCrypt.objKey(key, num, 0), bytes)
      case "AESV2" => PdfCrypt.aesDecrypt(PdfCrypt.objKeyAes(key, num, 0), bytes)
      case _ => PdfCrypt.aesDecrypt(key, bytes) // AESV3
    }
    def decVal(x: PVal, num: Int): PVal = x match {
      case PStr(sv) => PStr(new String(
        decBytes(strCfm, num, sv.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)),
        java.nio.charset.StandardCharsets.ISO_8859_1))
      case PArr(items) => PArr(items.map(decVal(_, num)))
      case PDict(m) => PDict(m.map { case (kk, vv) => kk -> decVal(vv, num) })
      case other => other
    }
    Right(objs.map { case (num, obj) =>
      val isEncryptObj = encNum.contains(num)
      val isXref = obj.dict.v.get("Type").contains(PName("XRef"))
      if (isEncryptObj || isXref) num -> obj
      else num -> PObj(
        decVal(obj.dict, num).asInstanceOf[PDict],
        obj.stream.map(decBytes(stmCfm, num, _)))
    })
  }

  private def expandObjectStreams(objs: Map[Int, PObj]): Map[Int, PObj] = {
    val extra = HashMap[Int, PObj]()
    // Deterministic order: containers ascend by object number, and the
    // HIGHEST-numbered ObjStm defining an object wins (keep-first over
    // the descending walk) — incremental updates append higher-numbered
    // objects, so this approximates "latest revision wins" without an
    // xref; Map.values order would make collisions nondeterministic.
    objs.toSeq.sortBy(-_._1).map(_._2).foreach { o =>
      if (o.dict.v.get("Type").contains(PName("ObjStm")) && o.stream.isDefined) {
        try {
          val data = applyFilters(o.stream.get, o.dict)
          val es = new String(data, java.nio.charset.StandardCharsets.ISO_8859_1)
          val n = o.dict.v.get("N").collect { case PNum(v) => v.toInt }.getOrElse(0)
          val first = o.dict.v.get("First").collect { case PNum(v) => v.toInt }.getOrElse(0)
          var p = 0
          var k = 0
          val pairs = ArrayBuffer[(Int, Int)]()
          while (k < n && p < es.length) {
            val (numV, p1) = readInt(es, p)
            val (offV, p2) = readInt(es, p1)
            if (numV < 0 || offV < 0) { k = n } // malformed header: stop
            else { pairs += ((numV, offV)); p = p2; k += 1 }
          }
          pairs.foreach { case (objNum, off) =>
            if (first + off < es.length && !extra.contains(objNum)) {
              parseValueAt(es, first + off).foreach {
                case (d: PDict, _) => extra(objNum) = PObj(d, None)
                case (v, _) => extra(objNum) = PObj(PDict(Map.empty), None)
              }
            }
          }
        } catch { case _: Exception => /* skip malformed ObjStm */ }
      }
    }
    extra.toMap ++ objs // top-level wins
  }

  /** Read one nonnegative integer at/after p; (-1, p+1) if none. */
  private def readInt(s: String, p0: Int): (Int, Int) = {
    val p = skipWs(s, p0)
    var q = p
    while (q < s.length && s.charAt(q).isDigit) q += 1
    if (q == p) (-1, p + 1)
    else (try s.substring(p, q).toInt catch { case _: Exception => -1 }, q)
  }

  // ---- Content stream → blocks ------------------------------------------

  /** Tokenize + interpret a content stream into typed blocks: each BT..ET
    * group with text is one text block; each `Do` of an image XObject is
    * one image block carrying its `/Alt` description.
    */
  def parseContent(content: Array[Byte], xobjects: Map[String, (Boolean, String)]): Vector[Block] = {
    val s = new String(content, java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = ArrayBuffer[Block]()
    val operands = ArrayBuffer[PVal]()
    var inText = false
    val lines = ArrayBuffer[String]()
    val curLine = new java.lang.StringBuilder()

    def newLine(): Unit = {
      lines += curLine.toString
      curLine.setLength(0)
    }
    def endBlock(): Unit = {
      if (curLine.length > 0) newLine()
      val text = lines.filterNot(_.isEmpty).mkString("\n")
      if (text.nonEmpty) out += Block.text(text)
      lines.clear(); curLine.setLength(0)
    }

    var p = 0
    val n = s.length
    while (p < n) {
      val c = s.charAt(p)
      if (c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0) p += 1
      else if (c == '%') { val nl = s.indexOf('\n', p); p = if (nl < 0) n else nl + 1 }
      else if (c == '(' || c == '<' || c == '[' || c == '/' ||
               c.isDigit || c == '-' || c == '+' || c == '.') {
        parseValueAt(s, p) match {
          case Some((v, after)) if after > p => operands += v; p = after
          case _ => p += 1
        }
      } else {
        // Operator token.
        var q = p
        while (q < n && !(s.charAt(q) == ' ' || s.charAt(q) == '\n' ||
               s.charAt(q) == '\r' || s.charAt(q) == '\t' || s.charAt(q) == '\f' ||
               s.charAt(q) == '/' || s.charAt(q) == '(' || s.charAt(q) == '<' ||
               s.charAt(q) == '[')) q += 1
        val op = s.substring(p, q)
        op match {
          case "BT" => inText = true; lines.clear(); curLine.setLength(0)
          case "ET" => if (inText) endBlock(); inText = false
          case "Tj" =>
            operands.lastOption.foreach { case PStr(t) => curLine.append(t); case _ => }
          case "'" =>
            newLine()
            operands.lastOption.foreach { case PStr(t) => curLine.append(t); case _ => }
          case "\"" =>
            newLine()
            operands.lastOption.foreach { case PStr(t) => curLine.append(t); case _ => }
          case "TJ" =>
            operands.lastOption.foreach {
              case PArr(items) => items.foreach {
                case PStr(t) => curLine.append(t)
                case _ => // kerning numbers — ignored
              }
              case _ =>
            }
          case "Td" | "TD" | "T*" =>
            if (inText && curLine.length > 0) newLine()
          case "Do" =>
            operands.lastOption.foreach {
              case PName(name) =>
                xobjects.get(name).foreach { case (isImage, alt) =>
                  if (isImage) out += Block.image(alt)
                }
              case _ =>
            }
          case _ => // Tf, Tm, cm, q, Q, re, f, W, gs, ... — no text effect
        }
        operands.clear()
        p = if (q > p) q else p + 1
      }
    }
    if (inText) endBlock()
    out.toVector
  }
}
