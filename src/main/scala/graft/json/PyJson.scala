package graft.json

/** Strict JSON parser mirroring CPython's `json.loads` behavior where the
  * repair cascade depends on it (reference:
  * src/text_extraction/json_repair.py:37-44 keys off the error *message*
  * `Expecting ',' delimiter` and its line/column). Accepts NaN/Infinity
  * like Python, rejects control characters in strings, last duplicate key
  * wins. Positions are 0-based char offsets; line/col are 1-based like
  * Python's JSONDecodeError.
  */
object PyJson {

  sealed trait JVal
  case object JNull extends JVal
  final case class JBool(v: Boolean) extends JVal
  final case class JNum(v: Double) extends JVal
  final case class JStr(v: String) extends JVal
  final case class JArr(v: Vector[JVal]) extends JVal
  final case class JObj(v: Map[String, JVal]) extends JVal

  final case class JsonError(msg: String, doc: String, pos: Int) extends Exception(msg) {
    // Python JSONDecodeError line/col computation.
    val lineno: Int = doc.substring(0, math.min(pos, doc.length)).count(_ == '\n') + 1
    val colno: Int = pos - doc.lastIndexOf('\n', math.max(0, math.min(pos, doc.length)) - 1)
    override def getMessage: String = s"$msg: line $lineno column $colno (char $pos)"
    override def toString: String = getMessage
  }

  def parse(doc: String): Either[JsonError, JVal] =
    try {
      val p = new Parser(doc)
      val v = p.parseValue()
      p.skipWs()
      if (p.pos < doc.length) Left(JsonError("Extra data", doc, p.pos))
      else Right(v)
    } catch { case e: JsonError => Left(e) }

  def isValid(doc: String): Boolean = parse(doc).isRight

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< U+0020) escaped, everything else verbatim, so `parse`
    * of the result returns `s` unchanged.
    */
  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Container-nesting cap. CPython's recursive-descent json.loads hits
    * RecursionError at ~sys.getrecursionlimit() (default 1000) nesting —
    * an exception the reference's repair cascade does NOT catch, so its
    * service 500s on such input. This twin converts the same condition
    * into a catchable [JsonError] instead (strictly safer: JVM
    * StackOverflowError is not an Exception and would escape the
    * kernel's error-record recovery); depth is capped, never the
    * payload size.
    */
  private val MaxDepth = 1000

  private final class Parser(doc: String) {
    var pos = 0
    private var depth = 0
    private val n = doc.length

    def skipWs(): Unit =
      while (pos < n && (doc.charAt(pos) == ' ' || doc.charAt(pos) == '\t' ||
             doc.charAt(pos) == '\n' || doc.charAt(pos) == '\r')) pos += 1

    private def err(msg: String, at: Int): Nothing = throw JsonError(msg, doc, at)

    def parseValue(): JVal = {
      skipWs()
      if (pos >= n) err("Expecting value", pos)
      doc.charAt(pos) match {
        case '{' => parseObject()
        case '[' => parseArray()
        case '"' => JStr(parseString())
        case 't' =>
          if (doc.startsWith("true", pos)) { pos += 4; JBool(true) }
          else err("Expecting value", pos)
        case 'f' =>
          if (doc.startsWith("false", pos)) { pos += 5; JBool(false) }
          else err("Expecting value", pos)
        case 'n' =>
          if (doc.startsWith("null", pos)) { pos += 4; JNull }
          else err("Expecting value", pos)
        case 'N' =>
          if (doc.startsWith("NaN", pos)) { pos += 3; JNum(Double.NaN) }
          else err("Expecting value", pos)
        case 'I' =>
          if (doc.startsWith("Infinity", pos)) { pos += 8; JNum(Double.PositiveInfinity) }
          else err("Expecting value", pos)
        case '-' if doc.startsWith("-Infinity", pos) =>
          pos += 9; JNum(Double.NegativeInfinity)
        case c if c == '-' || (c >= '0' && c <= '9') => parseNumber()
        case _ => err("Expecting value", pos)
      }
    }

    private def parseNumber(): JNum = {
      val start = pos
      if (pos < n && doc.charAt(pos) == '-') pos += 1
      if (pos >= n || !doc.charAt(pos).isDigit) err("Expecting value", start)
      while (pos < n && doc.charAt(pos).isDigit) pos += 1
      if (pos < n && doc.charAt(pos) == '.') {
        pos += 1
        while (pos < n && doc.charAt(pos).isDigit) pos += 1
      }
      if (pos < n && (doc.charAt(pos) == 'e' || doc.charAt(pos) == 'E')) {
        pos += 1
        if (pos < n && (doc.charAt(pos) == '+' || doc.charAt(pos) == '-')) pos += 1
        while (pos < n && doc.charAt(pos).isDigit) pos += 1
      }
      JNum(doc.substring(start, pos).toDouble)
    }

    private def parseString(): String = {
      val startQuote = pos
      pos += 1 // opening quote
      val sb = new java.lang.StringBuilder()
      while (true) {
        if (pos >= n) err("Unterminated string starting at", startQuote)
        val c = doc.charAt(pos)
        if (c == '"') { pos += 1; return sb.toString }
        else if (c == '\\') {
          if (pos + 1 >= n) err("Unterminated string starting at", startQuote)
          doc.charAt(pos + 1) match {
            case '"' => sb.append('"'); pos += 2
            case '\\' => sb.append('\\'); pos += 2
            case '/' => sb.append('/'); pos += 2
            case 'b' => sb.append('\b'); pos += 2
            case 'f' => sb.append('\f'); pos += 2
            case 'n' => sb.append('\n'); pos += 2
            case 'r' => sb.append('\r'); pos += 2
            case 't' => sb.append('\t'); pos += 2
            case 'u' =>
              if (pos + 6 > n) err(s"Invalid \\uXXXX escape", pos + 2)
              try {
                sb.append(Integer.parseInt(doc.substring(pos + 2, pos + 6), 16).toChar)
                pos += 6
              } catch {
                case _: NumberFormatException => err(s"Invalid \\uXXXX escape", pos + 2)
              }
            case _ => err(s"Invalid \\escape", pos)
          }
        } else if (c < ' ') err(s"Invalid control character at", pos)
        else { sb.append(c); pos += 1 }
      }
      throw new IllegalStateException("unreachable")
    }

    private def parseObject(): JObj = {
      depth += 1
      if (depth > MaxDepth) err("Nesting too deep", pos)
      try parseObjectBody()
      finally depth -= 1
    }

    private def parseObjectBody(): JObj = {
      pos += 1 // '{'
      skipWs()
      val entries = scala.collection.mutable.LinkedHashMap[String, JVal]()
      if (pos < n && doc.charAt(pos) == '}') { pos += 1; return JObj(entries.toMap) }
      while (true) {
        skipWs()
        if (pos >= n || doc.charAt(pos) != '"')
          err("Expecting property name enclosed in double quotes", pos)
        val key = parseString()
        skipWs()
        if (pos >= n || doc.charAt(pos) != ':') err("Expecting ':' delimiter", pos)
        pos += 1
        entries(key) = parseValue()
        skipWs()
        if (pos < n && doc.charAt(pos) == ',') { pos += 1 }
        else if (pos < n && doc.charAt(pos) == '}') { pos += 1; return JObj(entries.toMap) }
        else err("Expecting ',' delimiter", pos)
      }
      throw new IllegalStateException("unreachable")
    }

    private def parseArray(): JArr = {
      depth += 1
      if (depth > MaxDepth) err("Nesting too deep", pos)
      try parseArrayBody()
      finally depth -= 1
    }

    private def parseArrayBody(): JArr = {
      pos += 1 // '['
      skipWs()
      val items = Vector.newBuilder[JVal]
      if (pos < n && doc.charAt(pos) == ']') { pos += 1; return JArr(items.result()) }
      while (true) {
        items += parseValue()
        skipWs()
        if (pos < n && doc.charAt(pos) == ',') { pos += 1 }
        else if (pos < n && doc.charAt(pos) == ']') { pos += 1; return JArr(items.result()) }
        else err("Expecting ',' delimiter", pos)
      }
      throw new IllegalStateException("unreachable")
    }
  }
}
