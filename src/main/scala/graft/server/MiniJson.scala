package graft.server

/** Minimal JSON parser for request bodies — the serde counterpart for
  * [[HttpShell]]'s regression endpoint (reference main.rs:75-80: serde
  * derives `RegressionRequest { x_col, y_col }`; axum's `Json` extractor
  * does the parsing).
  *
  * A regex cannot be the parser here: a column literally named `a"b`
  * arrives as `{"x_col":"a\"b"}` and the old `"([^"]*)"` capture stopped
  * at the escape. This is the standard ~100-line recursive descent over
  * the JSON grammar: full escape handling (`\" \\ \/ \b \f \n \r \t
  * \uXXXX`, surrogate pairs composing naturally), strict number syntax,
  * and a trailing-garbage check. Objects preserve duplicate keys so the
  * deserialization layer can reject them like serde's struct derive does.
  */
object MiniJson {

  sealed trait Val
  final case class JStr(s: String) extends Val
  final case class JNum(d: Double) extends Val
  final case class JBool(b: Boolean) extends Val
  case object JNull extends Val
  final case class JArr(items: Vector[Val]) extends Val
  /** Fields in document order, duplicates preserved (serde's struct
    * deserializer errors on a duplicate field; a Map would mask it).
    */
  final case class JObj(fields: Vector[(String, Val)]) extends Val {
    def get(name: String): Option[Val] = {
      val hits = fields.collect { case (k, v) if k == name => v }
      if (hits.length > 1) throw new ParseException(s"duplicate field `$name`")
      hits.headOption
    }
  }

  final class ParseException(msg: String) extends RuntimeException(msg)

  def parse(input: String): Val = {
    val p = new Parser(input)
    val v = p.value()
    p.skipWs()
    if (!p.atEnd) throw new ParseException(s"trailing characters at ${p.pos}")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def atEnd: Boolean = pos >= s.length
    private def peek: Char =
      if (atEnd) throw new ParseException("unexpected end of input") else s.charAt(pos)
    private def next(): Char = { val c = peek; pos += 1; c }
    private def expect(c: Char): Unit =
      if (next() != c) throw new ParseException(s"expected '$c' at ${pos - 1}")
    def skipWs(): Unit =
      while (!atEnd && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t' ||
        s.charAt(pos) == '\n' || s.charAt(pos) == '\r')) pos += 1

    def value(): Val = {
      skipWs()
      peek match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JStr(string())
        case 't' => literal("true"); JBool(true)
        case 'f' => literal("false"); JBool(false)
        case 'n' => literal("null"); JNull
        case c if c == '-' || (c >= '0' && c <= '9') => number()
        case c => throw new ParseException(s"unexpected '$c' at $pos")
      }
    }

    private def literal(lit: String): Unit =
      if (s.regionMatches(pos, lit, 0, lit.length)) pos += lit.length
      else throw new ParseException(s"invalid literal at $pos")

    private def obj(): JObj = {
      expect('{'); skipWs()
      val buf = Vector.newBuilder[(String, Val)]
      if (peek == '}') { pos += 1; return JObj(buf.result()) }
      var done = false
      while (!done) {
        skipWs()
        val k = string()
        skipWs(); expect(':')
        buf += (k -> value())
        skipWs()
        next() match {
          case ',' => ()
          case '}' => done = true
          case c => throw new ParseException(s"expected ',' or '}' got '$c' at ${pos - 1}")
        }
      }
      JObj(buf.result())
    }

    private def arr(): JArr = {
      expect('['); skipWs()
      val buf = Vector.newBuilder[Val]
      if (peek == ']') { pos += 1; return JArr(buf.result()) }
      var done = false
      while (!done) {
        buf += value()
        skipWs()
        next() match {
          case ',' => ()
          case ']' => done = true
          case c => throw new ParseException(s"expected ',' or ']' got '$c' at ${pos - 1}")
        }
      }
      JArr(buf.result())
    }

    private def string(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      var done = false
      while (!done) {
        next() match {
          case '"' => done = true
          case '\\' =>
            next() match {
              case '"' => sb.append('"')
              case '\\' => sb.append('\\')
              case '/' => sb.append('/')
              case 'b' => sb.append('\b')
              case 'f' => sb.append('\f')
              case 'n' => sb.append('\n')
              case 'r' => sb.append('\r')
              case 't' => sb.append('\t')
              case 'u' =>
                if (pos + 4 > s.length) throw new ParseException("truncated \\u escape")
                val hex = s.substring(pos, pos + 4)
                val cp =
                  try Integer.parseInt(hex, 16)
                  catch { case _: NumberFormatException =>
                    throw new ParseException(s"invalid \\u escape '$hex'") }
                pos += 4
                sb.append(cp.toChar) // surrogate halves concatenate into pairs
              case c => throw new ParseException(s"invalid escape '\\$c'")
            }
          case c if c < 0x20 =>
            throw new ParseException(f"unescaped control char 0x$c%02x in string")
          case c => sb.append(c)
        }
      }
      sb.toString
    }

    private def number(): JNum = {
      val start = pos
      if (peek == '-') pos += 1
      def digits(): Unit = {
        if (atEnd || peek < '0' || peek > '9')
          throw new ParseException(s"invalid number at $pos")
        while (!atEnd && peek >= '0' && peek <= '9') pos += 1
      }
      // int part: single 0 or nonzero-led run (JSON forbids 007)
      if (peek == '0') pos += 1 else digits()
      if (!atEnd && peek == '.') { pos += 1; digits() }
      if (!atEnd && (peek == 'e' || peek == 'E')) {
        pos += 1
        if (!atEnd && (peek == '+' || peek == '-')) pos += 1
        digits()
      }
      JNum(s.substring(start, pos).toDouble)
    }
  }
}
