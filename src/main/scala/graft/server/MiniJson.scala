package graft.server

import graft.sources.ResultShaper

/** Minimal recursive-descent JSON parser for gateway request bodies
  * (log records ingest, mapping params). Returns
  * Map[String, Any] / Vector[Any] / String / Double / Boolean / null.
  * Strict enough for the wire (throws on trailing garbage); no
  * dependencies — the gateway renders JSON by hand for the same reason.
  */
object MiniJson {

  def parse(s: String): Any = {
    val p = new P(s)
    p.skipWs()
    val v = p.value()
    p.skipWs()
    require(p.i >= s.length, s"trailing characters at ${p.i}")
    v
  }

  def parseObject(s: String): Map[String, Any] = parse(s) match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case other => sys.error(s"expected JSON object, got $other")
  }

  /** Render a parsed value back to compact JSON (nested record fields
    * are stored as their JSON text, like the reference's fastjson
    * passthrough). */
  def render(v: Any): String = v match {
    case null => "null"
    case l: Long => l.toString
    case s: String => ResultShaper.jsonStr(s)
    case d: Double =>
      if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15)
        d.toLong.toString
      else d.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) =>
      s"${render(String.valueOf(k))}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(String.valueOf(other))
  }

  private final class P(s: String) {
    var i = 0
    def skipWs(): Unit =
      while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    private def ch: Char = {
      require(i < s.length, "unexpected end of JSON")
      s.charAt(i)
    }
    private def expect(c: Char): Unit = {
      require(ch == c, s"expected '$c' at $i, got '$ch'")
      i += 1
    }
    def value(): Any = {
      skipWs()
      ch match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => lit("true", java.lang.Boolean.TRUE)
        case 'f' => lit("false", java.lang.Boolean.FALSE)
        case 'n' => lit("null", null)
        case _ => num()
      }
    }
    private def lit(word: String, v: Any): Any = {
      require(s.regionMatches(i, word, 0, word.length),
        s"bad literal at $i")
      i += word.length; v
    }
    private def obj(): Map[String, Any] = {
      expect('{'); skipWs()
      if (ch == '}') { i += 1; return Map.empty }
      val b = Map.newBuilder[String, Any]
      var done = false
      while (!done) {
        skipWs()
        val k = str()
        skipWs(); expect(':')
        b += k -> value()
        skipWs()
        if (ch == ',') i += 1 else { expect('}'); done = true }
      }
      b.result()
    }
    private def arr(): Vector[Any] = {
      expect('['); skipWs()
      if (ch == ']') { i += 1; return Vector.empty }
      val b = Vector.newBuilder[Any]
      var done = false
      while (!done) {
        b += value()
        skipWs()
        if (ch == ',') i += 1 else { expect(']'); done = true }
      }
      b.result()
    }
    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (ch != '"') {
        val c = ch
        i += 1
        if (c == '\\') {
          val e = ch; i += 1
          e match {
            case '"' => b += '"'
            case '\\' => b += '\\'
            case '/' => b += '/'
            case 'b' => b += '\b'
            case 'f' => b += '\f'
            case 'n' => b += '\n'
            case 'r' => b += '\r'
            case 't' => b += '\t'
            case 'u' =>
              require(i + 4 <= s.length, "bad \\u escape")
              b += Integer.parseInt(s.substring(i, i + 4), 16).toChar
              i += 4
            case x => sys.error(s"bad escape \\$x")
          }
        } else b += c
      }
      i += 1
      b.result()
    }
    private def num(): Any = {
      val start = i
      if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      while (i < s.length && (s.charAt(i).isDigit || "eE+-.".contains(
        s.charAt(i)))) i += 1
      require(i > start, s"bad number at $start")
      val lit = s.substring(start, i)
      // integral literals keep exact 64-bit values: a Double round-trip
      // quantizes above 2^53 (nanosecond epoch timestamps in /records)
      if (!lit.exists(c => c == '.' || c == 'e' || c == 'E'))
        try java.lang.Long.valueOf(lit.toLong)
        catch { case _: NumberFormatException => lit.toDouble }
      else lit.toDouble
    }
  }
}
