package graft.json

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** RFC 8259 JSON text codec with the reference's lenient extensions and
  * canonical output form (reference: src/json.rs:74-463, 481-609).
  *
  * Parser extensions beyond strict RFC 8259 (reference `parse_num`,
  * src/json.rs:226-249 consumes a run of `[0-9+-.eE]` and defers to the
  * runtime's int/float parse): leading zeros (`00`, `001`), bare fractions
  * (`.2`, `-.00`), leading `+`, and zero-padded exponents (`02e-1`).
  *
  * The parser reads UTF-8 bytes. Text is decoded exactly as
  * `new String(bytes, UTF_8)` would decode it (malformed sequences become
  * U+FFFD), and error offsets count UTF-16 chars of that decoded text, so
  * `parse(bytes)` and `parse(new String(bytes, UTF_8))` agree on values and
  * on error messages alike.
  *
  * Canonical serializer (reference `Display`, src/json.rs:568-609): object
  * keys sorted, floats in Rust `{:e}` scientific notation with
  * shortest-round-trip mantissa, strings escaped per the reference's ESCAPE
  * table (control chars, quote and backslash only; `/` NOT escaped).
  */
object JsonText {

  final case class JsonParseException(msg: String, offset: Int)
      extends Exception(s"$msg at offset $offset")

  /** Parse one JSON value; trailing content is an error. A lone surrogate
    * char in `text` has no UTF-8 form and reads as `?`. */
  def parse(text: String): JDoc = parse(text.getBytes(UTF_8))

  def parse(bytes: Array[Byte]): JDoc = parse(bytes, 0, bytes.length)

  /** Parse the UTF-8 text in `bytes(off until off + len)`; error offsets
    * are relative to `off`. */
  def parse(bytes: Array[Byte], off: Int, len: Int): JDoc = {
    val p = new Parser(bytes, off, off + len)
    p.skipWs()
    val v = p.value(build = true)
    p.finish()
    v
  }

  /** The top-level keys a projected parse builds; everything else is
    * validated but not materialized. */
  final class Projection(val keys: Set[String]) {
    // ASCII keys match the raw key bytes; any other key is compared after
    // decoding (raw bytes that decode to U+FFFD never equal its encoding)
    private[JsonText] val asciiNames: Array[String] = keys.filter(_.forall(_ < 0x80)).toArray
    private[JsonText] val asciiKeys: Array[Array[Byte]] = asciiNames.map(_.getBytes(ISO_8859_1))
  }

  /** Parse like [[parse]], but when the top-level value is an object build
    * only the values of `proj.keys` (last wins on duplicates) and return
    * an object holding just those keys. Every other value is checked
    * against the same grammar, depth limit and number rules without being
    * built, so a document is rejected, with the same message, exactly when
    * [[parse]] rejects it. A non-object root is parsed in full. */
  def parseProjected(bytes: Array[Byte], off: Int, len: Int, proj: Projection): JDoc = {
    val p = new Parser(bytes, off, off + len)
    p.skipWs()
    val v = if (!p.atEnd && bytes(p.pos) == '{') p.projectedObject(proj) else p.value(build = true)
    p.finish()
    v
  }

  def parseProjected(bytes: Array[Byte], keys: Set[String]): JDoc =
    parseProjected(bytes, 0, bytes.length, new Projection(keys))

  /** Parse a stream of whitespace-separated JSON values (the reference's
    * `Jsons` scan format, src/json.rs:123-160). */
  def parseMany(text: String): Vector[JDoc] = {
    val p = Parser.of(text)
    val out = Vector.newBuilder[JDoc]
    p.skipWs()
    while (!p.atEnd) {
      out += p.value(build = true)
      p.skipWs()
    }
    out.result()
  }

  /** Parse as many leading values as possible; on malformed input returns
    * everything parsed so far plus the error for the remainder (the
    * error-as-data discipline for whole-file scans). */
  def parseManyLenient(text: String): (Vector[JDoc], Option[String]) = {
    val p = Parser.of(text)
    val out = Vector.newBuilder[JDoc]
    p.skipWs()
    while (!p.atEnd) {
      try out += p.value(build = true)
      catch { case e: JsonParseException => return (out.result(), Some(e.getMessage)) }
      p.skipWs()
    }
    (out.result(), None)
  }

  /** Max container nesting: deeper input raises [[JsonParseException]] (the
    * errors-as-data path) instead of a StackOverflowError that would kill
    * the whole Spark task. 512 is far beyond any real document and well
    * inside the JVM's default stack for the recursive-descent walk. */
  val MaxDepth = 512

  private val True = JBool(true)
  private val False = JBool(false)

  private object Parser {
    def of(text: String): Parser = {
      val b = text.getBytes(UTF_8)
      new Parser(b, 0, b.length)
    }
  }

  /** Recursive descent over `buf(start until end)`. With `build = false`
    * a value is only validated and the call returns null. */
  private final class Parser(buf: Array[Byte], start: Int, end: Int) {
    var pos = start
    private var depth = 0
    def atEnd: Boolean = pos >= end
    def skipWs(): Unit = {
      var i = pos
      while (i < end && { val b = buf(i); b == ' ' || b == '\n' || b == '\t' || b == '\r' }) i += 1
      pos = i
    }

    def finish(): Unit = {
      skipWs()
      if (!atEnd) fail("trailing content")
    }

    // Error positions: every byte position an error is raised at begins a
    // UTF-8 sequence (it follows an ASCII byte or ends the input), so the
    // UTF-16 offset is the length of the decoded prefix.
    private def charOffset(p: Int): Int = {
      var i = start
      while (i < p && buf(i) >= 0) i += 1
      if (i == p) p - start else new String(buf, start, p - start, UTF_8).length
    }

    /** The UTF-16 char the decoded text has at byte position `p`. */
    private def charAt(p: Int): Char =
      if (buf(p) >= 0) buf(p).toChar
      else new String(buf, p, math.min(4, end - p), UTF_8).charAt(0)

    def fail(msg: String): Nothing = throw JsonParseException(msg, charOffset(pos))

    def value(build: Boolean): JDoc = {
      skipWs()
      if (atEnd) fail("unexpected end of input")
      (buf(pos) & 0xFF).toChar match {
        case 'n' => expect("null"); JNull
        case 't' => expect("true"); True
        case 'f' => expect("false"); False
        case '"' =>
          val s = string(build)
          if (build) JStr(s) else null
        case '[' => array(build)
        case '{' => obj(build)
        case c if c == '-' || c == '+' || c == '.' || c == 'e' || c == 'E' || (c >= '0' && c <= '9') =>
          number(build)
        case _ => fail(s"invalid token ${charAt(pos)}")
      }
    }

    private def expect(word: String): Unit = {
      val n = word.length
      if (pos + n > end) fail(s"expected $word")
      var i = 0
      while (i < n) {
        if (buf(pos + i) != word.charAt(i)) fail(s"expected $word")
        i += 1
      }
      pos += n
    }

    /** Reference `parse_num` (src/json.rs:226-249): take the run of number
      * chars; float iff it contains `.`/`e`/`E`, else 64-bit integer. */
    private def number(build: Boolean): JDoc = {
      val s0 = pos
      var isFloat = false
      var done = false
      while (pos < end && !done) {
        buf(pos) match {
          case b if (b >= '0' && b <= '9') || b == '+' || b == '-' => pos += 1
          case '.' | 'e' | 'E' => isFloat = true; pos += 1
          case _ => done = true
        }
      }
      if (!build) {
        if (!(if (isFloat) floatToken(s0) else intToken(s0)))
          fail(s"invalid number ${new String(buf, s0, pos - s0, ISO_8859_1)}")
        null
      } else {
        // plain `-?\d{1,18}` accumulates directly; the rest take the ladder
        val neg = buf(s0) == '-'
        val d0 = if (neg) s0 + 1 else s0
        if (!isFloat && pos > d0 && pos - d0 <= 18 && digits(d0) == pos) {
          var v = 0L
          var i = d0
          while (i < pos) { v = v * 10 + (buf(i) - '0'); i += 1 }
          JLong(if (neg) -v else v)
        } else ladder(new String(buf, s0, pos - s0, ISO_8859_1), isFloat)
      }
    }

    private def ladder(s: String, isFloat: Boolean): JDoc =
      try {
        if (isFloat) JDouble(java.lang.Double.parseDouble(s))
        else JLong(java.lang.Long.parseLong(s))
      } catch {
        case _: NumberFormatException if !isFloat =>
          // Reference i128 semantics (json.rs:234,469): an integer past
          // ±2^63-1 stays EXACT as a JBigInt over the full i128 range —
          // a 39-digit id inside ±2^127 round-trips bit-exactly
          // (DuckDB's HUGEINT is the same domain). Outside i128 it
          // degrades to double (jq's behavior) instead of erroring the
          // whole document: at corpus scale one absurd literal must
          // not kill the batch.
          val digits = s.length - (if (s.startsWith("-") || s.startsWith("+")) 1 else 0)
          val wide =
            if (digits <= JInt.MaxDigits)
              try Some(BigInt(s)).filter(JInt.inI128).map(JInt.of)
              catch { case _: NumberFormatException => None }
            else None
          wide.getOrElse {
            // integer ladder overflow saturates (JInt.satDouble policy)
            // so the degraded value stays canonicalizable + re-parseable
            try JDouble(JInt.satDouble(java.lang.Double.parseDouble(s)))
            catch { case _: NumberFormatException => fail(s"invalid number $s") }
          }
        case _: NumberFormatException => fail(s"invalid number $s")
      }

    // The tokens the ladder accepts, decided without parsing: an integer
    // token is `[+-]?\d+` (Long, BigInt or double takes any such run), a
    // float token is `Double.parseDouble`'s decimal grammar
    // `[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?`.
    private def sign(i: Int): Int = if (i < pos && (buf(i) == '+' || buf(i) == '-')) i + 1 else i
    private def digits(i0: Int): Int = {
      var i = i0
      while (i < pos && buf(i) >= '0' && buf(i) <= '9') i += 1
      i
    }
    private def intToken(s0: Int): Boolean = {
      val d = sign(s0)
      val e = digits(d)
      e > d && e == pos
    }
    private def floatToken(s0: Int): Boolean = {
      val m = sign(s0)
      var i = digits(m)
      var nDigits = i - m
      if (i < pos && buf(i) == '.') {
        val f = digits(i + 1)
        nDigits += f - (i + 1)
        i = f
      }
      if (nDigits == 0) false
      else if (i == pos) true
      else if (buf(i) != 'e' && buf(i) != 'E') false
      else {
        val x = sign(i + 1)
        val e = digits(x)
        e > x && e == pos
      }
    }

    /** String with RFC 8259 escapes incl. UTF-16 surrogate pairs
      * (reference: src/json.rs:251-365); `pos` is at the opening quote.
      * Returns null when `build` is false. */
    def string(build: Boolean): String = {
      var seg = pos + 1
      pos = plainRun(seg)
      if (pos < end && buf(pos) == '"') {
        pos += 1
        return if (build) new String(buf, seg, pos - 1 - seg, UTF_8) else null
      }
      val sb = if (build) new java.lang.StringBuilder(pos - seg + 16) else null
      while (true) {
        // at a quote or a backslash, the end of a plain run
        if (atEnd) fail("incomplete string")
        if (build) appendSegment(sb, seg, pos)
        pos += 1
        if (buf(pos - 1) == '"') return if (build) sb.toString else null
        if (atEnd) fail("incomplete string escape")
        val e = buf(pos)
        pos += 1
        e match {
          case '"'  => if (build) sb.append('"')
          case '\\' => if (build) sb.append('\\')
          case '/'  => if (build) sb.append('/')
          case 'b'  => if (build) sb.append('\b')
          case 'f'  => if (build) sb.append('\f')
          case 'n'  => if (build) sb.append('\n')
          case 'r'  => if (build) sb.append('\r')
          case 't'  => if (build) sb.append('\t')
          case 'u'  =>
            val code1 = hex4()
            if (code1 >= 0xDC00 && code1 <= 0xDFFF) fail(s"invalid string codepoint $code1")
            else if (code1 >= 0xD800 && code1 <= 0xDBFF) {
              if (pos + 1 >= end || buf(pos) != '\\' || buf(pos + 1) != 'u')
                fail("invalid surrogate pair")
              pos += 2
              val code2 = hex4()
              if (code2 < 0xDC00 || code2 > 0xDFFF) fail(s"invalid string codepoint $code2")
              if (build) sb.appendCodePoint((((code1 - 0xD800) << 10) | (code2 - 0xDC00)) + 0x10000)
            } else if (build) sb.append(code1.toChar)
          case _ =>
            // the offset is just past the offending char, as a char
            // scanner reports it (one past a surrogate pair's high half)
            throw JsonParseException(s"invalid string escape ${charAt(pos - 1)}", charOffset(pos - 1) + 1)
        }
        seg = pos
        pos = plainRun(pos)
      }
      throw new IllegalStateException("unreachable")
    }

    /** The end of the run of string bytes from `from` that need no escape
      * handling: the next quote, backslash or the end of input. */
    private def plainRun(from: Int): Int = {
      var i = from
      while (i < end && { val c = buf(i); c != '"' && c != '\\' }) i += 1
      i
    }

    private def appendSegment(sb: java.lang.StringBuilder, from: Int, until: Int): Unit =
      if (until > from) sb.append(new String(buf, from, until - from, UTF_8))

    private def hex4(): Int = {
      // a char scanner first asks for 4 chars; 16 or more bytes always
      // decode to at least 4
      val left = end - pos
      if (left < 4 || (left < 16 && new String(buf, pos, left, UTF_8).length < 4))
        fail("incomplete string escape code")
      var code = 0
      var i = 0
      while (i < 4) {
        val c = buf(pos)
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else fail(s"invalid string escape code ${charAt(pos)}")
        code = code * 16 + d
        pos += 1; i += 1
      }
      code
    }

    private def enter(): Unit = {
      depth += 1
      if (depth > MaxDepth) fail(s"nesting deeper than $MaxDepth")
      pos += 1 // '[' or '{'
      skipWs()
    }

    private def array(build: Boolean): JDoc = {
      enter()
      val items = if (build) Vector.newBuilder[JDoc] else null
      if (!atEnd && buf(pos) == ']') { pos += 1; depth -= 1; return if (build) JArr(items.result()) else null }
      var done = false
      while (!done) {
        val v = value(build)
        if (build) items += v
        skipWs()
        if (atEnd) fail("incomplete array")
        buf(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; done = true
          case _   => fail(s"expected , or ] but got ${charAt(pos)}")
        }
      }
      depth -= 1
      if (build) JArr(items.result()) else null
    }

    /** An object; with a projection (top level only) just its keys are
      * built and the rest validated. */
    private def obj(build: Boolean, proj: Projection = null): JDoc = {
      enter()
      val props = if (build) Vector.newBuilder[(String, JDoc)] else null
      if (!atEnd && buf(pos) == '}') { pos += 1; depth -= 1; return if (build) JObj.fromProps(props.result()) else null }
      var done = false
      while (!done) {
        skipWs()
        if (atEnd || buf(pos) != '"') fail("expected object key string")
        if (proj != null) {
          val kv = projectedMember(proj)
          if (kv != null) props += kv
        } else {
          val key = string(build)
          val v = colonValue(build)
          if (build) props += ((key, v))
        }
        skipWs()
        if (atEnd) fail("incomplete object")
        buf(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; done = true
          case _   => fail(s"expected , or } but got ${charAt(pos)}")
        }
      }
      depth -= 1
      if (build) JObj.fromProps(props.result()) else null
    }

    def projectedObject(proj: Projection): JDoc = obj(build = true, proj)

    /** One member of a projected object: its (key, value) when the key is
      * projected, else null after validating the value. */
    private def projectedMember(proj: Projection): (String, JDoc) = {
      val k0 = pos + 1
      var k1 = k0
      while (k1 < end && buf(k1) >= 0 && buf(k1) != '"' && buf(k1) != '\\') k1 += 1
      val key =
        if (k1 < end && buf(k1) == '"') {
          // an ASCII key without escapes is matched on its bytes
          pos = k1 + 1
          val k = matchAscii(proj.asciiKeys, k0, k1)
          if (k < 0) null else proj.asciiNames(k)
        } else {
          val decoded = string(build = true)
          if (proj.keys.contains(decoded)) decoded else null
        }
      if (key == null) { colonValue(build = false); null }
      else (key, colonValue(build = true))
    }

    private def matchAscii(keys: Array[Array[Byte]], from: Int, until: Int): Int = {
      var k = 0
      while (k < keys.length) {
        val key = keys(k)
        if (key.length == until - from) {
          var i = 0
          while (i < key.length && key(i) == buf(from + i)) i += 1
          if (i == key.length) return k
        }
        k += 1
      }
      -1
    }

    private def colonValue(build: Boolean): JDoc = {
      skipWs()
      if (atEnd || buf(pos) != ':') fail("expected :")
      pos += 1
      value(build)
    }
  }

  // ---------------------------------------------------------------- output

  /** Canonical text form (sorted keys come free from the JObj invariant). */
  def canonical(d: JDoc): String = {
    val sb = new java.lang.StringBuilder
    write(sb, d)
    sb.toString
  }

  def write(sb: java.lang.StringBuilder, d: JDoc): Unit = d match {
    case JNull         => sb.append("null")
    case JBool(true)   => sb.append("true")
    case JBool(false)  => sb.append("false")
    case JLong(v)      => sb.append(v)
    case JBigInt(v)    => sb.append(v.toString)
    case JDouble(v)    => sb.append(rustSci(v))
    case JStr(s)       => writeString(sb, s)
    case JArr(items)   =>
      sb.append('[')
      var i = 0
      while (i < items.length) {
        if (i > 0) sb.append(',')
        write(sb, items(i))
        i += 1
      }
      sb.append(']')
    case JObj(props)   =>
      sb.append('{')
      var i = 0
      while (i < props.length) {
        if (i > 0) sb.append(',')
        writeString(sb, props(i)._1)
        sb.append(':')
        write(sb, props(i)._2)
        i += 1
      }
      sb.append('}')
  }

  /** Escape per the reference's ESCAPE table (src/json.rs.lookup:37-90):
    * named escapes for \b \t \n \f \r, \uXXXX for other control chars,
    * plus `"` and `\`; everything else verbatim (no `/` escaping). */
  def writeString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Rust `{:e}` float formatting: shortest-round-trip mantissa normalized
    * to one leading digit, exponent always present without `+` (golden
    * corpus: `10.2` → `1.02e1`, `0.2` → `2e-1`, `-0.0` → `0e0`).
    *
    * The shortest decimal is computed directly (smallest precision whose
    * correctly-rounded decimal round-trips to the same double) rather than
    * trusting `Double.toString`: on JDK 17 the JDK string is round-trip
    * but NOT always shortest (JDK-4511638, fixed only in JDK 19+), which
    * would diverge from the reference's Rust `{:e}` output. HALF_EVEN on
    * the exact binary expansion matches Ryu's digit selection. */
  def rustSci(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d == java.lang.Double.POSITIVE_INFINITY) return "inf"
    if (d == java.lang.Double.NEGATIVE_INFINITY) return "-inf"
    if (d == 0.0) return "0e0" // golden corpus drops the sign of -0.0
    val neg = d < 0
    val ad = math.abs(d)
    val exact = new java.math.BigDecimal(ad)
    def roundAt(p: Int): java.math.BigDecimal =
      exact.round(new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN))
    // Seed the precision from the JDK string's significant-digit count —
    // it round-trips, and the correctly-rounded decimal at the same
    // precision is at least as close, so it round-trips too. Then probe
    // DOWNWARD for shorter (JDK 17 strings are occasionally 1-2 digits
    // over shortest, JDK-4511638): 2-3 roundings per double on the
    // canonical-output hot path instead of up to 17 ascending probes.
    val jdk = java.lang.Double.toString(ad)
    val ePos = jdk.indexOf('E')
    val mant = if (ePos >= 0) jdk.substring(0, ePos) else jdk
    val sig = mant.replace(".", "").dropWhile(_ == '0').reverse.dropWhile(_ == '0').reverse
    val seed = math.max(1, math.min(17, sig.length))
    var bd = roundAt(seed)
    if (bd.doubleValue() != ad) {
      // defensive: should be unreachable (see above); widen until exact
      var p = seed + 1
      while (bd.doubleValue() != ad && p <= 17) { bd = roundAt(p); p += 1 }
      if (bd.doubleValue() != ad) bd = exact
    } else {
      var p = seed - 1
      var shorter = true
      while (p >= 1 && shorter) {
        val cand = roundAt(p)
        if (cand.doubleValue() == ad) { bd = cand; p -= 1 } else shorter = false
      }
    }
    val unscaled = bd.unscaledValue.toString
    val e = unscaled.length - 1 - bd.scale
    val digits = {
      val t = unscaled.reverse.dropWhile(_ == '0').reverse
      if (t.isEmpty) "0" else t
    }
    val m = if (digits.length == 1) digits else s"${digits.head}.${digits.tail}"
    (if (neg) "-" else "") + m + "e" + e
  }
}
