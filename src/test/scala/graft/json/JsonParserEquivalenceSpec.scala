package graft.json

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The byte-level parser against itself: a projected parse must agree with
  * the full parse restricted to its keys (same acceptance, same message),
  * and parsing UTF-8 bytes must agree with parsing their decoded String.
  * Texts are generated, then often truncated or mutated, so most of the
  * error paths are reached as well as the values. */
class JsonParserEquivalenceSpec extends AnyFunSuite {

  private val Cases = 3000

  private val keyPool = Vector("a", "b", "grp", "score", "", "é", "x y", "\"q", "😀", "a\u0000")

  private def enc(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** A key as JSON text: plain, fully \u-escaped, or raw. */
  private val genKey: Gen[Array[Byte]] = for {
    k <- Gen.oneOf(keyPool)
    form <- Gen.choose(0, 3)
  } yield form match {
    case 0 => enc("\"" + k.flatMap(c => f"\\u${c.toInt}%04x") + "\"")
    case _ =>
      val sb = new java.lang.StringBuilder
      JsonText.writeString(sb, k)
      enc(sb.toString)
  }

  private val stringParts: Vector[Array[Byte]] = Vector(
    "plain", " ", "é", "日本", "😀", "\\n", "\\\"", "\\\\", "\\/", "\\u00e9", "\\ud83d\\ude00",
    "\\ud800", "\\udc00", "\\ud800x", "\\ud800\\u0041", "\\x", "\\u12g4", "\\u", "\\", "\t"
  ).map(enc) ++ Vector(
    Array(0xff.toByte), Array(0xc3.toByte), Array(0xe2.toByte, 0x82.toByte),
    Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), Array(0xf0.toByte, 0x9f.toByte),
    Array(0x80.toByte), Array(0xf8.toByte, 0x88.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte))

  private val genString: Gen[Array[Byte]] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf(stringParts)))
      .map(ps => Array('"'.toByte) ++ ps.flatten ++ Array('"'.toByte))

  private val numbers = Vector(
    "0", "-0", "7", "-42", "00", "001", ".2", "-.00", "+1", "02e-1", "1-2", "1e", "1.", "1.e5",
    ".e5", "e5", "-", "+", "--1", "+-1", "1e+-5", "1e5.5", "1.5E+3", "123456789012345678",
    "-123456789012345678", "1234567890123456789", "9223372036854775807", "9223372036854775808",
    "-9223372036854775809", "170141183460469231731687303715884105727",
    "170141183460469231731687303715884105728", "-170141183460469231731687303715884105728",
    "-170141183460469231731687303715884105729", "1" + "0" * 45, "1e400", "-1e-400")

  private def genValue(depth: Int): Gen[Array[Byte]] = {
    val leaves = Gen.frequency(
      3 -> Gen.oneOf(numbers).map(enc),
      3 -> genString,
      1 -> Gen.oneOf("null", "true", "false", "nul", "tru").map(enc))
    if (depth <= 0) leaves
    else Gen.frequency(
      4 -> leaves,
      1 -> Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genValue(depth - 1)))
        .map(vs => enc("[") ++ join(vs, ", ") ++ enc("]")),
      2 -> genObject(depth - 1))
  }

  private def genObject(depth: Int): Gen[Array[Byte]] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, for {
      k <- genKey
      ws <- Gen.oneOf("", " ", "\n\t")
      v <- genValue(depth)
    } yield k ++ enc(ws + ":" + ws) ++ v)).map(ms => enc("{") ++ join(ms, ",") ++ enc("}"))

  private def join(parts: List[Array[Byte]], sep: String): Array[Byte] =
    if (parts.isEmpty) Array.empty
    else parts.reduce(_ ++ enc(sep) ++ _)

  /** Past the depth limit, under a random key. */
  private val genDeep: Gen[Array[Byte]] = for {
    k <- genKey
    n <- Gen.oneOf(511, 512, 513, 600)
    open <- Gen.oneOf("[", "{\"d\":")
  } yield {
    val close = if (open == "[") "]" else "}"
    enc("{") ++ k ++ enc(":" + open * n + "1" + close * n + "}")
  }

  private val interesting: Vector[Byte] =
    "{}[]\",:\\ -+.eE0un".getBytes(UTF_8).toVector ++ Vector(0x80, 0xc3, 0xe2, 0xf0, 0xff).map(_.toByte)

  private val genText: Gen[Array[Byte]] = for {
    root <- Gen.frequency(6 -> genObject(3), 2 -> genValue(3), 1 -> genDeep)
    ws <- Gen.oneOf("", " ", "\n")
    tail <- Gen.frequency(8 -> Gen.const(""), 1 -> Gen.oneOf(" x", " 1", "{}"))
    text = enc(ws) ++ root ++ enc(ws + tail)
    mutation <- Gen.choose(0, 9)
    at <- Gen.choose(0, math.max(0, text.length - 1))
    b <- Gen.oneOf(interesting)
  } yield mutation match {
    case 0 => text.take(at) // truncation
    case 1 if text.nonEmpty => text.updated(at, b) // byte mutation
    case 2 => text.take(at) ++ Array(b) ++ text.drop(at) // insertion
    case _ => text
  }

  private val genKeys: Gen[Set[String]] = Gen.someOf(keyPool).map(_.toSet)

  private def outcome(f: => JDoc): Either[String, JDoc] =
    try Right(f) catch { case e: JsonText.JsonParseException => Left(e.getMessage) }

  private def forAllN[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    Iterator.iterate(Seed(0x6a736f6eL))(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default.withSize(20), seed).foreach(f)
    }

  private def show(b: Array[Byte]): String = new String(b, UTF_8).take(300)

  test(s"property: parseProjected equals the full parse restricted to its keys ($Cases cases)") {
    var accepted, objects = 0
    forAllN(Gen.zip(genText, genKeys), Cases) { case (text, keys) =>
      val full = outcome(JsonText.parse(text))
      val proj = outcome(JsonText.parseProjected(text, keys))
      val expected = full.map {
        case JObj(props) => JObj(props.filter(kv => keys(kv._1)))
        case other => other
      }
      assert(proj == expected, s"text <${show(text)}> keys $keys")
      if (full.isRight) accepted += 1
      if (full.exists(_.isInstanceOf[JObj])) objects += 1
    }
    // the generator must exercise both sides of the accept/reject split
    assert(accepted > Cases / 5 && accepted < Cases * 4 / 5, s"accepted $accepted of $Cases")
    assert(objects > Cases / 10, s"object roots $objects")
  }

  test(s"property: parse(bytes) equals parse(new String(bytes, UTF_8)) ($Cases cases)") {
    forAllN(genText, Cases) { text =>
      val fromBytes = outcome(JsonText.parse(text))
      val fromString = outcome(JsonText.parse(new String(text, UTF_8)))
      assert(fromBytes == fromString, s"text <${show(text)}>")
    }
  }

  test("number tokens: the projected skip accepts exactly what the full ladder accepts") {
    // every token up to four chars over the number alphabet
    val alphabet = "0123456789+-.eE".toVector
    val tokens = (1 to 4).flatMap(n => (0 until math.pow(alphabet.size, n).toInt).map { i =>
      var x = i
      (0 until n).map { _ => val c = alphabet(x % alphabet.size); x /= alphabet.size; c }.mkString
    })
    tokens.foreach { t =>
      val text = enc(s"""{"a":1,"b":$t}""")
      val full = outcome(JsonText.parse(text)).map(_ => ())
      val skip = outcome(JsonText.parseProjected(text, Set("a"))).map(_ => ())
      assert(skip == full, s"token $t")
    }
  }

  test("error messages: offsets count UTF-16 chars of the decoded text, chars are decoded") {
    def err(text: Array[Byte]): String =
      intercept[JsonText.JsonParseException](JsonText.parse(text)).getMessage
    assert(err(enc("""{"é":x}""")) == "invalid token x at offset 5")
    assert(err(enc("""["😀",]""")) == "invalid token ] at offset 6")
    assert(err(enc("[1, é]")) == "invalid token é at offset 4")
    assert(err(enc("[1, 😀]")) == "invalid token \ud83d at offset 4")
    assert(err(enc("\"\\😀\"")) == "invalid string escape \ud83d at offset 3")
    assert(err(enc("\"日\\é\"")) == "invalid string escape é at offset 4")
    assert(err(enc("\"é\\u12")) == "incomplete string escape code at offset 4")
    assert(err(enc("\"\\u1😀")) == "incomplete string escape code at offset 3")
    assert(err(enc("\"\\u1é23\"")) == "invalid string escape code é at offset 4")
    assert(err(enc("""{"😀": tru}""")) == "expected true at offset 7")
    assert(err(enc("""{"é":1 "b":2}""")) == "expected , or } but got \" at offset 7")
    assert(err(enc("\"日本")) == "incomplete string at offset 3")
    assert(err(enc("""{"é":1e}""")) == "invalid number 1e at offset 7")
    // invalid UTF-8 reads as U+FFFD, one char per malformed sequence
    assert(err(Array('['.toByte, 0xff.toByte, ']'.toByte)) == "invalid token \ufffd at offset 1")
    assert(err(Array('"'.toByte, 0xe2.toByte, 0x82.toByte, '"'.toByte, 'x'.toByte)) ==
      "trailing content at offset 3")
    // the same messages from a projected parse, with the value skipped
    assert(intercept[JsonText.JsonParseException](JsonText.parseProjected(
      enc("""{"é":"😀","b":[1,é]}"""), Set("a"))).getMessage == "invalid token é at offset 17")
  }

  test("projection: escaped and duplicate keys, non-object roots") {
    val text = enc("""{"a":1,"b":{"c":[2]},"~u0061":3,"é":4,"~u00e9":5,"z":{"deep":[6]}}""".replace('~', '\\'))
    assert(JsonText.parseProjected(text, Set("a", "é")) ==
      JObj.fromProps(Seq("a" -> JLong(3), "é" -> JLong(5))))
    assert(JsonText.parseProjected(text, Set.empty) == JObj.empty)
    assert(JsonText.parseProjected(enc("[1,2]"), Set("a")) == JArr(Vector(JLong(1), JLong(2))))
    assert(JsonText.parseProjected(enc(" 7 "), Set("a")) == JLong(7))
  }
}
