package graft.jq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.json.JsonText

/** Hostile-input pins for the query language itself: at 100 TB every
  * malformed program/document shape WILL occur, and the engine's
  * contract is errors-as-data — a parse problem is a JqParseException
  * at plan time (driver-side, catchable), an evaluation problem is an
  * error entry, and NOTHING escapes as an arbitrary runtime throw from
  * an executor. */
class JqRobustnessSpec extends AnyFunSuite {

  private val fragments = Array(
    ".", ".a", ".[]", ".[0]", "..", "|", ",", "+", "-", "*", "/", "%",
    "[", "]", "{", "}", "(", ")", "?", "==", "!=", "<", "<=", "and", "or",
    "if", "then", "elif", "else", "end", "def f:", ";", "reduce", "foreach",
    "as", "$x", "select", "map", "length", "keys", "try", "catch", "//",
    "=", "|=", "+=", "label", "break", "\"s\"", "1", "2.5", "null", "true",
    "path", "getpath", "sub", "gsub", "test", "limit", "range", "@csv",
    "$__x", "e", "..=", ".[1:2]", "{a:1}", "[1,2]", "\\(", "\"\\(.a)\"")

  private val docs = Array(
    "null", "true", "0", "-1.5", "\"str\"", "[]", "[1,[2,[3]]]",
    """{"a":{"b":[1,2]},"k":"v"}""", """{"":null}""", "[0.1,1e308,-1e-308]")

  test("fuzz: random programs parse cleanly or fail with JqParseException only") {
    val rnd = new scala.util.Random(0xF055EED)
    var parsed = 0
    for (_ <- 1 to 1500) {
      val n = 1 + rnd.nextInt(8)
      val prog = Seq.fill(n)(fragments(rnd.nextInt(fragments.length)))
        .mkString(if (rnd.nextBoolean()) " " else "")
      try { JqParser.parse(prog); parsed += 1 }
      catch {
        case _: JqParser.JqParseException => () // the contract
        case e: Throwable => fail(s"program <$prog> threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    assert(parsed > 50, s"generator should produce some valid programs, got $parsed")
  }

  test("fuzz: every successfully parsed program evaluates to entries, never throws") {
    val rnd = new scala.util.Random(0xBADC0DE)
    var ran = 0
    for (_ <- 1 to 1500) {
      val n = 1 + rnd.nextInt(6)
      val prog = Seq.fill(n)(fragments(rnd.nextInt(fragments.length))).mkString(" ")
      val astOpt =
        try Some(JqParser.parse(prog))
        catch { case _: JqParser.JqParseException => None }
      astOpt.foreach { _ =>
        val doc = docs(rnd.nextInt(docs.length))
        try {
          val out = Interp.run(prog, JsonText.parse(doc))
          ran += 1
          out.foreach(e => assert(e != null))
        } catch {
          case e: Throwable =>
            fail(s"program <$prog> on doc <$doc> threw ${e.getClass.getName}: ${e.getMessage}")
        }
      }
    }
    assert(ran > 30, s"should evaluate a meaningful sample, got $ran")
  }

  test("hostile documents: deep nesting, huge numbers, lone surrogates") {
    // depth guard: parse rejects past depth 512 instead of StackOverflow
    val deep = "[" * 2000 + "]" * 2000
    val e = intercept[Exception](JsonText.parse(deep))
    assert(e.getMessage != null)
    // near the guard: still parses and evaluates
    val ok = "[" * 100 + "1" + "]" * 100
    val out = Interp.run("..", JsonText.parse(ok))
    assert(out.length == 101) // 100 arrays + the scalar
    // number edge: 2^63 overflows long → EXACT JBigInt (reference i128
    // parity, round-7): arithmetic and round-trip stay digit-exact
    val big = Interp.run(". + 1", JsonText.parse("9223372036854775808"))
    assert(big.head.errors.isEmpty)
    assert(JsonText.canonical(big.head.doc) == "9223372036854775809")
    // the VERDICT's canonical case: a u64-max+1 id round-trips exactly
    assert(JsonText.canonical(JsonText.parse("""{"id": 18446744073709551616}"""))
      == """{"id":18446744073709551616}""")
    // exact through navigation; equality is variant-strict but exact
    assert(JsonText.canonical(Interp.run(".id", JsonText.parse(
      """{"id": 18446744073709551616}""")).head.doc) == "18446744073709551616")
    // subtraction re-enters long range exactly, data-side values and
    // jq PROGRAM literals alike (JqParser widens with the same ladder)
    assert(JsonText.canonical(Interp.run(".a - .b", JsonText.parse(
      """{"a": 18446744073709551616, "b": 18446744073709551615}""")).head.doc) == "1")
    assert(JsonText.canonical(Interp.run(". - 18446744073709551615",
      JsonText.parse("18446744073709551616")).head.doc) == "1")
    // the full i128 range is the exactness ceiling (reference
    // json.rs:469; round 10 widened it from 38 digits); outside i128
    // degrades to double — one absurd literal must not kill a batch
    val d39 = "1" + "0" * 38 // 10^38, inside i128
    assert(JsonText.canonical(JsonText.parse(d39)) == d39)
    assert(JsonText.parse("1" + "0" * 39).isInstanceOf[graft.json.JDouble])
    // collation: integer class orders numerically across widths
    assert(JsonText.canonical(Interp.run(".a < .b", JsonText.parse(
      """{"a": 5, "b": 18446744073709551616}""")).head.doc) == "true")
    // unpaired escape survives as error entry or parse error, never a throw
    try {
      val r = Interp.run("length", JsonText.parse("\"\\ud800\""))
      assert(r.nonEmpty)
    } catch { case e2: Exception => assert(e2.getMessage != null) }
  }

  test("jq_multi: a field whose evaluation overflows the stack is NULL, the others survive") {
    // the program builds a 200,000-deep array without recursion, then
    // serializing it recurses past any thread stack
    val deep = "reduce range(0, 200000) as $i (0; [.]) | tostring"
    val fields = Seq(
      ("a", JqParser.parse(".a"), "long"),
      ("deep", JqParser.parse(deep), "string"),
      ("b", JqParser.parse(".b"), "string"))
    val row = InternalRow(UTF8String.fromString("""{"a": 7, "b": "x"}"""))
    // the same program at depth 3 works: the NULLs below come from the stack
    val shallow = deep.replace("200000", "3")
    assert(JqExtract(JqParser.parse(shallow), shallow, "string",
      BoundReference(0, StringType, nullable = true)).eval(row).toString == "[[[0]]]")
    // the single-program extract already takes the errors-as-data path
    assert(JqExtract(JqParser.parse(deep), deep, "string",
      BoundReference(0, StringType, nullable = true)).eval(row) == null)
    val out = JqMulti(fields, "", BoundReference(0, StringType, nullable = true))
      .eval(row).asInstanceOf[InternalRow]
    assert(out.getLong(0) == 7)
    assert(out.isNullAt(1))
    assert(out.getUTF8String(2).toString == "x")
  }
}
