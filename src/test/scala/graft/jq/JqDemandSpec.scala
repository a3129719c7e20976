package graft.jq

import org.scalatest.funsuite.AnyFunSuite

/** The root-key analysis that lets extracts over STRING documents parse
  * only the fields they read: every `.key`-only program gets its keys, and
  * every program that could see more of the root gets None. */
class JqDemandSpec extends AnyFunSuite {

  private def keys(prog: String): Option[Set[String]] = JqDemand.rootKeys(JqParser.parse(prog))

  test("rootKeys: extract programs that read top-level fields only") {
    val table = Seq(
      ".grp" -> Set("grp"),
      ".score" -> Set("score"),
      ".kind" -> Set("kind"),
      "[.vals | .[] | select(. > 50)] | length" -> Set("vals"),
      ".meta.src" -> Set("meta"),
      ".score * 2 - 1" -> Set("score"),
      "if .qty > 50 then \"hi\" else \"lo\" end" -> Set("qty"),
      ".items | map(.n) | add" -> Set("items"),
      ".meta.depth" -> Set("meta"),
      "[.tags | .[] | select(. == \"red\")] | length > 0" -> Set("tags"),
      ".items | .[0] | .price" -> Set("items"),
      ".name" -> Set("name"),
      ".qty" -> Set("qty"),
      "1" -> Set.empty[String],
      "name" -> Set("name"),
      ".a?" -> Set("a"),
      "(.a, .b)" -> Set("a", "b"),
      ".a // .b" -> Set("a", "b"),
      "-.a" -> Set("a"),
      "!.a" -> Set("a"),
      "[.a, .b]" -> Set("a", "b"),
      "{a, b: .c}" -> Set("a", "c"),
      "\"x\\(.a)y\"" -> Set("a"),
      ". | .a" -> Set("a"),
      "if .a then .b else .c end | .d" -> Set("a", "b", "c"),
      "if .a then . else .c end | .d" -> Set("a", "c", "d"),
      "if .a then .b end | .c" -> Set("a", "b", "c"))
    table.foreach { case (prog, want) => assert(keys(prog) == Some(want), prog) }
  }

  test("rootKeys: programs that may read more of the root are None") {
    Seq(
      "[.. | numbers] | length",
      ".", "select(.a)", ". as $d | .a", "if .a then 1 end", "{(.k): 1}", "{(.k)}",
      "def f: .; f", "reduce (.a | .[]) as $x (0; . + $x)", ".[]", "..", "keys", "length",
      ".[0]", "[.]", ".a == .", "(.a, .)", ".a // .", "if . then 1 else 2 end",
      "label $out | .a", "try .a", ".a = 1", ".a |= . + 1", "$__loc__", "\"\\(.)\""
    ).foreach { prog => assert(keys(prog).isEmpty, prog) }
  }
}
