package graft.jq

import graft.json.JStr

import Ast._

/** Which top-level fields of its input document a jq program reads.
  *
  * A program whose only access to the root is `.key` needs nothing of a
  * STRING document beyond those keys' values, so [[JqInput]] can parse the
  * document projected to them (the rest is validated, not built). The
  * analysis is deliberately small: it follows the subexpressions evaluated
  * with the root as input and gives up (`None`) on anything that could read
  * the root as a whole — `.` as a value, `..`, `.[]`, any builtin or user
  * call, variable binding, `reduce`, `label`, `try`, assignment.
  */
object JqDemand {

  /** The top-level keys read by every subexpression evaluated with the
    * document root as input, or None when some such subexpression is
    * outside the analysed fragment (or the root itself may be an output). */
  def rootKeys(ast: Ast): Option[Set[String]] = asValue(ast)

  /** Keys read at the root, and whether the root itself may be among the
    * outputs (`.`, `if c then a end`): such a subexpression is fine on the
    * left of a pipe, whose right side then also runs on the root. */
  private final case class Demand(keys: Set[String], passesRoot: Boolean)

  private def asValue(ast: Ast): Option[Set[String]] =
    demand(ast).collect { case Demand(keys, false) => keys }

  private def values(asts: Iterable[Ast]): Option[Demand] =
    asts.foldLeft(Option(Demand(Set.empty, passesRoot = false))) { (acc, a) =>
      for (d <- acc; k <- asValue(a)) yield Demand(d.keys ++ k, passesRoot = false)
    }

  private def either(l: Ast, r: Ast): Option[Demand] =
    for (a <- demand(l); b <- demand(r)) yield Demand(a.keys ++ b.keys, a.passesRoot || b.passesRoot)

  private def demand(ast: Ast): Option[Demand] = ast match {
    case Identity         => Some(Demand(Set.empty, passesRoot = true))
    case Lit(_)           => Some(Demand(Set.empty, passesRoot = false))
    case IndexKey(k, _)   => Some(Demand(Set(k), passesRoot = false))
    case Ident(k, _)      => Some(Demand(Set(k), passesRoot = false))
    case OptMark(e)       => demand(e)
    case Pipe(l, r)       =>
      // r runs on l's outputs: on the root only where l passes it through
      demand(l).flatMap { dl =>
        if (!dl.passesRoot) Some(dl)
        else demand(r).map(dr => Demand(dl.keys ++ dr.keys, dr.passesRoot))
      }
    case Comma(l, r)      => either(l, r)
    case Alt(l, r)        => either(l, r)
    case IfElse(c, t, e)  =>
      for {
        dc <- asValue(c)
        dt <- demand(t)
        de <- e.fold(Option(Demand(Set.empty, passesRoot = true)))(demand)
      } yield Demand(dc ++ dt.keys ++ de.keys, dt.passesRoot || de.passesRoot)
    case Bin(_, l, r)     => values(List(l, r))
    case Neg(e)           => values(List(e))
    case Not(e)           => values(List(e))
    case MkList(items, _) => values(items)
    case StrInterp(parts) => values(parts.collect { case Right(e) => e })
    case MkDict(pairs, _) =>
      // `{k}` reads the field k, as `{k: .k}` does
      val vs = pairs.map {
        case DictPair(Lit(JStr(k)), v) => Some(v.getOrElse(IndexKey(k, opt = false)))
        case _                         => None // a computed key
      }
      if (vs.contains(None)) None else values(vs.flatten)
    case _ => None
  }
}
