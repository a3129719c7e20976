package graft.jq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.json._

/** Catalyst expressions that run a whole compiled jq pipeline as ONE
  * expression over a document column.
  *
  * Design note (SURVEY.md §3.4, §7): a jq program is a per-document pure
  * function, so the entire pipeline fuses into a single narrow projection —
  * the Spark plan stays a scan→project with no shuffle, predicate pushdown
  * and column pruning still apply to the outer query, and evaluation is
  * embarrassingly parallel across partitions at any scale. This fusion is
  * strictly cheaper than one Catalyst node per jq operator, which would
  * re-serialize the document at every boundary.
  *
  * Round 2: two hot-path upgrades over the round-1 text-only CodegenFallback
  * versions —
  *   1. input is converted to [[JDoc]] straight from Spark internal values
  *      ([[JqInput]]): STRING parses as JSON text from its bytes, but STRUCT /
  *      ARRAY / MAP / VARIANT / scalars convert structurally with no
  *      serialize→re-parse round trip;
  *   2. [[doGenCode]] emits a direct call on the expression instance (via
  *      `ctx.addReferenceObj`), so jq projections participate in
  *      whole-stage codegen instead of forcing the interpreted fallback path
  *      for the entire stage.
  */
/** The ONE throwable→error-entry ladder every jq expression shares
  * (extracted in round 10 — it had grown a second copy): malformed JSON
  * text becomes the errors-as-data record; a StackOverflowError is the
  * backstop behind Interp's call-depth guard (pathological non-call
  * recursion becomes an error entry at this unwound boundary, not a dead
  * executor task); an escaped BreakSignal — unreachable by construction,
  * unbound breaks are compile-time error entries and bound ones are
  * caught by their label — yields its pre-break outputs as the best
  * answer. */
private[jq] object JqGuard {
  def entries(thunk: => Vector[JEntry]): Vector[JEntry] =
    try thunk
    catch {
      case e: JsonText.JsonParseException =>
        Vector(JEntry(JNull, Vector(s"invalid json: ${e.getMessage}")))
      case _: StackOverflowError =>
        Vector(JEntry(JNull, Vector("jq evaluation exceeded the stack — runaway recursion")))
      case b: Interp.BreakSignal => b.partial
    }
}

trait JqNativeInput extends UnaryExpression {

  /** Top-level keys of a STRING document the expression reads, when it
    * reads nothing else of it; None parses the whole document. */
  protected def rootKeys: Option[Set[String]] = None

  /** Resolved once on the driver from the child's type — the per-row path
    * is a monomorphic converter + compiled-pipeline call. */
  @transient protected final lazy val inputConv: JqInput.Conv =
    JqInput.converter(child.dataType, rootKeys)

  /** Run `compiled` over one input value; malformed JSON *text* becomes the
    * errors-as-data record, never an exception (reference: src/entry.rs:5-10). */
  protected final def runPipe(compiled: Interp.Pipe, input: Any): Vector[JEntry] =
    JqGuard.entries(compiled(inputConv(input), Nil))

  override def checkInputDataTypes(): TypeCheckResult =
    if (JqInput.supports(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName cannot run over input type ${child.dataType.catalogString}")

  /** Public bridge for generated code (nullSafeEval is protected). */
  def evalInput(v: Any): Any = nullSafeEval(v)

  /** Stay inside whole-stage codegen: the jq pipeline itself is a compiled
    * closure tree (driver-compiled, executor-cached), so the right codegen
    * shape is one virtual call through a reference object — the surrounding
    * project/filter/explode then fuses into a single generated function
    * instead of falling back to interpreted rows for the whole stage. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jqExpr", this, classOf[JqNativeInput].getName)
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val obj = ctx.freshName("jqOut")
    ev.copy(code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
         |if (!${ev.isNull}) {
         |  Object $obj = $ref.evalInput(${childGen.value});
         |  if ($obj == null) { ${ev.isNull} = true; } else { ${ev.value} = ($boxed) $obj; }
         |}
       """.stripMargin)
  }
}

object JqEval {
  /** ARRAY<STRUCT<doc: STRING, errors: ARRAY<STRING>>> — the full output
    * stream for one input document; `doc` is canonical JSON text. */
  val outputType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc", StringType, nullable = false),
      StructField("errors", ArrayType(StringType, containsNull = false), nullable = false))),
    containsNull = false)

  /** Typed extraction of one successful entry's doc (shared by JqExtract /
    * JqMulti): null when the value doesn't fit the requested kind. */
  private[jq] def extract(kind: String, doc: JDoc): Any = (kind, doc) match {
    case ("long", JLong(v))     => v
    case ("double", JLong(v))   => v.toDouble
    case ("double", JDouble(v)) => v
    case ("bool", JBool(v))     => v
    case ("string", JStr(s))    => UTF8String.fromString(s)
    case ("string", JNull)      => null
    case ("string", d)          => UTF8String.fromString(JsonText.canonical(d))
    case _                      => null
  }
}

/** `jq_eval(query, json)` → full entry stream (doc + errors per output). */
case class JqEval(ast: Ast, queryText: String, child: Expression) extends JqNativeInput {
  @transient private lazy val compiled = Interp.compile(ast)
  override def dataType: DataType = JqEval.outputType
  override def prettyName: String = "jq_eval"
  override protected def nullSafeEval(input: Any): Any = {
    val entries = runPipe(compiled, input)
    new GenericArrayData(entries.map { en =>
      InternalRow(
        UTF8String.fromString(JsonText.canonical(en.doc)),
        new GenericArrayData(en.errors.map(UTF8String.fromString).toArray[Any]))
    }.toArray[Any])
  }
  override protected def withNewChildInternal(newChild: Expression): JqEval =
    copy(child = newChild)
}

/** `jq_docs(query, json)` → ARRAY<STRING> of the successful outputs only,
  * in canonical form (errored entries dropped — the `?` discipline applied
  * at the sink). */
case class JqDocs(ast: Ast, queryText: String, child: Expression) extends JqNativeInput {
  @transient private lazy val compiled = Interp.compile(ast)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "jq_docs"
  override protected def nullSafeEval(input: Any): Any = {
    val entries = runPipe(compiled, input)
    new GenericArrayData(entries.collect {
      case en if en.errors.isEmpty => UTF8String.fromString(JsonText.canonical(en.doc))
    }.toArray[Any])
  }
  override protected def withNewChildInternal(newChild: Expression): JqDocs =
    copy(child = newChild)
}

/** Typed extraction of the FIRST successful output of a jq pipeline;
  * SQL NULL when there is no output, the output errored, or the value
  * doesn't fit the requested type. Kinds: string | long | double | bool.
  *
  * Over a STRING document only the top-level fields the program reads are
  * parsed ([[JqDemand.rootKeys]]): error text is dropped and nothing is
  * re-serialized, so the result cannot tell. */
case class JqExtract(ast: Ast, queryText: String, kind: String, child: Expression)
    extends JqNativeInput {
  override protected def rootKeys: Option[Set[String]] = JqDemand.rootKeys(ast)
  override def dataType: DataType = kind match {
    case "long"   => LongType
    case "double" => DoubleType
    case "bool"   => BooleanType
    case _        => StringType
  }
  override def nullable: Boolean = true
  override def prettyName: String = s"jq_$kind"
  @transient private lazy val compiled = Interp.compile(ast)
  override protected def nullSafeEval(input: Any): Any = {
    val entries = runPipe(compiled, input)
    entries.find(_.errors.isEmpty) match {
      case None     => null
      case Some(en) => JqEval.extract(kind, en.doc)
    }
  }
  override protected def withNewChildInternal(newChild: Expression): JqExtract =
    copy(child = newChild)
}

/** `jq_eval_meta(query, json, meta_json)`: the lineage envelope
  * (reference: src/meta.rs, src/entry.rs:5-28) exercised END-TO-END — the
  * input entry is seeded with a meta object parsed from `meta_json` (the
  * way a reference source WOULD populate it: provenance domains/sources
  * per record), the pipeline runs with full entry semantics
  * ([[Interp.compileE]]: navigation clones the envelope, combining
  * operators new_merge it), and each successful output carries its final
  * envelope back as canonical text. Returns
  * ARRAY<STRUCT<doc STRING, meta STRING>>; a malformed or non-object
  * `meta_json` means "no envelope" (errors-as-data discipline — lineage
  * must never kill the batch). */
case class JqEvalMeta(ast: Ast, queryText: String,
                      left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  @transient private lazy val compiled = Interp.compileE(ast)
  @transient private lazy val inputConv: JqInput.Conv = JqInput.converter(left.dataType)
  override def dataType: DataType = JqEvalMeta.outputType
  override def prettyName: String = "jq_eval_meta"
  // NULL gates on the DOCUMENT only: a NULL meta column is the natural
  // "this record has no provenance" representation and must evaluate the
  // pipeline with no envelope — swallowing the row's outputs because its
  // lineage is absent would violate the lineage-never-kills-the-batch
  // contract (round-10 review finding).
  override def nullable: Boolean = left.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (!JqInput.supports(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName cannot run over input type ${left.dataType.catalogString}")
    else if (right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName meta envelope must be STRING json, got ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  override def eval(input: InternalRow): Any = {
    val j = left.eval(input)
    if (j == null) null else evalDocMeta(j, right.eval(input))
  }
  /** Public bridge for generated code. `m` may be null (no envelope). */
  def evalDocMeta(j: Any, m: Any): Any = {
    val metaObj: Option[JObj] =
      if (m == null) None
      else
        try JqInput.parseJson(m.asInstanceOf[UTF8String]) match {
          // normalize on seed (reference meta.rs Meta::some invariant):
          // every envelope carries all of domains/sources/keys, so a
          // seeded envelope missing `keys` cannot propagate verbatim
          // through cloning navigation (round-10 advice)
          case o: JObj => Some(graft.json.JMeta.normalize(o))
          case _       => None
        } catch { case _: JsonText.JsonParseException => None }
    val entries = JqGuard.entries(compiled(JEntry(inputConv(j), Vector.empty, metaObj), Nil))
    new GenericArrayData(entries.collect {
      case en if en.errors.isEmpty =>
        InternalRow(
          UTF8String.fromString(JsonText.canonical(en.doc)),
          UTF8String.fromString(en.meta.map(JsonText.canonical).getOrElse("null")))
    }.toArray[Any])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jqMetaExpr", this, classOf[JqEvalMeta].getName)
    val lGen = left.genCode(ctx)
    val rGen = right.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val obj = ctx.freshName("jqMetaOut")
    ev.copy(code =
      code"""
         |${lGen.code}
         |boolean ${ev.isNull} = ${lGen.isNull};
         |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
         |if (!${ev.isNull}) {
         |  ${rGen.code}
         |  Object $obj = $ref.evalDocMeta(${lGen.value},
         |    ${rGen.isNull} ? null : ${rGen.value});
         |  ${ev.value} = ($boxed) $obj;
         |}
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JqEvalMeta =
    copy(left = l, right = r)
}

object JqEvalMeta {
  val outputType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc", StringType, nullable = false),
      StructField("meta", StringType, nullable = false))),
    containsNull = false)
}

/** `jq_multi`: evaluate SEVERAL jq pipelines against one document with a
  * single input conversion — returns STRUCT<name: typedValue, ...>. N
  * extractions of the same column otherwise each re-convert the document;
  * this fuses them (the same way a reader fuses column decoders). Field
  * kinds follow [[JqExtract]] (string | long | double | bool), and so does
  * the projection: over a STRING document only the top-level fields some
  * program reads are parsed, unless one program needs the whole document.
  * Each field is evaluated on its own errors-as-data path: a field whose
  * program fails is NULL, the others keep their values. */
case class JqMulti(fields: Seq[(String, Ast, String)], queryText: String, child: Expression)
    extends JqNativeInput {
  override protected def rootKeys: Option[Set[String]] =
    fields.foldLeft(Option(Set.empty[String])) { case (acc, (_, ast, _)) =>
      for (keys <- acc; more <- JqDemand.rootKeys(ast)) yield keys ++ more
    }
  @transient private lazy val compiled = fields.map { case (_, ast, _) => Interp.compile(ast) }
  override def dataType: DataType = StructType(fields.map { case (name, _, kind) =>
    StructField(name, kind match {
      case "long"   => LongType
      case "double" => DoubleType
      case "bool"   => BooleanType
      case _        => StringType
    }, nullable = true)
  })
  override def nullable: Boolean = true
  override def prettyName: String = "jq_multi"
  override protected def nullSafeEval(input: Any): Any = {
    val doc =
      try inputConv(input)
      catch { case _: JsonText.JsonParseException => null }
    val values = new Array[Any](fields.length)
    if (doc != null) {
      var i = 0
      while (i < fields.length) {
        values(i) = JqGuard.entries(compiled(i)(doc, Nil)).find(_.errors.isEmpty) match {
          case None     => null
          case Some(en) => JqEval.extract(fields(i)._3, en.doc)
        }
        i += 1
      }
    }
    InternalRow(values: _*)
  }
  override protected def withNewChildInternal(newChild: Expression): JqMulti =
    copy(child = newChild)
}
