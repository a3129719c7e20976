package graft.jq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.{Variant, VariantUtil}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

import graft.json._

/** Driver-compiled converters from Spark internal values straight to
  * [[JDoc]] — the round-2 replacement for the `to_json` → text → re-parse
  * bridge (SURVEY.md §1.4's dynamic-value design).
  *
  * Semantics: a STRING input is a JSON document (the engine's document
  * streams are JSON text, reference src/json.rs:123-160), parsed straight
  * from its UTF-8 bytes with no intermediate `String`. Given the top-level
  * keys a program reads ([[JqDemand.rootKeys]]), only those fields are
  * built; the rest of the document is validated but not materialized, so
  * a malformed document is still rejected with the same message. Every
  * other supported type converts structurally with NO serialization:
  *
  *   - STRUCT → object (null fields omitted, matching `to_json`'s default
  *     `ignoreNullFields` so plans migrated off the to_json bridge keep
  *     byte-identical outputs);
  *   - ARRAY → array (null elements → JSON null, as to_json keeps them);
  *   - MAP<STRING,_> → object;
  *   - VARIANT → parsed once at the source, navigated binary-natively;
  *   - FLOAT widens via its shortest decimal form (`Float.toString`), the
  *     same value a text round-trip would produce — NOT the raw widening
  *     cast, which would turn 0.1f into 0.10000000149011612.
  *
  * The converter is resolved per expression from `child.dataType` on the
  * driver, so the per-row path is a monomorphic call tree with zero type
  * dispatch on the hot path.
  */
object JqInput {

  type Conv = Any => JDoc

  /** Can `dt` feed the jq engine directly? (Used by checkInputDataTypes —
    * unsupported types are an analysis-time error, not a runtime one.) */
  def supports(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | NullType => true
    case LongType | IntegerType | ShortType | ByteType => true
    case DoubleType | FloatType => true
    case _: DecimalType => true
    case VariantType => true
    case st: StructType => st.fields.forall(f => supports(f.dataType))
    case ArrayType(et, _) => supports(et)
    case MapType(StringType, vt, _) => supports(vt)
    case _ => false
  }

  /** Converter for a *top-level* input column. STRING means JSON text and
    * may throw [[JsonText.JsonParseException]]; with `rootKeys` a document
    * whose root is an object is built with just those top-level keys. All
    * other types are non-throwing structural conversions. */
  def converter(dt: DataType, rootKeys: Option[Set[String]] = None): Conv = dt match {
    case StringType =>
      rootKeys match {
        case Some(keys) =>
          val proj = new JsonText.Projection(keys)
          v => withBytes(v.asInstanceOf[UTF8String])(JsonText.parseProjected(_, _, _, proj))
        case None => v => parseJson(v.asInstanceOf[UTF8String])
      }
    case other => valueConverter(other)
  }

  /** Parse JSON text from a Spark string without decoding it to a `String`. */
  def parseJson(s: UTF8String): JDoc = withBytes(s)(JsonText.parse(_, _, _))

  /** `f(bytes, offset, length)` over the string's UTF-8 bytes, in place when
    * they live in a heap array. */
  private def withBytes[A](s: UTF8String)(f: (Array[Byte], Int, Int) => A): A =
    s.getBaseObject match {
      case a: Array[Byte] => f(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _              => val b = s.getBytes; f(b, 0, b.length)
    }

  /** Structural converter: a STRING here is a string *value* (struct field,
    * array element), not a JSON document. */
  private def valueConverter(dt: DataType): Conv = dt match {
    case StringType  => v => JStr(v.asInstanceOf[UTF8String].toString)
    case BooleanType => v => JBool(v.asInstanceOf[Boolean])
    case LongType    => v => JLong(v.asInstanceOf[Long])
    case IntegerType => v => JLong(v.asInstanceOf[Int].toLong)
    case ShortType   => v => JLong(v.asInstanceOf[Short].toLong)
    case ByteType    => v => JLong(v.asInstanceOf[Byte].toLong)
    case DoubleType  => v => JDouble(v.asInstanceOf[Double])
    case FloatType   => v => JDouble(java.lang.Float.toString(v.asInstanceOf[Float]).toDouble)
    case d: DecimalType =>
      v => JDouble(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
    case NullType    => _ => JNull
    case VariantType =>
      v => {
        val vv = v.asInstanceOf[VariantVal]
        fromVariant(new Variant(vv.getValue, vv.getMetadata))
      }
    case st: StructType =>
      val names = st.fields.map(_.name)
      val types = st.fields.map(_.dataType)
      val convs = types.map(valueConverter)
      v => {
        val row = v.asInstanceOf[InternalRow]
        val kvs = Vector.newBuilder[(String, JDoc)]
        var i = 0
        while (i < names.length) {
          // null fields omitted (to_json ignoreNullFields parity, see above)
          if (!row.isNullAt(i)) kvs += ((names(i), convs(i)(row.get(i, types(i)))))
          i += 1
        }
        JObj.fromProps(kvs.result())
      }
    case ArrayType(et, _) =>
      val conv = valueConverter(et)
      v => {
        val arr = v.asInstanceOf[ArrayData]
        val n = arr.numElements()
        val items = Vector.newBuilder[JDoc]
        var i = 0
        while (i < n) {
          items += (if (arr.isNullAt(i)) JNull else conv(arr.get(i, et)))
          i += 1
        }
        JArr(items.result())
      }
    case MapType(StringType, vt, _) =>
      val conv = valueConverter(vt)
      v => {
        val m = v.asInstanceOf[MapData]
        val n = m.numElements()
        val keys = m.keyArray()
        val values = m.valueArray()
        val kvs = Vector.newBuilder[(String, JDoc)]
        var i = 0
        while (i < n) {
          val k = keys.getUTF8String(i).toString
          kvs += ((k, if (values.isNullAt(i)) JNull else conv(values.get(i, vt))))
          i += 1
        }
        JObj.fromProps(kvs.result())
      }
    case other =>
      throw new IllegalArgumentException(s"jq input does not support $other")
  }

  /** Binary-native Variant → JDoc walk (no JSON text round-trip). The
    * variant was parsed once at its source (`parse_json` / a variant scan);
    * navigation here is offset arithmetic over the binary, which is the
    * "parse once, query many" design the reference gets from its Document
    * trait (reference: src/db.rs:33-132). Depth-guarded like every other
    * decoder: adversarial nesting raises the JSON parse exception, which
    * the expressions route to the errors-as-data path instead of letting
    * a StackOverflowError kill the task. */
  def fromVariant(v: Variant): JDoc = fromVariant(v, 0)

  private def fromVariant(v: Variant, depth: Int): JDoc = {
    if (depth > JsonText.MaxDepth)
      throw JsonText.JsonParseException(s"variant nesting deeper than ${JsonText.MaxDepth}", 0)
    v.getType match {
      case VariantUtil.Type.NULL    => JNull
      case VariantUtil.Type.BOOLEAN => JBool(v.getBoolean)
      case VariantUtil.Type.LONG    => JLong(v.getLong)
      case VariantUtil.Type.DOUBLE  => JDouble(v.getDouble)
      case VariantUtil.Type.FLOAT   => JDouble(java.lang.Float.toString(v.getFloat).toDouble)
      case VariantUtil.Type.DECIMAL => JDouble(v.getDecimal.doubleValue())
      case VariantUtil.Type.STRING  => JStr(v.getString)
      case VariantUtil.Type.ARRAY =>
        val n = v.arraySize()
        val items = Vector.newBuilder[JDoc]
        var i = 0
        while (i < n) { items += fromVariant(v.getElementAtIndex(i), depth + 1); i += 1 }
        JArr(items.result())
      case VariantUtil.Type.OBJECT =>
        val n = v.objectSize()
        val kvs = Vector.newBuilder[(String, JDoc)]
        var i = 0
        while (i < n) {
          val f = v.getFieldAtIndex(i)
          kvs += ((f.key, fromVariant(f.value, depth + 1)))
          i += 1
        }
        JObj.fromProps(kvs.result())
      case _ =>
        // timestamps/date/binary/uuid have no reference Json variant: take
        // the variant's own JSON rendering (what the to_json bridge
        // produced) and lift it into the document model
        JsonText.parse(v.toJson(java.time.ZoneOffset.UTC))
    }
  }
}
