package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, JsonNodeFactory}
import scala.jdk.CollectionConverters._

/** F21: DynamoDB-attribute-JSON decoder (SURVEY.md §2.7 F21).
  *
  * Reference `lambda/odl_ddb_update_es/json_util.py:48-104` decodes the
  * typed DynamoDB wire shape (`{"S": "x"}`, `{"N": "1"}`, `{"M": {...}}`,
  * `{"L": [...]}`, `{"SS"/"NS"/"BS": [...]}`, `{"BOOL": b}`,
  * `{"NULL": true}`) into plain values. Here: typed JSON string →
  * plain JSON string (numbers stay numeric), usable with `from_json`
  * downstream. Jackson is already on Spark's classpath.
  */
object DdbJson {

  private val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance

  private def decodeAttr(node: JsonNode): JsonNode = {
    val field = node.properties().asScala.headOption
    field match {
      case Some(e) => e.getKey match {
        case "S" => e.getValue
        case "N" =>
          val t = e.getValue.asText
          if (t.contains('.') || t.contains('e') || t.contains('E'))
            nf.numberNode(java.math.BigDecimal.valueOf(t.toDouble))
          else nf.numberNode(t.toLong)
        case "B" => e.getValue
        case "BOOL" => nf.booleanNode(e.getValue.asBoolean)
        case "NULL" => nf.nullNode
        case "SS" | "BS" => e.getValue
        case "NS" =>
          val arr = nf.arrayNode()
          e.getValue.elements().asScala.foreach { v =>
            val t = v.asText
            if (t.contains('.')) arr.add(t.toDouble) else arr.add(t.toLong)
          }
          arr
        case "L" =>
          val arr = nf.arrayNode()
          e.getValue.elements().asScala.foreach(v => arr.add(decodeAttr(v)))
          arr
        case "M" => decodeMap(e.getValue)
        case _ => node // unknown tag: passthrough
      }
      case None => node
    }
  }

  private def decodeMap(node: JsonNode): ObjectNode = {
    val out = nf.objectNode()
    node.properties().asScala.foreach(e => out.set[JsonNode](e.getKey, decodeAttr(e.getValue)))
    out
  }

  /** Decode a full DynamoDB item image (map of attr-name → typed attr)
    * into a plain JSON object string. Invalid JSON → null. */
  def decodeItem(json: String): String = {
    if (json == null) return null
    try mapper.writeValueAsString(decodeMap(mapper.readTree(json)))
    catch { case _: Exception => null }
  }

  val decodeItemUdf = udf((s: String) => decodeItem(s))

  /** Generic decoder for UNKNOWN item shapes: typed JSON string →
    * plain JSON string via Jackson. One JVM call per row — use
    * [[decodeDdbTyped]] when the target schema is known. */
  def decodeDdbJson(c: Column): Column = decodeItemUdf(c)

  import org.apache.spark.sql.functions.{coalesce, from_json, struct, transform, when, lit}
  import org.apache.spark.sql.types._

  /** Typed DynamoDB wire schema for a plain target type: every leaf
    * becomes the one-key tag struct the wire format uses
    * (`{"N": "1"}`, `{"S": "x"}`, `{"M": {...}}`, ...). Alternative
    * tags that can carry the same target type (SS/NS/BS for arrays,
    * NULL everywhere) are included side-by-side so the projection can
    * coalesce across them. */
  private def wireType(dt: DataType): StructType = dt match {
    case st: StructType =>
      StructType(Seq(
        StructField("M", StructType(
          st.fields.map(f => StructField(f.name, wireType(f.dataType))))),
        StructField("NULL", BooleanType)))
    case ArrayType(et, _) =>
      val setTag = et match {
        case StringType | BinaryType => Seq(StructField(
          if (et == BinaryType) "BS" else "SS", ArrayType(StringType)))
        case _: NumericType => Seq(StructField("NS", ArrayType(StringType)))
        case _ => Nil
      }
      StructType(StructField("L", ArrayType(wireType(et))) +: setTag :+
        StructField("NULL", BooleanType))
    case BooleanType =>
      StructType(Seq(StructField("BOOL", BooleanType),
        StructField("NULL", BooleanType)))
    case _: NumericType =>
      StructType(Seq(StructField("N", StringType),
        StructField("NULL", BooleanType)))
    case _ => // string-ish leaves (string, binary-as-b64, date rendered as S)
      StructType(Seq(StructField("S", StringType),
        StructField("B", StringType),
        StructField("NULL", BooleanType)))
  }

  /** Projection from a parsed wire struct column to the plain target
    * value — pure codegen'd struct/array ops. */
  private def project(c: Column, dt: DataType): Column = {
    val v = dt match {
      case st: StructType =>
        val m = c.getField("M")
        when(m.isNotNull, struct(
          st.fields.toSeq.map(f =>
            project(m.getField(f.name), f.dataType).as(f.name)): _*))
      case ArrayType(et, _) =>
        val fromL = transform(c.getField("L"), x => project(x, et))
        et match {
          case StringType => coalesce(fromL, c.getField("SS"))
          case BinaryType =>
            coalesce(transform(c.getField("L"), x => project(x, et)),
              c.getField("BS").cast(ArrayType(BinaryType)))
          case n: NumericType =>
            coalesce(fromL, c.getField("NS").cast(ArrayType(n)))
          case _ => fromL
        }
      case BooleanType => c.getField("BOOL")
      case n: NumericType => c.getField("N").cast(n)
      case BinaryType => c.getField("B").cast(BinaryType)
      case other => c.getField("S").cast(other)
    }
    when(c.isNull || c.getField("NULL") === lit(true), lit(null)).otherwise(v)
  }

  /** Schema-directed decoder: typed DynamoDB item JSON → a plain
    * STRUCT of `target`'s shape in ONE `from_json` pass, with every
    * field projected by codegen'd struct ops — no UDF, no plain-JSON
    * re-serialization, no per-field `get_json_object` re-parsing (the
    * r3 shape parsed each row 4×: UDF decode + 3 extract calls).
    * Scale: JSON is parsed once per row and never re-materialized as
    * a string; whole-stage codegen keeps the projection in the scan
    * stage. Use when the item shape is known (the reference's ES-index
    * path always knows it); fall back to [[decodeDdbJson]] otherwise. */
  def decodeDdbTyped(c: Column, target: StructType): Column = {
    // top level is the bare attr-name → typed-attr map (no "M" tag).
    // PERMISSIVE from_json maps malformed input to an all-null row,
    // not null — route it to the corrupt-record column so malformed →
    // null struct, matching decodeDdbJson's contract.
    val corrupt = "_graft_corrupt"
    val parsed = from_json(c, StructType(
      target.fields.map(f => StructField(f.name, wireType(f.dataType))) :+
        StructField(corrupt, StringType)),
      Map("columnNameOfCorruptRecord" -> corrupt))
    when(parsed.isNotNull && parsed.getField(corrupt).isNull,
      struct(target.fields.toSeq.map(f =>
        project(parsed.getField(f.name), f.dataType).as(f.name)): _*))
  }
}
