package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** R13 — the StringCast SMT (SURVEY.md §2a) as a native Catalyst expression.
  *
  * The reference casts named fields of a schemaless record to JSON strings
  * via Jackson `writeValueAsString` (StringCast.java:90-96): `30→"30"`,
  * `[1,2,3]→"[1,2,3]"`, `{k:v}→"{\"k\":\"v\"}"` and — the quirk the tests
  * pin — bare strings get JSON-QUOTED: `John Doe → "\"John Doe\""`
  * (StringCastTest.java:175). Null stays null (:151); missing fields are
  * skipped (:60-81).
  *
  * Spark's `to_json` rejects bare scalars, so this is one of the two places
  * the survey calls for custom work (§4): a `UnaryExpression` that converts
  * the Catalyst internal value to Java objects and runs the SAME Jackson
  * serializer the reference uses. CodegenFallback is acceptable: the cast is
  * a fidelity operator, not a hot-path aggregation, and it still pipelines
  * inside the surrounding codegen stage via the fallback bridge.
  */
case class JsonStringCast(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true // null field stays null (StringCastTest.java:151)

  override def nullSafeEval(input: Any): Any = {
    val java = JsonStringCast.toJava(input, child.dataType)
    UTF8String.fromString(JsonStringCast.mapper.writeValueAsString(java))
  }

  override protected def withNewChildInternal(newChild: Expression): JsonStringCast =
    copy(child = newChild)

  override def prettyName: String = "json_string_cast"
}

object JsonStringCast {
  private[engine] val mapper = new ObjectMapper()

  /** Catalyst internal → plain Java, preserving field/element order so
    * Jackson output is deterministic (map key order = struct field order). */
  private[engine] def toJava(v: Any, dt: DataType): AnyRef = (v, dt) match {
    case (null, _) => null
    case (s: UTF8String, StringType) => s.toString
    case (d: Decimal, _: DecimalType) => d.toJavaBigDecimal
    case (a: ArrayData, ArrayType(et, _)) =>
      val out = new java.util.ArrayList[AnyRef](a.numElements())
      a.foreach(et, (_, e) => out.add(toJava(e, et)))
      out
    case (m: MapData, MapType(kt, vt, _)) =>
      val out = new java.util.LinkedHashMap[AnyRef, AnyRef]()
      m.foreach(kt, vt, (k, value) => out.put(toJava(k, kt), toJava(value, vt)))
      out
    case (r: InternalRow, st: StructType) =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      st.fields.zipWithIndex.foreach { case (f, i) =>
        out.put(f.name, toJava(r.get(i, f.dataType), f.dataType))
      }
      out
    case (x, _) => x.asInstanceOf[AnyRef] // Int/Long/Double/Boolean/... box as-is
  }

  /** Column-level cast: how the engine's own queries build it. */
  def column(c: Column): Column =
    GraftColumnBridge.column(JsonStringCast(GraftColumnBridge.expression(c)))

  /** Register as a session SQL function, for SQL text that calls
    * `json_string_cast(c)` (perfbench's `Harness.cdcDrain`, CastSpec's SQL
    * cases); the engine's queries use [[column]] and never register it.
    * Idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "json_string_cast", exprs => JsonStringCast(exprs.head), "scala_udf")
}

object Cast {
  /** q_string_cast: the SMT applied to `events` — integer key cast, bare
    * string quoted, JSON-string field quoted+escaped, exactly the Jackson
    * semantics. Columns chosen so the DuckDB oracle can reproduce the bytes
    * (no float formatting in the output).
    *
    * The whole query is a narrow projection: one codegen stage over the
    * scan, no shuffle, order by key for the diff. */
  def qStringCast(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        JsonStringCast.column(col("user_id")).as("user_id_cast"),
        JsonStringCast.column(col("event_type")).as("event_type_cast"),
        JsonStringCast.column(col("props")).as("props_cast"))
  }

  /** Jackson parity in SQL: longs print bare, strings get quoted with inner
    * `\` and `"` escaped (ASCII payloads here — no unicode escapes needed). */
  val qStringCastSql: String =
    """SELECT event_id,
      |  CAST(user_id AS VARCHAR) AS user_id_cast,
      |  '"' || replace(replace(event_type, '\', '\\'), '"', '\"') || '"' AS event_type_cast,
      |  '"' || replace(replace(props, '\', '\\'), '"', '\"') || '"' AS props_cast
      |FROM events ORDER BY event_id""".stripMargin
}
