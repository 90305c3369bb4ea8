package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.JsonStringCast

/** Jackson-parity cases pinned by the reference's own test suite
  * (FIXTURES.md §A.1 ← mk-string-cast-smt StringCastTest.java). */
class CastSpec extends SparkSpec {

  private def castOne(dt: DataType, value: Any): Any = {
    JsonStringCast.register(spark)
    val schema = StructType(Seq(StructField("v", dt, nullable = true)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(value)), schema)
    df.select(expr("json_string_cast(v)").as("c")).collect()(0).get(0)
  }

  test("int casts to bare numeric string (StringCastTest.java:53)") {
    assert(castOne(IntegerType, 30) == "30")
  }

  test("long casts to bare numeric string (StringCastTest.java:54)") {
    assert(castOne(LongType, 100L) == "100")
  }

  test("boolean casts to JSON literal") {
    assert(castOne(BooleanType, true) == "true")
  }

  test("double casts to Jackson double form") {
    assert(castOne(DoubleType, 99.99) == "99.99")
  }

  test("string gets JSON-QUOTED (StringCastTest.java:175)") {
    assert(castOne(StringType, "John Doe") == "\"John Doe\"")
  }

  test("string with quotes gets escaped") {
    assert(castOne(StringType, """say "hi"""") == """"say \"hi\""""")
  }

  test("list casts to compact JSON array (StringCastTest.java:124)") {
    assert(castOne(ArrayType(IntegerType), Seq(1, 2, 3)) == "[1,2,3]")
  }

  test("map casts to compact JSON object (StringCastTest.java:126-127)") {
    val got = castOne(MapType(StringType, StringType), Map("key1" -> "value1"))
    assert(got == """{"key1":"value1"}""")
  }

  test("null stays null, not the string 'null' (StringCastTest.java:151)") {
    assert(castOne(StringType, null) == null)
  }

  test("struct casts to JSON object with field order preserved") {
    JsonStringCast.register(spark)
    val df = spark.range(1).select(
      expr("json_string_cast(named_struct('b', 2, 'a', 1))").as("c"))
    assert(df.collect()(0).getString(0) == """{"b":2,"a":1}""")
  }

  test("q_string_cast builds the cast as a Column: it registers no session function") {
    val fresh = spark.newSession()
    val rows = graft.engine.Cast.qStringCast(fresh, sf).collect().toSet
    assert(!fresh.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("json_string_cast")),
      "q_string_cast must not register json_string_cast in its session")
    // the same rows as the cast called by its SQL name
    JsonStringCast.register(spark)
    val bySql = graft.engine.Tables.events(spark, sf).selectExpr("event_id",
      "json_string_cast(user_id) AS user_id_cast",
      "json_string_cast(event_type) AS event_type_cast",
      "json_string_cast(props) AS props_cast").collect().toSet
    assert(rows.nonEmpty && rows == bySql)
  }
}
