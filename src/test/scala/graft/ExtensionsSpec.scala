package graft

import org.apache.spark.sql.{AnalysisException, Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftColumnBridge

import graft.engine.{JsonStringCast, NumExprs, TextExprs, VectorExprs}

/** GraftExtensions must be loadable the way spark.sql.extensions loads it
  * (zero-arg class by name) and must wire into a SparkSessionExtensions
  * without touching a live session. Every function it injects is then
  * registered in a fresh child session of the shared one, where SQL calls
  * are checked against the kernels' Column helpers. The optimizer rule
  * is covered by PlanSpec (NanosRangePushdown effect on the scan) and
  * json_string_cast's semantics by CastSpec. */
class ExtensionsSpec extends SparkSpec {

  test("extension class instantiates by name and injects cleanly") {
    val cls = Class.forName("graft.GraftExtensions")
    val instance = cls.getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    instance(new SparkSessionExtensions) // must not throw
  }

  test("wrong arity raises WRONG_NUM_ARGS AnalysisException, not IndexOutOfBounds") {
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.catalyst.expressions.Literal
    val one = GraftExtensions.unary("quantize_u8")(graft.engine.QuantizeU8.apply)
    val e0 = intercept[AnalysisException] { one(Seq.empty) }
    assert(e0.getMessage.contains("quantize_u8"))
    assert(one(Seq(Literal("x"))).isInstanceOf[graft.engine.QuantizeU8])
    val two = GraftExtensions.binary("int_sq_dist")(graft.engine.IntSqDist.apply)
    val e1 = intercept[AnalysisException] { two(Seq(Literal(1))) }
    assert(e1.getMessage.contains("int_sq_dist") && e1.getMessage.contains("2"))
    assert(two(Seq(Literal(1), Literal(2))).isInstanceOf[graft.engine.IntSqDist])
  }

  /** One SQL function's check: its SQL argument values, the Column helper
    * that must agree with it, and for a `NativeUnary` kernel the class
    * whose static `compute` the generated code calls. */
  case class Case(args: Seq[String], helper: Seq[Column] => Column,
      kernel: Option[String] = None)

  private val strs = "array('to', 'be', 'or', 'not', 'to', 'be')"
  private val longs = "array(11L, -7L, 42L, 3L)"

  val cases: Map[String, Case] = Map(
    "simhash64" -> Case(Seq(strs), c => TextExprs.simhash64(c.head), Some("SimHash64")),
    "shingle_hashes" ->
      Case(Seq(strs), c => TextExprs.shingleHashes(c.head), Some("ShingleHashes")),
    "tokens" -> Case(Seq("'To be  or NOT to be '"), c => TextExprs.tokensOf(c.head),
      Some("Tokens")),
    "minhash_bands" ->
      Case(Seq(longs), c => TextExprs.minhashBands(c.head), Some("MinHashBands")),
    "minhash_bands_sweep" -> Case(Seq(longs), c => TextExprs.minhashBandsSweep(c.head),
      Some("MinHashBandsSweep")),
    "token_counts" -> Case(Seq("'ab 12 x-y é9'"), c => TextExprs.tokenCounts(c.head),
      Some("TokenCounts")),
    "rolling_fingerprint" -> Case(Seq(strs), c => TextExprs.rollingFingerprint(c.head),
      Some("RollingFingerprint")),
    "repetition_stats" -> Case(Seq(strs), c => TextExprs.repetitionStats(c.head),
      Some("RepetitionStats")),
    "pii_scrub" -> Case(Seq("'mail a.b@example.com or (555) 123-4567 from 10.0.0.1'"),
      c => TextExprs.piiScrub(c.head), Some("PiiScrub")),
    "xorshift_mix" -> Case(Seq("42L"), c => NumExprs.xorshiftMix(c.head), Some("XorShiftMix")),
    "sortable_double_bits" -> Case(Seq("-1.5D"), c => NumExprs.sortableBits(c.head),
      Some("SortableDoubleBits")),
    "quantize_u8" -> Case(Seq("array(0.0D, 1.0D, 0.25D)"), c => VectorExprs.quantizeU8(c.head)),
    "json_string_cast" -> Case(Seq("'John Doe'"), c =>
      GraftColumnBridge.column(JsonStringCast(GraftColumnBridge.expression(c.head)))),
    "float_dot_product" -> Case(Seq("array(1.5F, 2.0F)", "array(2.0D, -1.0D)"),
      c => VectorExprs.vdot(c(0), c(1))),
    "int_sq_dist" -> Case(Seq("array(1, 2, 3)", "array(3, 2, 1)"),
      c => VectorExprs.intSqDist(c(0), c(1))))

  /** A child session holding exactly what the extension injects, and the
    * injected function names. */
  private def extended(): (SparkSession, Seq[String]) = {
    val injected = Seq.newBuilder[(FunctionIdentifier, ExpressionInfo, GraftExtensions.Builder)]
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = injected += f
    })
    val s = spark.newSession()
    val fs = injected.result()
    fs.foreach { case (id, info, b) => s.sessionState.functionRegistry.registerFunction(id, info, b) }
    (s, fs.map(_._1.funcName))
  }

  /** One row of `c`'s arguments as columns a0, a1, … of a temp view. The
    * `id < 0` guard keeps them from folding into literals, so a kernel
    * over them runs inside whole-stage codegen. */
  private def inputView(s: SparkSession, c: Case): Seq[Column] = {
    s.range(1).selectExpr(c.args.zipWithIndex.map { case (a, i) =>
      s"IF(id < 0, NULL, $a) AS a$i" }: _*).createOrReplaceTempView("graft_kernel_in")
    c.args.indices.map(i => col(s"a$i"))
  }

  private def call(name: String, c: Case): String =
    s"SELECT $name(${c.args.indices.map(i => s"a$i").mkString(", ")}) AS v FROM graft_kernel_in"

  test("the extension registers exactly the kernel list, each callable from SQL " +
    "with the Column helper's value") {
    val (s, names) = extended()
    assert(names.sorted == GraftExtensions.functions.map(_._1.funcName).sorted)
    assert(names.toSet == cases.keySet, s"kernel list vs spec cases: $names")
    cases.foreach { case (name, c) =>
      val cols = inputView(s, c)
      val viaSql = s.sql(call(name, c)).head().get(0)
      val viaCol = s.table("graft_kernel_in").select(c.helper(cols)).head().get(0)
      assert(viaSql != null && viaSql == viaCol, s"$name: sql=$viaSql column=$viaCol")
    }
  }

  test("a wrong input type fails analysis with a message naming the function") {
    val (s, _) = extended()
    cases.filter(_._1 != "json_string_cast").foreach { case (name, c) =>
      val e = intercept[AnalysisException] {
        s.sql(s"SELECT $name(${c.args.map(_ => "true").mkString(", ")})").collect()
      }
      assert(e.getMessage.contains(name), s"$name: ${e.getMessage}")
      if (c.kernel.isDefined)
        assert(e.getMessage.contains(s"$name needs "), s"$name: ${e.getMessage}")
    }
  }

  test("each NativeUnary kernel generates one static compute call") {
    val (s, _) = extended()
    cases.collect { case (name, c @ Case(_, _, Some(kernel))) =>
      inputView(s, c)
      val src = s.sql(call(name, c)).queryExecution.debug.codegenToSeq().map(_._2).mkString
      assert(src.contains(s"graft.engine.$kernel.compute("), s"$name:\n$src")
    }
  }
}
