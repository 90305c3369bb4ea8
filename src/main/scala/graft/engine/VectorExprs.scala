package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native vector expressions for the similarity hot path.
  *
  * Spark's higher-order functions (`zip_with`/`aggregate`) are evaluated
  * interpreted (CodegenFallback) — fine for a scalar here and there, but the
  * ANN queries evaluate a 64-element fold per candidate pair. This
  * `BinaryExpression` generates a tight primitive loop via `doGenCode`, the
  * "custom Catalyst Expression beats UDF beats interpreted" rung of the
  * extension ladder (SURVEY.md §2b UDF surface).
  *
  * Semantics: Σ a(i)·b(i) over the common prefix, accumulated in double.
  * Array elements are assumed non-null (embedding vectors; enforced by the
  * writer). Supports float and double element types on either side.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(
      s"dot product needs array children, got $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot product needs array<float|double> children, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = Math.min(x.numElements(), y.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double)$a.$lGet($i) * (double)$b.$rGet($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "float_dot_product"
}

/** Int8 scalar quantization of an embedding vector, one pass.
  *
  * Returns struct(lo, hi, q) where lo/hi are the vector's min/max (as
  * double) and q(i) = floor((v(i) − lo)·255 / (hi − lo) + 0.5) ∈ [0, 255]
  * (all-zero when hi == lo). Every arithmetic step is an IEEE-754
  * correctly-rounded double op with a fixed parenthesization, so the
  * quantized codes are bit-identical cross-engine and DuckDB-replayable
  * (Quantize.qQuantizeEmbedSql mirrors the expression token-for-token).
  *
  * WHY an expression and not `transform(v, x -> ...(array_min(v))...)`:
  * a column subtree referenced inside a higher-order-function lambda is
  * re-evaluated PER ELEMENT once CollapseProject inlines it (ROADMAP
  * "perf learnings"), so the min/max folds would run d times each —
  * O(d²) per vector. Here min/max and the quantize loop run once, and
  * codegen stays whole-stage (same static-helper pattern as XorShiftMix).
  */
case class QuantizeU8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = QuantizeU8.OutType

  /** Degenerate vectors (empty, or containing null/NaN elements) return
    * NULL rather than garbage codes — parquet array schemas default to
    * containsNull=true even when the writer never emits one, so the type
    * check can't reject them statically. */
  override def nullable: Boolean = true

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"quantize_u8 needs an array<float|double> child, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    QuantizeU8.compute(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = graft.engine.QuantizeU8.compute($v, $isFloat);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): QuantizeU8 =
    copy(child = newChild)

  override def prettyName: String = "quantize_u8"
}

object QuantizeU8 {
  val OutType: StructType = StructType(Seq(
    StructField("lo", DoubleType, nullable = false),
    StructField("hi", DoubleType, nullable = false),
    StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false)))

  /** Static entry shared by interpreted eval and generated code. Returns
    * null for degenerate input (empty array, null or NaN element) —
    * deterministic and visible, instead of codes computed from phantom
    * values. */
  def compute(arr: ArrayData, isFloat: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    if (n == 0) return null
    var lo = Double.PositiveInfinity
    var hi = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      if (v.isNaN) return null
      if (v < lo) lo = v
      if (v > hi) hi = v
      i += 1
    }
    val q = new Array[Int](n)
    if (hi != lo) {
      val range = hi - lo
      i = 0
      while (i < n) {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        // fixed parenthesization, mirrored by the DuckDB oracle:
        // floor(((v - lo) * 255.0) / (hi - lo) + 0.5)
        q(i) = math.floor(((v - lo) * 255.0) / range + 0.5).toInt
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(lo, hi,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(q))
  }
}

/** Squared L2 distance between two int-code vectors (quantized
  * embeddings), accumulated in long — exact integer arithmetic, the
  * distance kernel of the quantized IVF path (Quantize.qSimIvfQuant).
  * Same codegen rationale as FloatDotProduct: this runs per candidate
  * pair on the ANN hot path, where an interpreted zip_with/aggregate
  * fold would dominate. */
case class IntSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"int_sq_dist needs array<int> children, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = Math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = (x.getInt(i) - y.getInt(i)).toLong
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = (long)($a.getInt($i) - $b.getInt($i));
         |  $sum += $d * $d;
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntSqDist =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "int_sq_dist"
}

/** Construction checks shared by the nearest-centroid k-loops: with no
  * centroids the loop would answer cid 0 for every row, and a cid list
  * that does not line up with the centroids would mislabel them. */
private[engine] object NearestCentroid {
  def requireCentroids(nCids: Int, nCents: Int): Unit = {
    require(nCents > 0, "nearest-centroid assignment needs at least one centroid")
    require(nCids == nCents,
      s"nearest-centroid assignment got $nCids cids for $nCents centroids")
  }
}

/** Nearest centroid by cosine over a k-bounded FLOAT centroid set carried
  * as expression parameters — the codegen'd replacement for the
  * `vectors.join(broadcast(centroids))` + `groupBy(vec_id).max_by`
  * assignment: that shape materializes n·k join rows each copying BOTH
  * 64-float arrays into an UnsafeRow, feeds them through a hash
  * aggregate, and then needs a corpus-sized join to re-attach the
  * payload — measured as the IVF family's dominant stages (10-18 s of
  * task run time per assignment at sf0.1, 3× GC-inflated over CPU).
  * Here the k-loop runs INSIDE one expression per row: zero join rows,
  * zero aggregation, zero re-attach, and the k·dim floats ship once per
  * task as a codegen reference object (the same driver-side k-row
  * collect a broadcast build performs).
  *
  * Arithmetic is bit-identical to `max_by(cid, struct(cos, -cid))` over
  * VectorExprs.vcosine(ce, v): dots accumulate in index order as
  * doubles, sim = dot / (sqrt(dot(ce,ce)) * sqrt(dot(v,v))) with the
  * centroid norm on the left of the multiply, and the comparator
  * replicates Spark's double ordering (x == y first so ±0.0 ties, then
  * Double.compare so NaN ranks greatest), ties to the LOWEST cid.
  * Returns struct(cid, sim); null vector → null. */
case class NearestCentroidCosF(child: Expression, cids: Seq[Int],
    cents: Seq[Seq[Float]]) extends UnaryExpression {
  NearestCentroid.requireCentroids(cids.size, cents.size)

  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid_cos needs array<float>, got $other")
    }

  @transient private lazy val cidArr: Array[Int] = cids.toArray
  @transient private lazy val centArr: Array[Array[Float]] =
    cents.map(_.toArray).toArray
  // sqrt(dot(c,c)) once per centroid — the same double vcosine computed
  // per row before
  @transient private lazy val normArr: Array[Double] =
    centArr.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i).toDouble * c(i).toDouble; i += 1 }
      math.sqrt(s)
    }

  override def nullSafeEval(input: Any): Any =
    NearestCentroidCosF.compute(
      input.asInstanceOf[ArrayData], cidArr, centArr, normArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cidArr, "int[]")
    val centsRef = ctx.addReferenceObj("cents", centArr, "float[][]")
    val normsRef = ctx.addReferenceObj("norms", normArr, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.engine.NearestCentroidCosF.compute(" +
        s"$a, $cidsRef, $centsRef, $normsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidCosF =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid_cos"
}

object NearestCentroidCosF {
  /** Static entry shared by interpreted eval and generated code. */
  def compute(v: ArrayData, cids: Array[Int], cents: Array[Array[Float]],
      norms: Array[Double]): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var vv = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; vv += x * x; i += 1 }
    val vnorm = math.sqrt(vv)
    var bestCid = 0
    var bestSim = 0.0
    var first = true
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      val m = math.min(ce.length, n)
      var dot = 0.0
      i = 0
      while (i < m) { dot += ce(i).toDouble * v.getFloat(i).toDouble; i += 1 }
      val sim = dot / (norms(c) * vnorm)
      // Spark double ordering: == first (±0.0 tie), Double.compare after
      // (NaN greatest); ties take the lowest cid (max_by on (sim, -cid))
      val cmp = if (sim == bestSim) 0 else java.lang.Double.compare(sim, bestSim)
      if (first || cmp > 0 || (cmp == 0 && cids(c) < bestCid)) {
        bestCid = cids(c); bestSim = sim; first = false
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCid, bestSim))
  }
}

/** [[NearestCentroidCosF]]'s integer twin for the quantized-IVF family:
  * argmin exact squared L2 (IntSqDist arithmetic) over k-bounded INT-code
  * centroids, ties to the lowest cid — bit-identical to
  * `min_by(cid, struct(d, cid))` over intSqDist, all-long comparisons.
  * Returns struct(cid, d); null code vector → null. */
case class NearestCentroidSqI(child: Expression, cids: Seq[Long],
    cents: Seq[Seq[Int]]) extends UnaryExpression {
  NearestCentroid.requireCentroids(cids.size, cents.size)

  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("d", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid_sq needs array<int>, got $other")
    }

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val centArr: Array[Array[Int]] =
    cents.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    NearestCentroidSqI.compute(input.asInstanceOf[ArrayData], cidArr, centArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cidArr, "long[]")
    val centsRef = ctx.addReferenceObj("cents", centArr, "int[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.engine.NearestCentroidSqI.compute(" +
        s"$a, $cidsRef, $centsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidSqI =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid_sq"
}

object NearestCentroidSqI {
  /** Static entry shared by interpreted eval and generated code. */
  def compute(v: ArrayData, cids: Array[Long],
      cents: Array[Array[Int]]): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var bestCid = 0L
    var bestD = 0L
    var first = true
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      val m = math.min(ce.length, n)
      var s = 0L
      var i = 0
      while (i < m) {
        val d = (ce(i) - v.getInt(i)).toLong
        s += d * d
        i += 1
      }
      if (first || s < bestD || (s == bestD && cids(c) < bestCid)) {
        bestCid = cids(c); bestD = s; first = false
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCid, bestD))
  }
}

object VectorExprs {
  /** Column-level dot product backed by the codegen'd expression. */
  def vdot(a: Column, b: Column): Column =
    GraftColumnBridge.column(FloatDotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Cosine similarity from three codegen'd dots (norms are dot(x,x)). */
  def vcosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    vdot(a, b) / (sqrt(vdot(a, a)) * sqrt(vdot(b, b)))
  }

  /** struct(lo, hi, q): int8 scalar quantization, one codegen'd pass. */
  def quantizeU8(v: Column): Column =
    GraftColumnBridge.column(QuantizeU8(GraftColumnBridge.expression(v)))

  /** Exact squared L2 over int-code vectors, as long. */
  def intSqDist(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntSqDist(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** struct(cid, sim): nearest float centroid by cosine, k-loop in one
    * codegen'd pass. */
  def nearestCentroidCos(v: Column, cids: Seq[Int],
      cents: Seq[Seq[Float]]): Column =
    GraftColumnBridge.column(NearestCentroidCosF(
      GraftColumnBridge.expression(v), cids, cents))

  /** struct(cid, d): nearest int-code centroid by exact squared L2. */
  def nearestCentroidSq(v: Column, cids: Seq[Long],
      cents: Seq[Seq[Int]]): Column =
    GraftColumnBridge.column(NearestCentroidSqI(
      GraftColumnBridge.expression(v), cids, cents))
}
