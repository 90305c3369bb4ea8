package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.GraftColumnBridge
import org.apache.spark.sql.types._

/** Order-preserving IEEE-754 bit key for doubles.
  *
  * `sortableBits(a) <= sortableBits(b)  ⇔  a <= b` under the floating
  * total order (-0.0 just below 0.0, NaN above +Inf — the same total order
  * Spark's sort uses), so any right-shift of the key is a monotone,
  * scale-invariant bucketing of the double line: equal-width buckets in
  * bit space ≈ exponentially sized buckets in value space, which is
  * exactly what a value-distribution-agnostic histogram wants. Used by the
  * exact distributed percentile in Relational.qPercentileDisc: a
  * histogram on `sortableBits >> k` bounds every refinement bucket to a
  * 2^k-wide slice of bit space regardless of the column's range or unit.
  *
  * The mapping is the classic sortable-bits trick, branch-free:
  * `b ^ ((b >> 63) & Long.MaxValue)` over the raw `doubleToLongBits`
  * flips the 63 magnitude bits of negatives (their bit patterns order
  * backwards) and leaves positives untouched; the IEEE sign bit then
  * doubles as the long's sign bit, so the result compares correctly as a
  * SIGNED long with no further correction (negatives stay negative longs,
  * positives stay positive).
  */
case class SortableDoubleBits(child: Expression)
    extends NativeUnary("sortable_double_bits", LongType, DoubleType) {

  override def nullSafeEval(input: Any): Any =
    SortableDoubleBits.compute(input.asInstanceOf[Double])

  override protected def withNewChildInternal(newChild: Expression): SortableDoubleBits =
    copy(child = newChild)
}

object SortableDoubleBits {
  /** Static entry shared by interpreted eval and generated code. */
  def compute(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & Long.MaxValue)
  }
}

/** Two seeded xorshift64 rounds over a long key — the deterministic
  * sampling mix of q_sample_stratified, as ONE expression node.
  *
  * WHY an expression when shifts and xors are all builtins: composing
  * `round(round(x ^ seed))` from Column operators triples the subtree
  * references at every xorshift step — the final predicate carried ~60
  * copies of the input column (a 3.5 KB expression), which defeats
  * codegen and ran the mix interpreted per row. Here the mix is one node
  * evaluated once. Bit-identical to the column composition (same steps,
  * same seed); the DuckDB oracle replays the same arithmetic in HUGEINT,
  * so the hash-verified stratum counts pin it end-to-end. */
case class XorShiftMix(child: Expression)
    extends NativeUnary("xorshift_mix", LongType, LongType) {

  override def nullSafeEval(input: Any): Any =
    XorShiftMix.compute(input.asInstanceOf[Long])

  override protected def withNewChildInternal(newChild: Expression): XorShiftMix =
    copy(child = newChild)
}

object XorShiftMix {
  /** Golden-ratio seed (0x9E3779B97F4A7C15 as signed). */
  final val Seed: Long = -7046029254386353131L

  /** Static entry shared by interpreted eval and generated code. */
  def compute(x: Long): Long = {
    var v = x ^ Seed
    var i = 0
    while (i < 2) {
      v ^= v << 13
      v ^= v >>> 7
      v ^= v << 17
      i += 1
    }
    v
  }
}

object NumExprs {
  /** Signed-long key preserving the double total order. */
  def sortableBits(c: Column): Column =
    GraftColumnBridge.column(SortableDoubleBits(GraftColumnBridge.expression(c)))

  /** Two seeded xorshift64 rounds, one expression node. */
  def xorshiftMix(c: Column): Column =
    GraftColumnBridge.column(XorShiftMix(GraftColumnBridge.expression(c)))
}
