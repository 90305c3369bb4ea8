package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit SimHash over a token array — the codegen'd replacement
  * for the nested higher-order-function formulation (aggregate ∘ zip_with
  * over a 64-slot sign-count array), which runs interpreted
  * (CodegenFallback) and allocates two 64-element arrays per token per
  * row. This expression hashes each token and folds all 64 bit-counts in
  * one tight primitive loop, inside whole-stage codegen.
  *
  * Per token t, h = FNV-1a over the token's UTF-8 bytes; each of the 64
  * bits votes +1/-1 into its counter; the result sets bit i where counter
  * i is positive. FNV (not XXH64) for the same reason as
  * RollingFingerprint: every step is wrapping mod-2⁶⁴ integer arithmetic,
  * so the DuckDB oracle replays the signature exactly in HUGEINT — the
  * simhash moves from engine-only to hash-verified. Null tokens fold as
  * the empty token (tokens() never produces them); pinned bit-exact
  * against a plain-Scala reference by LlmOpsSpec.
  */
case class SimHash64(child: Expression)
    extends NativeUnary("simhash64", LongType, ArrayType(StringType)) {

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Static entry shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var k = 0
    while (k < n) {
      val h =
        if (arr.isNullAt(k)) RollingFingerprint.FnvBasis
        else RollingFingerprint.fnv64(arr.getUTF8String(k))
      var i = 0
      while (i < 64) {
        counts(i) += (if (((h >>> i) & 1L) != 0L) 1 else -1)
        i += 1
      }
      k += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }
}

/** Native 3-gram shingle hashes over a token array — the codegen'd
  * replacement for the tokenize→shingle HOF chain (transform + two
  * zip_with passes), the last interpreted stretch on the dedup hot path.
  *
  * Per token, h1 = FNV-1a over the token's UTF-8 bytes; shingle i is the
  * chained combine mix(mix(h1(i), h1(i+1)), h1(i+2)) where
  * mix(a, b) = (rotl5(a) ^ b) * FnvPrime — order-sensitive like the
  * rolling fingerprint, with the FNV multiply for diffusion. Fewer than 3
  * tokens falls back to FNV of the space-joined text. Every step is
  * wrapping mod-2⁶⁴ arithmetic (products < 2¹⁰⁵), so the DuckDB oracle
  * replays the hashes exactly in HUGEINT — these bits decide the LSH
  * bucket contents, and the q_dedup_groups oracle asserts LSH recall
  * against the exhaustive closure, so the replay has to be bit-exact.
  * Pinned against a plain-Scala reference fold by LlmOpsSpec. */
case class ShingleHashes(child: Expression) extends NativeUnary(
    "shingle_hashes", ArrayType(LongType, containsNull = false), ArrayType(StringType)) {

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** The shingle combine: rotate-xor then FNV multiply, wrapping. */
  @inline private[engine] def mix(a: Long, b: Long): Long =
    (java.lang.Long.rotateLeft(a, 5) ^ b) * RollingFingerprint.FnvPrime

  /** Static entry shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = arr.numElements()
    if (n >= 3) {
      val th = new Array[Long](n)
      var k = 0
      while (k < n) {
        th(k) =
          if (arr.isNullAt(k)) RollingFingerprint.FnvBasis
          else RollingFingerprint.fnv64(arr.getUTF8String(k))
        k += 1
      }
      val out = new Array[Long](n - 2)
      var i = 0
      while (i < n - 2) {
        out(i) = mix(mix(th(i), th(i + 1)), th(i + 2))
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      // concat_ws(" ", t) skips null elements, then one string hash
      val parts = (0 until n).flatMap(k =>
        if (arr.isNullAt(k)) None else Some(arr.getUTF8String(k)))
      val joined = UTF8String.concatWs(UTF8String.fromString(" "), parts: _*)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array(RollingFingerprint.fnv64(joined)))
    }
  }
}

/** Native whitespace tokenizer — the codegen'd replacement for
  * `filter(split(lower(text), " "), t -> t <> "")`, the first projection
  * of EVERY text pipeline (dedup, LSH, BM25, quality, BPE prep). The
  * higher-order `filter` has no doGenCode, so the tokenize step ran
  * interpreted and allocated twice per row: split materializes every
  * segment INCLUDING the empties (plus the regex machinery for the
  * single-space pattern), then the lambda filter copies the survivors
  * into a second array with a closure call per element. This expression
  * lowercases once (the same UTF8String.toLowerCase the Lower expression
  * uses) and slices non-space byte runs directly — one pass, one output
  * array, zero-copy token slices (0x20 never occurs inside a UTF-8
  * multibyte sequence, so byte-level splitting is UTF-8-safe).
  *
  * Output is IDENTICAL to the HOF chain: regex " " splits at each single
  * space, consecutive/leading/trailing spaces yield empty segments, and
  * the filter drops exactly those — i.e. the maximal non-space runs, in
  * order, which is what the byte loop emits. Pinned element-exact
  * against the HOF formulation by LlmOpsSpec. */
case class Tokens(child: Expression)
    extends NativeUnary("tokens", ArrayType(StringType, containsNull = false), StringType) {

  override def nullSafeEval(input: Any): Any =
    Tokens.compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {
  /** Static entry shared by interpreted eval and generated code. */
  def compute(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val b = s.toLowerCase.getBytes
    val n = b.length
    // two passes: count, then fill an exactly-sized array — no growable
    // buffer churn on the hottest projection of the corpus scan
    var cnt = 0
    var i = 0
    var start = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        if (i > start) cnt += 1
        start = i + 1
      }
      i += 1
    }
    val out = new Array[Any](cnt)
    var k = 0
    i = 0
    start = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        if (i > start) { out(k) = UTF8String.fromBytes(b, start, i - start); k += 1 }
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native n-token span hashes over a token array — the shingle family
  * generalized to the SPAN length substring-dedup cares about (8–16
  * tokens: the unit of cross-document boilerplate/memorized text, vs the
  * 3-token shingles the similarity family uses). Output i is the left
  * fold of ShingleHashes.mix over the FNV hashes of tokens[i, i+n):
  * acc₀ = fnv64(t_i), acc_j = mix(acc, fnv64(t_{i+j})) — every step
  * wrapping mod-2⁶⁴, so DuckDB replays it in HUGEINT (list_reduce over
  * the same rotl5-xor-multiply). Fewer than n tokens → empty array (a
  * short document has no n-span). Pinned against a plain-Scala reference
  * by SpanDedupSpec. */
case class SpanHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"span_hashes needs array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    SpanHashes.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.engine.SpanHashes.compute($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): SpanHashes =
    copy(child = newChild)

  override def prettyName: String = "span_hashes"
}

object SpanHashes {
  /** Static entry shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val m = arr.numElements()
    if (m < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](m)
    var k = 0
    while (k < m) {
      th(k) =
        if (arr.isNullAt(k)) RollingFingerprint.FnvBasis
        else RollingFingerprint.fnv64(arr.getUTF8String(k))
      k += 1
    }
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var acc = th(i)
      var j = 1
      while (j < n) { acc = ShingleHashes.mix(acc, th(i + j)); j += 1 }
      out(i) = acc
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native MinHash LSH band keys over a shingle-hash array — 16
  * multiply-add signature mins folded into 4 FNV band keys, all in one
  * narrow codegen'd pass (the column formulation ran 16 `transform` +
  * `array_min` lambdas plus 4 hash calls per row).
  *
  * Signature j is min over shingles s of p_j(s) = s·K_j + B_j mod 2⁶⁴
  * (signed min — the bit pattern order array_min used). Odd K_j makes
  * every p_j a bijection of Z/2⁶⁴ — a genuine permutation family, which
  * xxhash re-hashing only approximated. K_j is capped at 41 bits so the
  * DuckDB HUGEINT replay's products stay < 2¹⁰⁵ ≪ 2¹²⁷. Band key b folds
  * (b, sig(4b)..sig(4b+3)) FNV-style: k = (k ^ v) · FnvPrime from the FNV
  * basis. Docs sharing any (band, key) are near-dup candidates; all
  * constants derive from splitmix64 and are embedded identically in the
  * oracle SQL (LlmOps.qDedupMinhashSql — single source of truth).
  * Pinned against a plain-Scala reference by LlmOpsSpec. */
case class MinHashBands(child: Expression) extends NativeUnary(
    "minhash_bands", ArrayType(LongType, containsNull = false), ArrayType(LongType)) {

  override def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {
  final val Seeds = 16
  final val Bands = 4
  final val Rows = 4 // Seeds / Bands

  private def splitmix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Odd 41-bit multipliers (bijective mod 2⁶⁴; HUGEINT-replayable). */
  val Ks: Array[Long] = Array.tabulate(Seeds)(j => (splitmix64(j.toLong) & 0x1FFFFFFFFFFL) | 1L)
  /** Full-width additive constants. */
  val Bs: Array[Long] = Array.tabulate(Seeds)(j => splitmix64(j.toLong + 1000L))

  /** The 16 signature mins (signed order), exposed for the spec model. */
  def sigs(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val mh = Array.fill(Seeds)(Long.MaxValue)
    var k = 0
    while (k < n) {
      val h = arr.getLong(k)
      var j = 0
      while (j < Seeds) {
        val p = h * Ks(j) + Bs(j)
        if (p < mh(j)) mh(j) = p
        j += 1
      }
      k += 1
    }
    mh
  }

  /** Static entry shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val mh = sigs(arr)
    val out = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var k = (RollingFingerprint.FnvBasis ^ b.toLong) * RollingFingerprint.FnvPrime
      var r = 0
      while (r < Rows) {
        k = (k ^ mh(b * Rows + r)) * RollingFingerprint.FnvPrime
        r += 1
      }
      out(b) = k
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Single-scan token counters — the codegen'd replacement for the two
  * regex/array passes in the token-count query (`size(split(...))` builds a
  * throwaway array per doc just to take its length; `regexp_count` drags
  * the full java.util.regex machinery over every char of the corpus —
  * measured 16.5 s at sf10, pure CPU).
  *
  * Returns struct(ws BIGINT, sub BIGINT, alnum BIGINT) over the input
  * string:
  *  - `ws`  = runs of non-space bytes — exactly
  *    `size(filter(split(s, " "), t -> t <> ""))` (0x20 never occurs
  *    inside a multi-byte UTF-8 sequence, so byte-level runs are exact);
  *  - `sub` = matches of `[a-z]+|[0-9]+|[^a-z0-9 ]` — the regex scanner's
  *    maximal-munch behavior replayed directly: letter runs and digit runs
  *    count once, every other non-space CODE POINT counts once (multi-byte
  *    lead byte advances by the sequence length, matching the per-code-
  *    point semantics of a Java regex negated class);
  *  - `alnum` = code points in `[a-z0-9 ]` — exactly
  *    `length(s) - length(regexp_replace(s, '[a-z0-9 ]', ''))`, the
  *    quality gate's alphanumeric-density numerator.
  *
  * Both counts come from one pass over the raw UTF-8 bytes, no
  * allocation. Pinned byte-equal to the regex/split formulation by
  * LlmOpsSpec on the real corpus plus unicode edge strings. */
case class TokenCounts(child: Expression)
    extends NativeUnary("token_counts", TokenCounts.schema, StringType) {

  override def nullSafeEval(input: Any): Any =
    TokenCounts.compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
}

object TokenCounts {
  val schema: StructType = StructType(Seq(
    StructField("ws", LongType, nullable = false),
    StructField("sub", LongType, nullable = false),
    StructField("alnum", LongType, nullable = false)))

  /** Static entry shared by interpreted eval and generated code. */
  def compute(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val n = s.numBytes()
    var ws = 0L
    var sub = 0L
    var alnum = 0L
    var prev = 0 // 0 = other/none, 1 = in letter run, 2 = in digit run
    var inTok = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == ' ') { alnum += 1; prev = 0; inTok = false; i += 1 }
      else {
        if (!inTok) { ws += 1; inTok = true }
        if (b >= 'a' && b <= 'z') {
          if (prev != 1) sub += 1
          alnum += 1; prev = 1; i += 1
        } else if (b >= '0' && b <= '9') {
          if (prev != 2) sub += 1
          alnum += 1; prev = 2; i += 1
        } else if ((b & 0x80) == 0) {
          sub += 1; prev = 0; i += 1
        } else {
          sub += 1; prev = 0
          i += UTF8String.numBytesForFirstByte(b)
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](ws, sub, alnum))
  }
}

/** Native rolling document fingerprint over a token array — a codegen'd
  * single pass (the HOF `aggregate` formulation runs interpreted per token
  * and was the last interpreted narrow pass over the corpus at sf10).
  * Per token h = FNV-1a over the token's UTF-8 bytes, then
  * acc = rotateLeft(acc, 5) ^ h, starting from 0 — order-sensitive like a
  * polynomial hash. FNV-1a (xor-then-multiply, wrapping 64-bit) was chosen
  * over xxhash64 deliberately: every step is plain mod-2⁶⁴ integer
  * arithmetic, so an external engine can replay the fingerprint exactly
  * (the DuckDB oracle folds codepoints in HUGEINT — products stay under
  * 2¹⁰⁴ ≪ 2¹²⁷, no overflow), where XXH64's stripe schedule is not
  * practically expressible in SQL. Pinned bit-exact against a plain-Scala
  * reference fold by LlmOpsSpec. */
case class RollingFingerprint(child: Expression)
    extends NativeUnary("rolling_fingerprint", LongType, ArrayType(StringType)) {

  override def nullSafeEval(input: Any): Any =
    RollingFingerprint.compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}

object RollingFingerprint {
  /** FNV-1a 64-bit offset basis (14695981039346656037 as signed). */
  final val FnvBasis: Long = -3750763034362895579L
  /** FNV-1a 64-bit prime (≈2⁴⁰: HUGEINT replay products stay < 2¹⁰⁴). */
  final val FnvPrime: Long = 1099511628211L

  /** FNV-1a over a string's UTF-8 bytes — the shared per-token hash of
    * the fingerprint / simhash / shingle family. */
  def fnv64(s: UTF8String): Long = {
    var h = FnvBasis
    val m = s.numBytes()
    var j = 0
    while (j < m) { h = (h ^ (s.getByte(j) & 0xFFL)) * FnvPrime; j += 1 }
    h
  }

  /** Static entry shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      // tokens() never yields nulls; a null folds as the empty token
      val h = if (arr.isNullAt(i)) FnvBasis else fnv64(arr.getUTF8String(i))
      acc = java.lang.Long.rotateLeft(acc, 5) ^ h
      i += 1
    }
    acc
  }
}

/** Single-pass repetition-gate statistics over a token array — the
  * codegen'd replacement for the sort_array + interpreted `aggregate` fold
  * (distinct/run counting) + shingle-string `array_distinct` chain of the
  * Gopher-style repetition query. One hash pass: tokens intern into a
  * (count, id) map — EXACT string equality, not hash buckets — giving
  * n_distinct and the top token multiplicity without sorting; consecutive
  * 3-gram distinctness uses the interned ids packed 3×21 bits into a long
  * (exact for documents under 2²¹ tokens; longer docs take a joined-string
  * fallback set, same answer, never hit in practice).
  *
  * Returns struct(n_tokens, n_distinct, top_token_n, n_3grams,
  * n_3grams_distinct), all BIGINT, with exactly the HOF formulation's
  * semantics incl. the <3-token fallback (single joined shingle → 1/1) —
  * pinned by CurationSpec against a plain-Scala model and end-to-end by
  * the unchanged exhaustive DuckDB oracle. */
case class RepetitionStats(child: Expression)
    extends NativeUnary("repetition_stats", RepetitionStats.schema, ArrayType(StringType)) {

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_token_n", LongType, nullable = false),
    StructField("n_3grams", LongType, nullable = false),
    StructField("n_3grams_distinct", LongType, nullable = false)))

  /** Static entry shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    val ids = new Array[Long](n)
    var top = 0L
    var k = 0
    while (k < n) {
      // tokens() never yields nulls; a null folds as the empty token
      val t = if (arr.isNullAt(k)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(k)
      var slot = counts.get(t)
      if (slot == null) {
        slot = Array(0L, counts.size.toLong)
        // copy: getUTF8String may return a view into a reused buffer
        counts.put(t.clone(), slot)
      }
      slot(0) += 1L
      if (slot(0) > top) top = slot(0)
      ids(k) = slot(1)
      k += 1
    }
    val (n3, n3d) =
      if (n >= 3) {
        val triples = new java.util.HashSet[AnyRef]()
        var i = 0
        if (n < (1 << 21)) {
          while (i < n - 2) {
            triples.add(java.lang.Long.valueOf(
              (ids(i) << 42) | (ids(i + 1) << 21) | ids(i + 2)))
            i += 1
          }
        } else {
          // >2M-token document: ids overflow the 3×21-bit packing — count
          // distinct consecutive id-triples via their string form instead
          while (i < n - 2) {
            triples.add(s"${ids(i)},${ids(i + 1)},${ids(i + 2)}")
            i += 1
          }
        }
        ((n - 2).toLong, triples.size.toLong)
      } else (1L, 1L) // concat_ws fallback: one joined shingle, distinct 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, counts.size.toLong, top, n3, n3d))
  }
}

/** Single-pass PII scan + redaction — the codegen'd replacement for the
  * six regex passes of the scrub query (three `regexp_count` + a triple
  * `regexp_replace`, each dragging java.util.regex over every byte of the
  * line; q_pii_scrub was the most expensive query in the bench, pure
  * map-side CPU).
  *
  * Returns struct(n_emails, n_phones, n_ips BIGINT, redacted STRING) with
  * exactly the regex formulation's semantics (Curation.emailRe/phoneRe/
  * ipRe, pinned byte-equal by CurationSpec on the corpus + adversarial
  * edges):
  *  - counts are independent leftmost non-overlapping match counts on the
  *    ORIGINAL line (an IP inside an email's local part still counts);
  *  - redaction is sequential email → phone → IP, each pass matching on
  *    the previous pass's output, exactly like the nested regexp_replace.
  *
  * The three hand-compiled matchers replay java.util.regex leftmost-first
  * greedy-with-backtracking semantics: email = maximal local run before
  * '@', then the LAST dot in the greedy domain span with ≥2 letters after
  * (domain backtracking); phone = a fixed 14-byte shape; IP = 4 dot-
  * separated 1-3 digit octets, octet lengths backtracked longest-first.
  * All pattern classes are pure ASCII, so byte-level scanning is exact on
  * UTF-8 (multibyte sequence bytes all have the high bit set and never
  * class-match). */
case class PiiScrub(child: Expression)
    extends NativeUnary("pii_scrub", PiiScrub.schema, StringType) {

  override def nullSafeEval(input: Any): Any =
    PiiScrub.compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): PiiScrub =
    copy(child = newChild)
}

object PiiScrub {
  val schema: StructType = StructType(Seq(
    StructField("n_emails", LongType, nullable = false),
    StructField("n_phones", LongType, nullable = false),
    StructField("n_ips", LongType, nullable = false),
    StructField("redacted", StringType, nullable = false)))

  private val Email = "[EMAIL]".getBytes
  private val Phone = "[PHONE]".getBytes
  private val Ip = "[IP]".getBytes

  @inline private def isAlpha(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  // [A-Za-z0-9._%+-]
  @inline private def isLocal(b: Byte): Boolean =
    isAlpha(b) || isDigit(b) || b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  // [A-Za-z0-9.-]
  @inline private def isDomain(b: Byte): Boolean =
    isAlpha(b) || isDigit(b) || b == '.' || b == '-'

  /** Leftmost non-overlapping email matches; (start, end) pairs flattened. */
  private def findEmails(a: Array[Byte]): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    val n = a.length
    var p = 0 // region start: end of previous match
    var j = 0
    while (j < n) {
      if (a(j) == '@') {
        // maximal local-part run ending at the '@', clamped to the region
        var ls = j
        while (ls > p && isLocal(a(ls - 1))) ls -= 1
        // greedy domain span after the '@'
        var de = j + 1
        while (de < n && isDomain(a(de))) de += 1
        var e = -1
        if (ls < j && de > j + 1) {
          // domain backtracking: the LAST dot with >=1 domain char before
          // it and >=2 letters right after wins; the TLD run is greedy
          var k = de - 3
          while (k >= j + 2 && e < 0) {
            if (a(k) == '.' && isAlpha(a(k + 1)) && isAlpha(a(k + 2))) {
              e = k + 3
              while (e < de && isAlpha(a(e))) e += 1
            }
            k -= 1
          }
        }
        if (e >= 0) { out += ls; out += e; p = e; j = e }
        else j += 1
      } else j += 1
    }
    out.toArray
  }

  /** Fixed-shape phone matches: `(ddd) ddd-dddd`, 14 bytes. */
  private def findPhones(a: Array[Byte]): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    val n = a.length
    var i = 0
    while (i + 14 <= n) {
      if (a(i) == '(' && isDigit(a(i + 1)) && isDigit(a(i + 2)) && isDigit(a(i + 3)) &&
        a(i + 4) == ')' && a(i + 5) == ' ' &&
        isDigit(a(i + 6)) && isDigit(a(i + 7)) && isDigit(a(i + 8)) && a(i + 9) == '-' &&
        isDigit(a(i + 10)) && isDigit(a(i + 11)) && isDigit(a(i + 12)) && isDigit(a(i + 13))) {
        out += i; out += (i + 14)
        i += 14
      } else i += 1
    }
    out.toArray
  }

  /** One IP match attempt at `start`: four 1-3 digit octets, dots between,
    * earlier octets backtracked longest-first (greedy), last octet greedy.
    * Returns the match end or -1. */
  private def tryIp(a: Array[Byte], start: Int, n: Int): Int = {
    def seg(pos: Int, segIdx: Int): Int = {
      var d = 0
      while (d < 3 && pos + d < n && isDigit(a(pos + d))) d += 1
      if (d == 0) return -1
      if (segIdx == 3) return pos + d
      var len = d
      while (len >= 1) {
        val q = pos + len
        if (q < n && a(q) == '.') {
          val e = seg(q + 1, segIdx + 1)
          if (e >= 0) return e
        }
        len -= 1
      }
      -1
    }
    seg(start, 0)
  }

  /** Leftmost non-overlapping IP matches. */
  private def findIps(a: Array[Byte]): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    val n = a.length
    var i = 0
    while (i < n) {
      if (isDigit(a(i))) {
        val e = tryIp(a, i, n)
        if (e >= 0) { out += i; out += e; i = e } else i += 1
      } else i += 1
    }
    out.toArray
  }

  /** Splice `rep` over every (start, end) span. */
  private def replaceAll(a: Array[Byte], spans: Array[Int], rep: Array[Byte]): Array[Byte] = {
    if (spans.isEmpty) return a
    var kept = a.length
    var m = 0
    while (m < spans.length) { kept -= spans(m + 1) - spans(m); m += 2 }
    val out = new Array[Byte](kept + rep.length * (spans.length / 2))
    var src = 0
    var dst = 0
    m = 0
    while (m < spans.length) {
      val len = spans(m) - src
      System.arraycopy(a, src, out, dst, len); dst += len
      System.arraycopy(rep, 0, out, dst, rep.length); dst += rep.length
      src = spans(m + 1)
      m += 2
    }
    System.arraycopy(a, src, out, dst, a.length - src)
    out
  }

  /** Static entry shared by interpreted eval and generated code.
    *
    * Counts run on the ORIGINAL line; redaction matches run on the
    * previous pass's output. The two genuinely differ: an email whose
    * local part swallows a phone/IP tail (`(123) 456-7890@x.com` — `-`
    * and digits are local chars) leaves regexp_count(phone) = 1 on the
    * original while the redacted line no longer contains a phone. */
  def compute(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val a = s.getBytes
    val emails = findEmails(a)
    val red1 = replaceAll(a, emails, Email)
    val red2 = replaceAll(red1, findPhones(red1), Phone)
    val red3 = replaceAll(red2, findIps(red2), Ip)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      (emails.length / 2).toLong,
      (findPhones(a).length / 2).toLong,
      (findIps(a).length / 2).toLong,
      UTF8String.fromBytes(red3)))
  }
}

/** The LSH operating-curve sweep: band keys for EVERY (bands × rows)
  * regrouping of the same 16 signature mins — (1×16, 2×8, 4×4, 8×2,
  * 16×1) — in one narrow codegen'd pass (31 struct(bands, band, key)
  * entries per doc). The 4×4 slice is BIT-IDENTICAL to [[MinHashBands]]
  * (same sigs, same FNV fold), which the spec pins; the other configs
  * fold the identical formula with a different row span. This is the
  * tuning table a 100 TB dedup operator consults: more bands = higher
  * recall but more candidate pairs — measured, not assumed. */
case class MinHashBandsSweep(child: Expression) extends NativeUnary(
    "minhash_bands_sweep", ArrayType(StructType(Seq(
      StructField("bands", IntegerType, nullable = false),
      StructField("band", IntegerType, nullable = false),
      StructField("key", LongType, nullable = false))), containsNull = false),
    ArrayType(LongType)) {

  override def nullSafeEval(input: Any): Any =
    MinHashBandsSweep.compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): MinHashBandsSweep =
    copy(child = newChild)
}

object MinHashBandsSweep {
  /** Swept band counts; rows per band = Seeds / bands. */
  val SweepBands: Array[Int] = Array(1, 2, 4, 8, 16)

  /** Static entry shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val mh = MinHashBands.sigs(arr)
    val out = new Array[Any](SweepBands.sum)
    var o = 0
    var c = 0
    while (c < SweepBands.length) {
      val bands = SweepBands(c)
      val rows = MinHashBands.Seeds / bands
      var b = 0
      while (b < bands) {
        var k = (RollingFingerprint.FnvBasis ^ b.toLong) * RollingFingerprint.FnvPrime
        var r = 0
        while (r < rows) {
          k = (k ^ mh(b * rows + r)) * RollingFingerprint.FnvPrime
          r += 1
        }
        out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](bands, b, k))
        o += 1
        b += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object TextExprs {
  /** Column-level SimHash backed by the codegen'd expression. */
  def simhash64(tokens: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(tokens)))

  /** Column-level rolling fingerprint backed by the codegen'd expression. */
  def rollingFingerprint(tokens: Column): Column =
    GraftColumnBridge.column(RollingFingerprint(GraftColumnBridge.expression(tokens)))

  /** Column-level single-scan token counts (struct(ws, sub)). */
  def tokenCounts(s: Column): Column =
    GraftColumnBridge.column(TokenCounts(GraftColumnBridge.expression(s)))

  /** Column-level shingle hashes backed by the codegen'd expression. */
  def shingleHashes(tokens: Column): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(tokens)))

  /** Column-level whitespace tokenizer backed by the codegen'd expression. */
  def tokensOf(text: Column): Column =
    GraftColumnBridge.column(Tokens(GraftColumnBridge.expression(text)))

  /** Column-level n-token span hashes backed by the codegen'd expression. */
  def spanHashes(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(SpanHashes(GraftColumnBridge.expression(tokens), n))

  /** Column-level MinHash LSH band keys backed by the codegen'd expression. */
  def minhashBands(shingleHashes: Column): Column =
    GraftColumnBridge.column(MinHashBands(GraftColumnBridge.expression(shingleHashes)))

  /** Column-level all-config LSH band-key sweep. */
  def minhashBandsSweep(shingleHashes: Column): Column =
    GraftColumnBridge.column(MinHashBandsSweep(GraftColumnBridge.expression(shingleHashes)))

  /** Column-level single-pass PII scrub (struct(n_emails, n_phones, n_ips,
    * redacted)). */
  def piiScrub(s: Column): Column =
    GraftColumnBridge.column(PiiScrub(GraftColumnBridge.expression(s)))

  /** Column-level single-pass repetition-gate stats. */
  def repetitionStats(tokens: Column): Column =
    GraftColumnBridge.column(RepetitionStats(GraftColumnBridge.expression(tokens)))
}
