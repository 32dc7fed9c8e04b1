package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.GraftSqlShim.{column, expression}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** graft's native Catalyst expressions. Each one:
  *
  *  - evaluates through a shared static kernel (`NativeKernels`) — a tight
  *    loop over unsafe `ArrayData`/`UTF8String`, no row boxing;
  *  - implements `doGenCode` as a call to that same kernel, so the
  *    expression participates in whole-stage codegen instead of forcing a
  *    per-row interpreted detour (`CodegenFallback`);
  *  - exists because the equivalent built-in formulation is interpreted
  *    (higher-order lambdas) and measurably quadratic or constant-factor
  *    slow in the dedup/similarity hot paths (see Scaladoc per class).
  */

/** 64-bit SimHash over a token array (near-duplicate fingerprinting).
  *
  * For each of 64 bit positions, tokens vote +1/-1 according to the bit of
  * their 64-bit hash; the fingerprint sets bits with a positive tally. Two
  * documents' fingerprints differ in few bits iff their token multisets are
  * similar, so Hamming distance on the result is a near-dup measure that
  * needs only a 4×16-bit band self-join at scale (no n² pairs).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.catalogString}")
  }
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeKernels.simhash64($c)")

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
}

/** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken-style): hash
  * every `k`-byte gram of the input with a polynomial rolling hash, then keep
  * the minimum hash of each `w`-gram window, deduplicated and sorted. The
  * selected hashes form a compact, position-robust fingerprint: documents
  * sharing long substrings share fingerprint hashes.
  *
  * Returns array<bigint>; empty array for inputs shorter than `k` bytes.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprint requires string, got ${other.catalogString}")
  }
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.winnowFingerprint(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeKernels.winnowFingerprint($c, $k, $w)")

  override protected def withNewChildInternal(c: Expression): WinnowFingerprint =
    copy(child = c)
}

/** Distinct word n-gram shingles of a token array: "w1 w2 w3" strings for
  * each sliding window of `n` tokens; inputs shorter than `n` yield one
  * shingle joining all tokens (matching the non-ANSI `concat_ws` +
  * out-of-range `element_at` composition it replaces). First-occurrence
  * order is preserved.
  *
  * Native because the HOF formulation (transform(sequence(...), i ->
  * concat_ws(' ', element_at(ws, i)...))) is interpreted, and Catalyst's
  * project-collapsing can re-inline the tokenizing `split` into every lambda
  * element — re-splitting the document once per shingle term (O(tokens²)
  * regex work observed at sf0.1).
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires array<string>, got ${other.catalogString}")
  }
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.wordShingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeKernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

/** MinHash signature: for each of `k` hash functions, the minimum hash over
  * the token array. One pass per row: each token is base-hashed once, then
  * `k` affine variants (odd multiplier + offset, SplitMix64-derived) update
  * the running minima — O(|tokens|·k) long ops, no per-hash array
  * materialization. The interpreted-HOF formulation of the same thing
  * (transform(sequence(0,k-1), i -> array_min(transform(tokens, t ->
  * xxhash64(t, i))))) costs two lambda dispatches and a k-element array per
  * token and measured ~100× slower at sf0.1.
  *
  * Signature values only need to be a consistent hash family — near-dup
  * recovery is verified against exact Jaccard in the spec suite.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${other.catalogString}")
  }
  override def nullable: Boolean = child.nullable

  // Deterministic per-slot multipliers/offsets (SplitMix64 of the slot index;
  // multiplier forced odd so it is a bijection on Z/2^64).
  @transient private lazy val mults: Array[Long] =
    Array.tabulate(k)(i => NativeKernels.splitmix64(2L * i + 1L) | 1L)
  @transient private lazy val offs: Array[Long] =
    Array.tabulate(k)(i => NativeKernels.splitmix64(2L * i + 2L))

  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.minhashSig(input.asInstanceOf[ArrayData], mults, offs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val multsRef = ctx.addReferenceObj("mults", mults, "long[]")
    val offsRef = ctx.addReferenceObj("offs", offs, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeKernels.minhashSig($c, $multsRef, $offsRef)")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** Dot product of two double arrays — the inner loop of every cosine /
  * distance computation in the similarity family. Native because the
  * functional formulation (aggregate(zip_with(a, b, *), 0.0, +)) allocates a
  * zipped array and dispatches two interpreted lambdas per element; this is
  * a single fused loop over the unsafe array data.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires (array<double>, array<double>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.vecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.NativeKernels.vecDot($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): VecDot = copy(left = l, right = r)
}

/** 32-bit Hilbert curve index of two long coordinates (16 bits each) —
  * the layout key behind `hilbert_layout`. The xy→d conversion is a
  * 16-step loop with data-dependent rotations, which has no bounded
  * Catalyst column form (each unrolled step squares the expression tree),
  * so it runs as a native kernel inside whole-stage codegen — the same
  * justification as [[SimHash64]].
  */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert16 requires (bigint, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.hilbert16(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.NativeKernels.hilbert16($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HilbertIndex = copy(left = l, right = r)
}

/** 63-bit Hilbert curve index of three long coordinates (21 bits each) —
  * the 3-D layout key ([[HilbertIndex]]'s analog of
  * [[graft.operators.Layout.morton21]]). Skilling's transpose-form
  * conversion is a 21-step loop of data-dependent exchanges per axis —
  * no bounded Catalyst column form — so it runs as a native kernel
  * inside whole-stage codegen like the 2-D case.
  */
case class Hilbert3Index(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"hilbert21 requires (bigint, bigint, bigint), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    NativeKernels.hilbert21(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c) => s"graft.functions.NativeKernels.hilbert21($a, $b, $c)")

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): Hilbert3Index =
    copy(first = a, second = b, third = c)
}

/** PQ asymmetric-distance score — approximate inner product of a query
  * against a product-quantized vector: `left` is the query's flattened
  * m×`ksub` lookup table of subspace dot products, `right` the vector's m
  * codes. One fused loop of m table reads per candidate (the whole point of
  * PQ: candidate scoring never touches vector arithmetic).
  */
case class PqScore(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_score requires (array<double>, array<int>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.pqScore(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.NativeKernels.pqScore($a, $b, $ksub)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqScore = copy(left = l, right = r)
}

/** Typed Column constructors, the SQL function table, and shared hashing
  * for graft's native expressions. Library code builds its Columns through
  * the constructors: each wraps the expression directly, so it needs no
  * session setup and leaves the function registry alone. [[register]] and
  * [[GraftExtensions]] bind the same expressions to names for SQL text.
  */
object HashExpressions {

  private[functions] def splitmix64(x: Long): Long = NativeKernels.splitmix64(x)

  private[functions] def hash64(s: UTF8String): Long = NativeKernels.hash64(s)

  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))

  def minhashSig(tokens: Column, k: Int): Column =
    column(MinHashSig(expression(tokens), k))

  def wordShingles(tokens: Column, n: Int): Column =
    column(WordShingles(expression(tokens), n))

  def winnowFingerprint(text: Column, k: Int, w: Int): Column =
    column(WinnowFingerprint(expression(text), k, w))

  def vecDot(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))

  /** Generator: one `(pos, ngram)` row per window; like `posexplode`, it
    * goes in a `select`.
    */
  def ngramGen(tokens: Column, n: Int): Column =
    column(NgramGenerate(expression(tokens), n))

  def pqScore(lut: Column, codes: Column, ksub: Int): Column =
    column(PqScore(expression(lut), expression(codes), ksub))

  def hilbert16(x: Column, y: Column): Column =
    column(HilbertIndex(expression(x), expression(y)))

  def hilbert21(x: Column, y: Column, z: Column): Column =
    column(Hilbert3Index(expression(x), expression(y), expression(z)))

  /** The int value of SQL argument `pos` (1-based) of `fn`: it must be a
    * non-NULL constant, checked at analysis, where the error names both.
    */
  private def intArg(fn: String, e: Seq[Expression], pos: Int): Int = {
    val arg = e(pos - 1)
    val param = s"argument $pos"
    if (!arg.foldable) throw new AnalysisException("NON_FOLDABLE_ARGUMENT",
      Map("funcName" -> fn, "paramName" -> param, "paramType" -> "INT"))
    arg.eval(InternalRow.empty) match {
      case n: Number => n.intValue
      case v => throw new AnalysisException("INVALID_PARAMETER_VALUE.INTEGER",
        Map("parameter" -> param, "functionName" -> fn,
          "invalidValue" -> String.valueOf(v)))
    }
  }

  /** graft's SQL functions as (name, usage, builder): the one table both
    * registration routes — [[register]] and [[GraftExtensions]] — are
    * built from, so they bind the same names to identical expression
    * trees, the same ones the typed constructors above build.
    */
  private[functions] val sqlFunctions
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("simhash64", "simhash64(array<string>) - 64-bit SimHash fingerprint",
      e => SimHash64(e.head)),
    ("minhash_sig",
      "minhash_sig(array<string>, k) - k-minimum MinHash signature",
      e => MinHashSig(e.head, intArg("minhash_sig", e, 2))),
    ("word_shingles",
      "word_shingles(array<string>, n) - distinct word n-grams",
      e => WordShingles(e.head, intArg("word_shingles", e, 2))),
    ("winnow_fingerprint",
      "winnow_fingerprint(string, k, w) - winnowing hashes",
      e => WinnowFingerprint(e.head, intArg("winnow_fingerprint", e, 2),
        intArg("winnow_fingerprint", e, 3))),
    ("vec_dot", "vec_dot(array<double>, array<double>) - dot product",
      e => VecDot(e.head, e(1))),
    ("ngram_gen", "ngram_gen(array<string>, n) - one row per n-gram window",
      e => NgramGenerate(e.head, intArg("ngram_gen", e, 2))),
    ("pq_score",
      "pq_score(array<double>, array<int>, ksub) - PQ ADC inner product",
      e => PqScore(e.head, e(1), intArg("pq_score", e, 3))),
    ("hilbert16", "hilbert16(bigint, bigint) - 32-bit Hilbert curve index",
      e => HilbertIndex(e.head, e(1))),
    ("hilbert21",
      "hilbert21(bigint, bigint, bigint) - 63-bit 3-D Hilbert index",
      e => Hilbert3Index(e.head, e(1), e(2))))

  /** Register every [[sqlFunctions]] entry as a session function, for SQL
    * text (`spark.sql`, `expr`) only: Column code uses the typed
    * constructors and needs no registration. Idempotent.
    * (`GraftExtensions` registers the same table via spark.sql.extensions.)
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // Re-registering logs a "function replaced" WARN per function, so skip
    // when the FULL set is already bound (checking one name as a proxy
    // would skip registration in a session where e.g. an older build bound
    // everything but pq_score).
    if (sqlFunctions.forall { case (n, _, _) =>
        reg.functionExists(FunctionIdentifier(n)) }) return
    sqlFunctions.foreach { case (n, _, build) =>
      reg.createOrReplaceTempFunction(n, build, "built-in")
    }
  }
}
