package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the embedding hot path
  * (SURVEY.md §2.3 L5–L7).
  *
  * The composable form — `aggregate(zip_with(a, b, *), 0.0, +)` — is a
  * HigherOrderFunction: evaluated per element with interpreted lambda
  * dispatch, outside whole-stage codegen. These expressions generate a
  * tight Java loop instead (doGenCode), with identical left-to-right
  * summation order, so results are bit-identical to the fold and to
  * the DuckDB oracle's list functions after round(…, 6).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** cosine(a,b) = dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))) in ONE pass —
  * same formula as VectorOps.cosine's three-fold form. */
case class VecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      d += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $d += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
    copy(left = l, right = r)
}

/** Integer dot product over two array<tinyint> (int8) vectors — the
  * scalar-quantized ANN coarse scorer. Exact long arithmetic (no FP),
  * so the score is bit-identical to the oracle's list_inner_product
  * over the same quantized values. The fold form
  * (`aggregate(zip_with(...))`) evaluates interpreted; this is a
  * codegen'd loop over the packed byte arrays. Ragged inputs truncate
  * to the shorter length — the whole VecDot family's convention
  * (same-dimension vectors are the caller's schema contract; the
  * DuckDB oracle errors on ragged lists instead, so a drifted schema
  * surfaces at verify time). */
case class VecDotI8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot_i8"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(ByteType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<tinyint> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getByte(i).toLong * y.getByte(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (long) $a.getByte($i) * $b.getByte($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotI8 =
    copy(left = l, right = r)
}

/** Static eval helper for [[Md5Words]] — a top-level object WITHOUT a
  * companion class, so scalac emits true static forwarders and the
  * generated Java can call `graft.functions.Md5Hash.words(x)`
  * directly. One thread-local MessageDigest per executor thread: the
  * shingle family hashes hundreds of grams per document, and a
  * per-call getInstance lookup was measurable at that rate. */
object Md5Hash {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** The first two 32-bit words of md5(s) as [h1, h2] — numerically
    * identical to `conv(substring(md5(s), 1, 8), 16, 10)` /
    * `conv(substring(md5(s), 9, 8), 16, 10)` (big-endian unsigned over
    * digest bytes 0–3 / 4–7), skipping the 32-char hex encode and the
    * two substring+conv string round-trips. */
  def words(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val d = md.get(); d.reset()
    val g = d.digest(s.getBytes)
    val h1 = ((g(0) & 0xffL) << 24) | ((g(1) & 0xffL) << 16) |
      ((g(2) & 0xffL) << 8) | (g(3) & 0xffL)
    val h2 = ((g(4) & 0xffL) << 24) | ((g(5) & 0xffL) << 16) |
      ((g(6) & 0xffL) << 8) | (g(7) & 0xffL)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(h1, h2))
  }
}

/** `md5_words(s)` → ARRAY<BIGINT> [h1, h2]: the two 32-bit md5 words
  * the whole minhash/shingle family keys on (SURVEY §4's portable-hash
  * rule derives every LSH key from md5). The composable form —
  * `conv(substring(md5(s), 1, 8), 16, 10)` — pays a 32-char hex
  * encode, two substring allocations, and two radix parses per
  * shingle ON TOP of the digest; at ~500 shingles/doc that round-trip
  * was the largest CPU line in the r15 suite (text_ngram_jaccard:
  * 30.9 s executor CPU for 1.9 s wall). This expression digests the
  * UTF8 bytes and emits the two longs directly; values are
  * bit-identical to the conv form (spec-asserted), so every consumer
  * keeps its DuckDB oracle unchanged. */
case class Md5Words(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_words"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(s: Any): Any =
    Md5Hash.words(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Hash.words($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Words =
    copy(child = newChild)
}

object VecExpressions {
  /** Register vec_dot / vec_cosine / vec_dot_i8 in the session's
    * function registry (idempotent) so Column code can reach them via
    * call_function. Also exposes Spark's own bloom-filter pair
    * (`bloom_filter_agg` build side, `might_contain` probe side): the
    * expressions ship in catalyst — they power AQE's runtime filters —
    * but live in the INTERNAL function registry, invisible to SQL;
    * re-registering them here makes the pair usable from expr() for
    * the decontamination bloom pre-filter. */
  def register(spark: SparkSession): Unit = {
    // shingle-family fused forms (r16 optimization): trailing args are
    // required to be foldable integer literals — they parameterize the
    // generated code, not the data path
    def litInt(e: Expression): Int = {
      require(e.foldable, s"expected a literal int argument, got $e")
      e.eval().asInstanceOf[Number].intValue
    }
    def litLong(e: Expression): Long = {
      require(e.foldable, s"expected a literal long argument, got $e")
      e.eval().asInstanceOf[Number].longValue
    }
    val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
      "vec_dot" -> (exprs => VecDot(exprs(0), exprs(1))),
      "vec_cosine" -> (exprs => VecCosine(exprs(0), exprs(1))),
      "vec_dot_i8" -> (exprs => VecDotI8(exprs(0), exprs(1))),
      "md5_words" -> (exprs => Md5Words(exprs(0))),
      "shingle_words" -> (exprs => ShingleWords(exprs(0), litInt(exprs(1)), litInt(exprs(2)))),
      "shingle_keys" -> (exprs => ShingleKeys(exprs(0), litInt(exprs(1)), litInt(exprs(2)))),
      "minhash_sigs" -> (exprs => MinhashSigs(exprs(0), litInt(exprs(1)), litLong(exprs(2)))),
      "bloom_filter_agg" -> (exprs =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(exprs(0))),
      "might_contain" -> (exprs =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))))
    // once per session: a name already in the registry (an earlier
    // call, or GraftExtensions) is kept — replacing it on every query
    // logged a "replaced a previously registered function" warning
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
