package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, QuaternaryExpression}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType, FloatType, IntegerType, StringType}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Codegen'd dot product over embedding columns.
  *
  * The similarity/near-dup operators originally used
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`: higher-order functions are
  * `CodegenFallback`, so every row paid interpreted lambda dispatch ×
  * dimension. This native `Expression` participates in whole-stage codegen
  * — one tight `for` loop per row, no allocation — the (b)-tier of the
  * custom-operator preference order (compose > Expression > custom plan).
  *
  * Accepts float or double arrays; accumulation is always double in index
  * order, which keeps results bit-identical to the previous HOF form and
  * to the DuckDB oracle's `list_dot_product` on double lists.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects ARRAY<FLOAT|DOUBLE> args, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xf = elemIsFloat(left); val yf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // fresh locals: spliced into a shared generated-function scope where
      // bare `i`/`n` may already exist (janino rejects shadowing)
      val n = ctx.freshName("dotN")
      val acc = ctx.freshName("dotAcc")
      val i = ctx.freshName("dotI")
      val getX = if (elemIsFloat(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val getY = if (elemIsFloat(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $acc += $getX * $getY; }
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd Bloom-filter membership probe:
  * `graft_bloom_test(bits BINARY, positions ARRAY<INT>)` — true iff EVERY
  * bit position in the array is set in the packed bitmask (bit p lives at
  * byte p>>>3, bit p&7). The bitmask is a plan-time literal (built once
  * from the tiny eval side, ≤ m bits regardless of corpus size), so the
  * probe runs inside whole-stage codegen with zero allocation — the same
  * (b)-tier Expression rationale as [[DotProduct]]. A bloom test has no
  * false negatives by construction, which is what lets
  * [[graft.operators.Bloom]] prefilter an exact join without changing its
  * result. */
case class BloomTest(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_test expects (BINARY, ARRAY<INT>), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_bloom_test"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val bytes = a.asInstanceOf[Array[Byte]]
    val ps = b.asInstanceOf[ArrayData]
    var i = 0
    var all = true
    val n = ps.numElements()
    while (all && i < n) {
      val p = ps.getInt(i)
      if (((bytes(p >>> 3) >> (p & 7)) & 1) == 0) all = false
      i += 1
    }
    all
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bits, ps) => {
      // fresh locals: this code is spliced into a shared generated function
      // scope where bare `i`/`n` may already exist (janino rejects shadowing)
      val all = ctx.freshName("bloomAll")
      val n = ctx.freshName("bloomN")
      val i = ctx.freshName("bloomI")
      val p = ctx.freshName("bloomP")
      s"""
         |boolean $all = true;
         |int $n = $ps.numElements();
         |for (int $i = 0; $all && $i < $n; $i++) {
         |  int $p = $ps.getInt($i);
         |  if ((($bits[$p >>> 3] >> ($p & 7)) & 1) == 0) $all = false;
         |}
         |${ev.value} = $all;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): BloomTest =
    copy(left = newLeft, right = newRight)
}

/** Fused Bloom probe:
  * `graft_bloom_might(bits BINARY, key STRING, k INT, m INT)` — md5 the
  * key ONCE (thread-local digest), derive the k Kirsch–Mitzenmacher
  * positions (h1 + j·h2 mod m over the digest's two leading 32-bit
  * words), and test the packed mask, all in one compiled call per row.
  * Semantically identical to `graft_bloom_test(bits, positions(key))`
  * (BloomSpec pins the equivalence) but without the interpreted
  * higher-order `transform` + hex/conv machinery in the corpus-side hot
  * path — the same HOF-to-kernel move as graft_minhash/graft_dot. */
case class BloomMight(bits: Expression, key: Expression,
                      kExpr: Expression, mExpr: Expression)
    extends QuaternaryExpression {

  override def first: Expression = bits
  override def second: Expression = key
  override def third: Expression = kExpr
  override def fourth: Expression = mExpr

  override def checkInputDataTypes(): TypeCheckResult =
    (bits.dataType, key.dataType, kExpr.dataType, mExpr.dataType) match {
      case (BinaryType, StringType, IntegerType, IntegerType)
        if kExpr.foldable && mExpr.foldable => TypeCheckResult.TypeCheckSuccess
      case (b, s, k, m) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_might expects (BINARY, STRING, INT literal, INT literal), " +
          s"got ${b.sql}, ${s.sql}, ${k.sql}, ${m.sql}")
    }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_bloom_might"

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    TextHashUtil.bloomMight(a.asInstanceOf[Array[Byte]], b.toString,
      c.asInstanceOf[Int], d.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, s, k, m) =>
      s"${ev.value} = graft.functions.TextHashUtil.bloomMight($b, $s.toString(), $k, $m);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): BloomMight =
    copy(bits = newFirst, key = newSecond, kExpr = newThird, mExpr = newFourth)
}

/** Merge kernels over SORTED arrays — the verify step of the
  * set-/multiset-similarity joins ([[graft.operators.SimJoin]]). Both are
  * exact streams over two sorted inputs: one comparison per element, no
  * hashing, no allocation. PRECONDITION (callers guarantee it with
  * `sort_array` at leaf build): inputs are sorted ascending by the
  * UTF8String binary order `sort_array` itself uses, and set inputs are
  * distinct. SimJoinSpec pins equivalence to the declarative forms. */
object SetOpsUtil {
  /** True when each terms array is exactly as long as its tfs array, the
    * only shape [[minMass]] may read: `graft_min_mass` is NULL otherwise,
    * so a malformed row never indexes past a tfs array's end. */
  def aligned(ta: ArrayData, fa: ArrayData, tb: ArrayData, fb: ArrayData): Boolean =
    ta.numElements() == fa.numElements() && tb.numElements() == fb.numElements()

  /** Σ_t least(tf_a, tf_b) over terms present in BOTH sorted (terms, tfs)
    * pairs — the exact weighted-intersection mass. Callers check
    * [[aligned]] first. */
  def minMass(ta: ArrayData, fa: ArrayData, tb: ArrayData, fb: ArrayData): Long = {
    val n = ta.numElements(); val m = tb.numElements()
    var i = 0; var j = 0; var s = 0L
    while (i < n && j < m) {
      val cmp = ta.getUTF8String(i).compareTo(tb.getUTF8String(j))
      if (cmp == 0) {
        s += math.min(fa.getLong(i), fb.getLong(j)); i += 1; j += 1
      } else if (cmp < 0) i += 1
      else j += 1
    }
    s
  }
}

/** `graft_min_mass(terms_a, tfs_a, terms_b, tfs_b)` —
  * [[SetOpsUtil.minMass]] as a codegen'd Expression: the HOF forms pay
  * interpreted lambda dispatch per element; this is one merge pass per
  * row inside whole-stage codegen (the [[DotProduct]] rationale). NULL
  * when either side's terms and tfs arrays differ in length. */
case class SortedMinMass(ta: Expression, fa: Expression,
                         tb: Expression, fb: Expression)
    extends QuaternaryExpression {

  override def first: Expression = ta
  override def second: Expression = fa
  override def third: Expression = tb
  override def fourth: Expression = fb

  override def checkInputDataTypes(): TypeCheckResult =
    (ta.dataType, fa.dataType, tb.dataType, fb.dataType) match {
      case (ArrayType(StringType, _), ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(StringType, _), ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"graft_min_mass expects (ARRAY<STRING>, ARRAY<BIGINT>) × 2, got " +
          s"${a.sql}, ${b.sql}, ${c.sql}, ${d.sql}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_min_mass"

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val (xa, xb, xc, xd) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])
    if (SetOpsUtil.aligned(xa, xb, xc, xd)) SetOpsUtil.minMass(xa, xb, xc, xd)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"""
         |if (graft.functions.SetOpsUtil.aligned($a, $b, $c, $d)) {
         |  ${ev.value} = graft.functions.SetOpsUtil.minMass($a, $b, $c, $d);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SortedMinMass =
    copy(ta = newFirst, fa = newSecond, tb = newThird, fb = newFourth)
}

/** The graft SQL functions, listed once: [[GraftExtensions]] registers
  * every entry on every session ([[graft.GraftSession]] installs the
  * extension), so no operator registers functions itself. */
object GraftFunctions {
  // ExpressionInfo's full constructor: (class, db, name, usage, then seven
  // documentation fields left empty)
  private def fn(name: String, cls: Class[_], usage: String = null)(
      build: FunctionBuilder): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
     new ExpressionInfo(cls.getName, null, name, usage, "", "", "", "", "", "", ""),
     build)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_dot", classOf[DotProduct])(e => DotProduct(e(0), e(1))),
    fn("graft_shingles", classOf[ShingleSet])(e => ShingleSet(e(0))),
    fn("graft_minhash", classOf[MinHashSig])(e => MinHashSig(e(0), e(1))),
    fn("graft_minhash_arr", classOf[MinHashSigArr])(e => MinHashSigArr(e(0), e(1))),
    fn("graft_simhash", classOf[SimHash16])(e => SimHash16(e(0))),
    fn("graft_simhash64", classOf[SimHash64])(e => SimHash64(e(0))),
    fn("graft_bloom_test", classOf[BloomTest])(e => BloomTest(e(0), e(1))),
    fn("graft_bloom_might", classOf[BloomMight])(
      e => BloomMight(e(0), e(1), e(2), e(3))),
    fn("graft_nfc", classOf[NfcNormalize])(e => NfcNormalize(e(0))),
    fn("graft_min_mass", classOf[SortedMinMass],
      "_FUNC_(terms_a, tfs_a, terms_b, tfs_b) - Sum of least(tf_a, tf_b) " +
        "over the terms present in both (terms, tfs) pairs. Each terms " +
        "array must be sorted ascending in sort_array's binary string " +
        "order with no repeats; the result is undefined otherwise. " +
        "Returns NULL when a terms array and its tfs array differ in length.")(
      e => SortedMinMass(e(0), e(1), e(2), e(3))),
    fn("graft_gram", classOf[GramMatrix])(
      e => GramMatrix(e(0), e(1)).toAggregateExpression()),
    fn(graft.plans.BoundLiteral.Name, classOf[graft.plans.BoundLiteral],
      "_FUNC_(literal) - The literal, with its value read from the plan's " +
        "references instead of being written into generated code.")(
      graft.plans.BoundLiteral.build))
}

/** `spark.sql.extensions=graft.functions.GraftExtensions`: injects every
  * [[GraftFunctions]] entry plus [[graft.plans.KeysetBoundRule]]. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // SURVEY §7.2's optional Catalyst rule: derive pushable leading-column
    // bounds from keyset OR-chain filters (see KeysetBoundRule scaladoc).
    ext.injectOptimizerRule(_ => graft.plans.KeysetBoundRule)
  }
}
