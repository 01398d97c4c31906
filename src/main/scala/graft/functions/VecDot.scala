package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types._

/** Native codegen'd dot product over `array<double>` columns.
  *
  * The composable form (`zip_with` + `aggregate`, SURVEY.md §2.9) is
  * semantically right but both higher-order functions are CodegenFallback:
  * every element evaluates a closure over boxed values and `zip_with`
  * materializes an intermediate array per row. On the similarity hot path
  * (cosine per candidate pair — millions of rows at bench scale, billions at
  * 100 TB) that interpretation tax dominates the query. This expression
  * generates a tight primitive loop inside whole-stage codegen instead:
  * no closure, no boxing, no intermediate array.
  *
  * Numeric contract: left-to-right double-precision fold, identical IEEE
  * evaluation order to `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)`
  * on equal-length null-free arrays — results are bit-identical to the
  * composed form and to the DuckDB oracle's `list_reduce` fold.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  /** array<float> is accepted natively — widening per element inside the
    * loop is bit-identical to a whole-array cast to array<double>, but a
    * per-pair array<double> materialization (6 of them per cosine) was
    * measured to dominate the similarity hot path. */
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<double|float> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Mismatched lengths or null elements yield NULL — identical to the
    * `aggregate(zip_with(...))` reference form, so a ragged embedding
    * surfaces as missing data instead of a plausible-but-partial score. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = isFloat(left); val rf = isFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getA = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $getA * $getB;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** graft's native functions as Column builders (for the DataFrame API, no
  * session needed), plus `fns`, the SQL names [[GraftExtensions]] injects
  * so `spark.sql("SELECT vec_dot(a, b)")` resolves in every GraftSession. */
object GraftFunctions {

  /** `vec_dot(a, b)` as a Column. Inputs must be float/double arrays —
    * callers with other numeric arrays cast explicitly (int literals widen
    * at construction, e.g. `Similarity.srpBucket`); the expression reads
    * floats natively, so no per-row array<double> cast materializes on the
    * hot path. NOTE the SQL surface is more lenient: the registered builder
    * sees resolved types and coerces non-float/double arrays itself, which
    * this Column path cannot (the Column's type is unknown pre-analysis). */
  def vecDot(a: Column, b: Column): Column =
    shim.column(VecDot(shim.expression(a), shim.expression(b)))

  /** `sorted_intersect_size(a, b)` as a Column — |A ∩ B| of two sorted
    * distinct string arrays (see [[SortedIntersectSize]] for the contract). */
  def sortedIntersectSize(a: Column, b: Column): Column =
    shim.column(SortedIntersectSize(shim.expression(a), shim.expression(b)))

  /** `mask_bit_pairs(m)` as a Column — a ≤63-bit presence mask expanded to
    * its diagonal-inclusive set-bit pairs packed as `ia * 64 + ib` ints
    * (see [[MaskBitPairs]] for the contract and the measured HOF cost it
    * replaces). */
  def maskBitPairs(m: Column): Column =
    shim.column(MaskBitPairs(shim.expression(m)))

  /** `long_vec_dot(a, b)` as a Column — exact integer dot product of two
    * `array<long>` columns (see [[LongVecDot]] for the overflow contract). */
  def longVecDot(a: Column, b: Column): Column =
    shim.column(LongVecDot(shim.expression(a), shim.expression(b)))

  /** `vocab_counts(toks, vocab)` as a Column — per-needle occurrence counts
    * over a token array in one hashed pass (see [[VocabCounts]] for the
    * contract and the interpreted-HOF cost it replaces). */
  def vocabCounts(toks: Column, vocab: Seq[String]): Column =
    shim.column(VocabCounts(shim.expression(toks), vocab))

  /** `hashed_token_counts(toks, B)` as a Column — per-bucket counts over
    * the fixed B-bucket md5 feature hash (see [[HashedTokenCounts]] for
    * the bucket rule and the open-vocabulary contract). */
  def hashedTokenCounts(toks: Column, buckets: Int): Column =
    shim.column(HashedTokenCounts(shim.expression(toks), buckets))

  /** `sq8_pack(qv)` as a Column — SQ8 array<long> → 1-byte-per-dim binary
    * payload (see [[Sq8Pack]] for the range contract). */
  def sq8Pack(qv: Column): Column =
    shim.column(Sq8Pack(shim.expression(qv)))

  /** `sq8_dot(a, b)` as a Column — exact integer dot over two packed SQ8
    * binary payloads (see [[Sq8Dot]]). */
  def sq8Dot(a: Column, b: Column): Column =
    shim.column(Sq8Dot(shim.expression(a), shim.expression(b)))

  /** `prune_sorted_positions(toks, cuts)` as a Column — drop the elements of
    * a string array at the given sorted distinct 0-based positions via an
    * O(n+m) merge walk (see [[PruneSortedPositions]] for the contract). */
  def pruneSortedPositions(toks: Column, cuts: Column): Column =
    shim.column(PruneSortedPositions(shim.expression(toks), shim.expression(cuts)))

  /** `max_stutter_run(toks)` as a Column — longest consecutive-repeat run
    * over a string token array (see [[MaxStutterRun]] for the pinned NULL
    * semantics and the interpreted-HOF cost it replaces). */
  def maxStutterRun(toks: Column): Column =
    shim.column(MaxStutterRun(shim.expression(toks)))

  /** `arg_min_sqdist(x, cents)` as a Column — the centroid id minimizing
    * the exact integer squared distance, ties to the lowest id (see
    * [[ArgMinSqDist]] for the contract). */
  def argMinSqDist(x: Column, cents: Column): Column =
    shim.column(ArgMinSqDist(shim.expression(x), shim.expression(cents)))

  /** `long_vec_sum(x)` as an aggregate Column — elementwise exact integer
    * sum of `array<long>` rows per group (see [[LongVecSum]] for the
    * null/raggedness contract). */
  def longVecSum(x: Column): Column =
    shim.column(LongVecSum(shim.expression(x)).toAggregateExpression())

  /** Casts args so `vec_dot(array<int>, ...)` works from SQL and the
    * Column API alike; float/double arrays are left alone. */
  private[functions] def toVecType(e: Expression): Expression = e.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => e
    case _ => Cast(e, ArrayType(DoubleType))
  }

  private[functions] val fns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => VecDot(toVecType(args(0)), toVecType(args(1)))),
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => {
        if (args.length != 2) throw new IllegalArgumentException(
          s"minhash_signature(shingles, k) takes 2 arguments, got ${args.length}")
        val kExpr = args(1)
        val k =
          if (kExpr.foldable && kExpr.dataType == IntegerType)
            kExpr.eval().asInstanceOf[Int]
          else throw new IllegalArgumentException(
            s"minhash_signature k must be a foldable int, got $kExpr")
        if (k < 1 || k > MinHashSignature.MaxK) throw new IllegalArgumentException(
          s"minhash_signature k must be in [1, ${MinHashSignature.MaxK}], got $k")
        MinHashSignature(args(0), k, MinHashSignature.P)
      }),
    (FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
      (args: Seq[Expression]) => SortedIntersectSize(args(0), args(1))),
    (FunctionIdentifier("mask_bit_pairs"),
      new ExpressionInfo(classOf[MaskBitPairs].getName, "mask_bit_pairs"),
      (args: Seq[Expression]) => MaskBitPairs(args.head)),
    (FunctionIdentifier("long_vec_dot"),
      new ExpressionInfo(classOf[LongVecDot].getName, "long_vec_dot"),
      (args: Seq[Expression]) => {
        // SQL surface coerces integral arrays to array<long>; the Column
        // API takes array<long> only (pre-analysis types are unknown there)
        def toLongArr(a: Expression) = a.dataType match {
          case ArrayType(LongType, _) => a
          case _ => Cast(a, ArrayType(LongType))
        }
        LongVecDot(toLongArr(args(0)), toLongArr(args(1)))
      }),
    (FunctionIdentifier("sorted_pairs"),
      new ExpressionInfo(classOf[SortedPairs].getName, "sorted_pairs"),
      (args: Seq[Expression]) => SortedPairs(args.head)),
    (FunctionIdentifier("max_stutter_run"),
      new ExpressionInfo(classOf[MaxStutterRun].getName, "max_stutter_run"),
      (args: Seq[Expression]) => MaxStutterRun(args.head)),
    (FunctionIdentifier("prune_sorted_positions"),
      new ExpressionInfo(classOf[PruneSortedPositions].getName, "prune_sorted_positions"),
      (args: Seq[Expression]) => PruneSortedPositions(args(0), args(1))),
    (FunctionIdentifier("arg_min_sqdist"),
      new ExpressionInfo(classOf[ArgMinSqDist].getName, "arg_min_sqdist"),
      (args: Seq[Expression]) => ArgMinSqDist(args(0), args(1))),
    (FunctionIdentifier("long_vec_sum"),
      new ExpressionInfo(classOf[LongVecSum].getName, "long_vec_sum"),
      (args: Seq[Expression]) => LongVecSum(args.head).toAggregateExpression()),
    (FunctionIdentifier("normalize_text"),
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      (args: Seq[Expression]) => NormalizeText(args.head)),
    (FunctionIdentifier("token_class_counts"),
      new ExpressionInfo(classOf[TokenClassCounts].getName, "token_class_counts"),
      (args: Seq[Expression]) => TokenClassCounts(args.head)),
    (FunctionIdentifier("vocab_counts"),
      new ExpressionInfo(classOf[VocabCounts].getName, "vocab_counts"),
      (args: Seq[Expression]) => {
        if (args.length != 2) throw new IllegalArgumentException(
          s"vocab_counts(toks, vocab) takes 2 arguments, got ${args.length}")
        val v = args(1)
        // the vocabulary is the model: a fixed plan literal, bound once as
        // a hash map — not a per-row column (minhash_signature's pattern)
        val okType = v.dataType match {
          case ArrayType(StringType, _) => true
          case _ => false
        }
        if (!v.foldable || !okType) throw new IllegalArgumentException(
          "vocab_counts vocab must be a foldable array<string> literal")
        val arr = v.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        // the vocab IS the model: a NULL array, NULL elements, or duplicate
        // needles all violate the contract (duplicates would silently
        // diverge from the HOF form — putIfAbsent counts only the first
        // slot) — raise the contract error, not an NPE downstream
        if (arr == null) throw new IllegalArgumentException(
          "vocab_counts vocab must be a non-null array<string> literal with no null elements")
        val vocab = (0 until arr.numElements()).map { i =>
          val s = arr.getUTF8String(i)
          if (s == null) throw new IllegalArgumentException(
            "vocab_counts vocab must be a non-null array<string> literal with no null elements")
          s.toString
        }
        if (vocab.distinct.length != vocab.length)
          throw new IllegalArgumentException(
            "vocab_counts vocab must not contain duplicate entries " +
              "(duplicate slots would always count 0, diverging from the HOF form)")
        VocabCounts(args(0), vocab)
      }),
    (FunctionIdentifier("hashed_token_counts"),
      new ExpressionInfo(classOf[HashedTokenCounts].getName, "hashed_token_counts"),
      (args: Seq[Expression]) => {
        if (args.length != 2) throw new IllegalArgumentException(
          s"hashed_token_counts(toks, buckets) takes 2 arguments, got ${args.length}")
        val b = args(1)
        val buckets = (if (b.foldable) Option(b.eval()) else None) match {
          case Some(i: Int) => i
          case Some(l: Long) => l.toInt
          case _ => throw new IllegalArgumentException(
            "hashed_token_counts buckets must be a foldable non-null integer literal")
        }
        HashedTokenCounts(args(0), buckets)
      }),
    (FunctionIdentifier("sq8_pack"),
      new ExpressionInfo(classOf[Sq8Pack].getName, "sq8_pack"),
      (args: Seq[Expression]) => Sq8Pack(args.head)),
    (FunctionIdentifier("sq8_dot"),
      new ExpressionInfo(classOf[Sq8Dot].getName, "sq8_dot"),
      (args: Seq[Expression]) => Sq8Dot(args(0), args(1))),
    (FunctionIdentifier("zorder_code"),
      new ExpressionInfo(classOf[ZOrderCode].getName, "zorder_code"),
      (args: Seq[Expression]) =>
        // SQL surface coerces integral codes to long; the Column API takes
        // LongType only (pre-analysis types are unknown there)
        ZOrderCode(args.map(a => a.dataType match {
          case LongType => a
          case _ => Cast(a, LongType)
        }))))
}

/** The library's one extension surface: the native SQL functions (`fns`)
  * and the [[graft.plans.TopKStrategy]] planner, injected when a session is
  * built and never changed afterwards. Every `GraftSession` is built with
  * it; a session built elsewhere adds `.withExtensions(new GraftExtensions)`
  * to its builder or sets
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
