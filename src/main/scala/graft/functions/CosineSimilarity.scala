package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two float-vector columns.
  *
  * Why a custom Catalyst Expression (SURVEY.md §2.10 E3 scale path):
  * the built-in formulation `aggregate(zip_with(a, b, …), …)` is a
  * higher-order function — Spark evaluates those via CodegenFallback,
  * i.e. an interpreted lambda per element, per row, with a boxed
  * closure call. For an O(|Q|·|corpus|·dim) ANN inner loop that is the
  * whole runtime. This expression emits a tight primitive `for` loop
  * inside whole-stage codegen instead: no allocation, no virtual
  * calls, auto-vectorizable by the JIT.
  *
  * Arithmetic is IDENTICAL to the built-in version (cast each float
  * to double, fold left-to-right: dot, |a|², |b|², then
  * dot / (√|a|²·√|b|²)) so swapping it in changes nothing in query
  * results or oracle comparisons — bit-for-bit.
  *
  * Null semantics: null if either array is null (BinaryExpression
  * default) OR if any compared element is null (matching the built-in
  * zip_with/aggregate fold, which goes null — not 0.0 — on a null
  * element); mismatched / empty vectors yield NaN via 0-division,
  * matching the built-in fold on empty arrays.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects two array<float> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  /** Beyond the input columns being null, a null ELEMENT also nulls
    * the result — so the expression is nullable whenever either array
    * type admits null elements. Without this, codegen would emit
    * `ev.isNull` as a constant false and the element-null branch could
    * not compile. */
  override def nullable: Boolean =
    left.nullable || right.nullable ||
      Seq(left, right).exists(_.dataType match {
        case ArrayType(_, containsNull) => containsNull
        case _ => false
      })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // a null element nulls the whole result — matching the built-in
      // zip_with/aggregate formulation (whose fold goes null) instead
      // of silently reading 0.0f from the null slot
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val anyNull = ctx.freshName("anyNull")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |boolean $anyNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { $anyNull = true; break; }
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |if ($anyNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Session-scoped registration so SQL/expr() can call the native
  * functions. Idempotent — safe to call from every query builder: each
  * name is written only when the session's registry lacks it, so a
  * session whose [[graft.GraftExtensions]] already installed the
  * functions, or an earlier call, is left as it is. */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def define(name: String, build: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    define("graft_cosine",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_cosine requires exactly 2 arguments, got ${exprs.length}")
        CosineSimilarity(exprs.head, exprs(1))
      })
    define("graft_shingles",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_shingles requires exactly 2 arguments, got ${exprs.length}")
        val n = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_shingles n must be an integer literal, got $other")
        }
        WordShingles(exprs.head, n)
      })
    define("graft_sorted_overlap",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_sorted_overlap requires exactly 2 arguments, got ${exprs.length}")
        SortedOverlap(exprs.head, exprs(1))
      })
    define("graft_hyperplane_bits",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_hyperplane_bits requires exactly 2 arguments, got ${exprs.length}")
        val n = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_hyperplane_bits nPlanes must be an integer literal, got $other")
        }
        HyperplaneBits(exprs.head, n)
      })
    define("graft_project",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_project requires exactly 2 arguments, got ${exprs.length}")
        val n = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_project k must be an integer literal, got $other")
        }
        RandomProjection(exprs.head, n)
      })
    define("graft_ahash",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_ahash requires exactly 1 argument, got ${exprs.length}")
        AHash(exprs.head)
      })
    define("graft_nfc",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_nfc requires exactly 1 argument, got ${exprs.length}")
        NfcNormalize(exprs.head)
      })
    define("graft_simhash_agg",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_simhash_agg requires exactly 1 argument, got ${exprs.length}")
        SimHashAgg(exprs.head).toAggregateExpression()
      })
    def intLit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    define("graft_bloom_agg",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"graft_bloom_agg requires exactly 3 arguments, got ${exprs.length}")
        BloomFilterAgg(exprs.head, intLit(exprs(1), "graft_bloom_agg mBits"),
          intLit(exprs(2), "graft_bloom_agg k")).toAggregateExpression()
      })
    define("graft_bloom_contains",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"graft_bloom_contains requires exactly 3 arguments, got ${exprs.length}")
        BloomContains(exprs.head, exprs(1),
          intLit(exprs(2), "graft_bloom_contains k"))
      })
  }
}
