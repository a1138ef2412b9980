package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native codegen'd |A ∩ B| for two SORTED long arrays — the dedup
  * family's Jaccard-verify kernel.
  *
  * Why: the verify stage computes `size(array_intersect(a, b))` once
  * per candidate pair; the built-in builds a hash set of one side PER
  * ROW and probes the other — allocation plus hashing in the innermost
  * loop of a 310k-pair join (measured 5.5 s of q31's sf0.1 runtime,
  * its single largest stage). Both arrays come from
  * [[WordShingles]]/[[WordShinglesUtil]], which emits them in
  * ASCENDING order precisely so this expression can count the overlap
  * with a two-pointer merge: O(|A|+|B|), zero allocation, branch-
  * predictable, inside whole-stage codegen.
  *
  * CONTRACT: inputs are ascending-sorted arrays of non-null longs with
  * no duplicates (shingle SETS). On unsorted input the count would be
  * wrong — the producer owns the invariant and DedupSpec pins it
  * (sortedness asserted + equality with `size(array_intersect(…))` on
  * the production arrays). Null ARRAY → null (BinaryExpression
  * default). A null ELEMENT nulls the result too (the function is
  * session-registered and reachable from arbitrary SQL, where
  * getLong on a null slot would read garbage); the per-element check
  * runs only when the input's STATIC type admits null elements (a
  * constant flag to [[SortedOverlap.merge]], the one merge loop both
  * evaluation paths call). */
case class SortedOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_overlap expects two array<bigint> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_overlap"

  /** Does either input's static type admit null elements? Only then do
    * the loops pay a per-element null check. Constant for the
    * expression's lifetime — lazy val so the interpreted path doesn't
    * re-derive it per evaluated row. */
  private lazy val mayHaveNullElems: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, cn) => cn
      case _ => false
    })

  override def nullable: Boolean =
    left.nullable || right.nullable || mayHaveNullElems

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val c = SortedOverlap.merge(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], mayHaveNullElems)
    if (c < 0) null else c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val c = ctx.freshName("c")
      s"""
         |int $c = graft.functions.SortedOverlap$$.MODULE$$.merge($x, $y, $mayHaveNullElems);
         |if ($c < 0) { ${ev.isNull} = true; } else { ${ev.value} = $c; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlap =
    copy(left = newLeft, right = newRight)
}

object SortedOverlap {

  /** |x ∩ y| for two ascending long arrays by a two-pointer merge:
    * O(|x|+|y|), no allocation. With `checkNulls`, a null element makes
    * the result -1. The one merge of the dedup family: the expression's
    * interpreted and generated paths call it, and so does the
    * incremental near-dup probe
    * ([[graft.operators.DedupOps.incrementalNearDupsFrom]]). */
  def merge(x: ArrayData, y: ArrayData, checkNulls: Boolean): Int = {
    var i = 0; var j = 0; var c = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(j))) return -1
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }
}
