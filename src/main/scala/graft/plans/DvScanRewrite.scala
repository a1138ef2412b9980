package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, GetStructField, Not, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{DvParquetFileFormat, MappedParquetFileFormat}

/** RE-VECTORIZE deletion-vector scans (round 10, the last real DV
  * performance cliff): a graft-delta snapshot carrying live deletion
  * vectors plans its relation through [[DvParquetFileFormat]], whose
  * row-based reader (`supportBatch=false`, no pushdown on vectored
  * files) keeps a physical-position counter aligned with the sidecar
  * bitmap. Correct — but on a 100 TB table between OPTIMIZE runs,
  * EVERY read of the relation pays row-based scans because ONE file
  * somewhere carries a vector.
  *
  * This rule (injected via [[graft.GraftExtensions]], same seam as
  * [[MetadataOnlyCount]]) rewrites the logical scan into the shape
  * stock Delta uses: a fully VECTORIZED parquet scan that exposes the
  * reader-generated `_metadata.row_index` — the TRUE physical row
  * index, computed from parquet row-group metadata, so it stays
  * correct under filter pushdown AND file splitting — with a
  * codegen'd filter above it dropping rows the broadcast-small bitmap
  * marks dead:
  *
  * {{{
  * Project(original output,
  *   Filter(NOT dv_row_deleted(_metadata.file_path, _metadata.row_index),
  *     LogicalRelation(vectorized parquet + _metadata)))
  * }}}
  *
  * Consequences at scale: the scan plans `Batched: true` for the
  * whole relation, pushdown filters reach the parquet reader again
  * (row-group pruning on vectored files included), vectored files
  * split normally, and ONLY rows of vectored files pay the per-row
  * bitmap probe (a cached-per-file binary search in whole-stage
  * codegen; files without a vector miss the map once per file).
  *
  * Sessions built WITHOUT the extension keep the row-based
  * [[DvParquetFileFormat]] path — correctness never depends on this
  * rule; DeltaSpec asserts both paths agree.
  */
object DvScanRewrite extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case l: LogicalRelation if dvFormatOf(l).isDefined =>
      val fs = l.relation.asInstanceOf[HadoopFsRelation]
      val dvFmt = dvFormatOf(l).get
      // swap in the vectorized format this table would use with no
      // live vectors (also what stops this rule re-matching its own
      // output in the fixed-point batch)
      val plain =
        if (dvFmt.l2p.exists { case (lg, ph) => lg != ph })
          new MappedParquetFileFormat(dvFmt.l2p)
        else new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat
      val vectored = l.copy(relation =
        fs.copy(fileFormat = plain)(fs.sparkSession))
      val withMeta = vectored.withMetadataColumns()
      val rewritten = for {
        meta <- withMeta.output.find(_.name == "_metadata")
        st = meta.dataType.asInstanceOf[StructType]
        fpOrd = st.fieldNames.indexOf("file_path")
        riOrd = st.fieldNames.indexOf("row_index")
        if fpOrd >= 0 && riOrd >= 0
      } yield Project(l.output.map(a => a: org.apache.spark.sql.catalyst
          .expressions.NamedExpression),
        Filter(Not(DvRowDeleted(new DvLookup(dvFmt.dvs),
            GetStructField(meta, fpOrd, Some("file_path")),
            GetStructField(meta, riOrd, Some("row_index")))),
          withMeta))
      // metadata columns unavailable (e.g. a user column shadows
      // `_metadata`): keep the row-based format — correct, just slower
      rewritten.getOrElse(l)
  }

  private def dvFormatOf(l: LogicalRelation): Option[DvParquetFileFormat] =
    l.relation match {
      case fs: HadoopFsRelation => fs.fileFormat match {
        case dv: DvParquetFileFormat => Some(dv)
        case _ => None
      }
      case _ => None
    }
}

/** Per-task bitmap prober: caches the last file's vector so the
  * common case (a long run of rows from one file, most files
  * unvectored) costs one cached-null check per row. The map is
  * log-sized — one sorted int array per VECTORED file, total bytes =
  * 4 x deleted rows — and ships once per task via the codegen
  * reference object, same footprint class as the row-based path's
  * broadcast. Path-keyed via [[graft.sources.DvMap]] (round 10 — no
  * basename collisions). */
final class DvLookup(dvs: graft.sources.DvMap) extends Serializable {
  @transient private var lastFile: UTF8String = _
  @transient private var lastArr: Array[Int] = _
  @transient private var primed: Boolean = false

  def deleted(file: UTF8String, idx: Long): Boolean = {
    if (!primed || lastFile == null || !lastFile.equals(file)) {
      // clone: vectorized readers may reuse the backing buffer of the
      // constant metadata UTF8String across batches
      lastFile = file.clone()
      lastArr = dvs.vectorFor(file.toString)
      primed = true
    }
    (lastArr ne null) && idx <= Int.MaxValue &&
      java.util.Arrays.binarySearch(lastArr, idx.toInt) >= 0
  }
}

/** `dv_row_deleted(file_path, row_index)` — true iff the deletion
  * vector of the row's file marks the row dead. Codegen'd (a direct
  * call on the task-local [[DvLookup]] inside whole-stage codegen);
  * never null — unknown files are simply not deleted. */
case class DvRowDeleted(lookup: DvLookup, file: Expression, idx: Expression)
    extends BinaryExpression with Predicate {
  override def left: Expression = file
  override def right: Expression = idx
  override def nullable: Boolean = false
  override def prettyName: String = "dv_row_deleted"

  override def eval(input: InternalRow): Any = {
    val f = file.eval(input)
    val i = idx.eval(input)
    f != null && i != null &&
      lookup.deleted(f.asInstanceOf[UTF8String], i.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvLookup", lookup,
      classOf[DvLookup].getName)
    val f = file.genCode(ctx)
    val i = idx.genCode(ctx)
    ev.copy(code = code"""
      ${f.code}
      ${i.code}
      boolean ${ev.value} = !${f.isNull} && !${i.isNull} &&
        $ref.deleted(${f.value}, ${i.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvRowDeleted =
    copy(file = newLeft, idx = newRight)
}
