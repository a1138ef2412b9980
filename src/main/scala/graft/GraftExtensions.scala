package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{AHash, BloomContains, BloomFilterAgg, CosineSimilarity, HyperplaneBits, RandomProjection, SimHashAgg, SortedOverlap, WordShingleSeq, WordShingles}

/** SparkSessionExtensions entry point: makes the engine's native
  * functions first-class session citizens, so
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * gives every session `graft_cosine` in SQL, `expr()`, and views —
  * no imperative registration call (the per-query
  * `GraftFunctions.register` remains as a fallback for sessions built
  * without the extension). This is the idiomatic injection seam for
  * everything Catalyst-level the engine adds later (rules,
  * strategies, planner hooks).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // COUNT(*) on a graft-delta table answers from the transaction
    // log's per-file stats with zero data I/O (see MetadataOnlyCount)
    ext.injectOptimizerRule(_ => graft.plans.MetadataOnlyCount)
    // a snapshot carrying live deletion vectors re-plans as a fully
    // VECTORIZED scan + codegen'd row_index bitmap filter instead of
    // the row-based DvParquetFileFormat fallback (see DvScanRewrite;
    // injected AFTER MetadataOnlyCount so COUNT(*) over a vectored
    // table still answers from the log with zero I/O)
    ext.injectOptimizerRule(_ => graft.plans.DvScanRewrite)
    // filter and projection constants become class fields of the
    // generated code, so a query shape compiles once whatever its
    // constants (see ConstantStableCodegen)
    ext.injectColumnar(_ => graft.plans.ConstantStableCodegen.Columnar)
    // SQL DDL surface for path-addressed Delta maintenance (round 10):
    // OPTIMIZE [WHERE|ZORDER BY], VACUUM [RETAIN], DESCRIBE
    // HISTORY/DETAIL, RESTORE, ALTER TABLE ADD CONSTRAINT / SET
    // TBLPROPERTIES / RENAME|DROP|ALTER COLUMN — the reference's users
    // speak SQL strings (examples/read_deltalake_hdfs.py:100-118);
    // everything else delegates to Spark's parser untouched
    // ... and `SELECT ... FROM delta.`/path`` relations substitute the
    // graft-delta relation at parse time (Spark's ResolveSQLOnFile
    // only serves FileFormat providers; see GraftPathTableResolution)
    ext.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(session, delegate))
    // table_changes('/path', from [, to]) — the public CDF SQL idiom
    // over path tables: the TVF resolves to the SAME plan
    // DeltaTable.changes builds (appends from add actions, DML from
    // _change_data sidecars), so SQL and Scala consumers cannot
    // diverge. Versions are long literals; `to` defaults to the
    // table's latest version at resolution time.
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(graft.sources.DeltaTable.getClass.getName,
        "table_changes"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        require(children.length == 2 || children.length == 3,
          "table_changes requires (path, fromVersion[, toVersion]), " +
            s"got ${children.length} arguments")
        val path = children.head match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"table_changes path must be a string literal, got $other")
        }
        def ver(e: org.apache.spark.sql.catalyst.expressions.Expression,
            what: String): Long = e match {
          case Literal(v: Int, _) => v.toLong
          case Literal(v: Long, _) => v
          case other => throw new IllegalArgumentException(
            s"table_changes $what must be an integer literal, got $other")
        }
        val from = ver(children(1), "fromVersion")
        val spark = org.apache.spark.sql.SparkSession.active
        val to =
          if (children.length == 3) ver(children(2), "toVersion")
          else graft.sources.DeltaTable.latestVersion(path)
        graft.sources.DeltaTable.changes(spark, path, from, to)
          .queryExecution.analyzed
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          s"graft_cosine requires exactly 2 arguments, got ${children.length}")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          s"graft_shingles requires exactly 2 arguments, got ${children.length}")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_shingles n must be an integer literal, got $other")
        }
        WordShingles(children.head, n)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_seq"),
      new ExpressionInfo(classOf[WordShingleSeq].getName, "graft_shingle_seq"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          s"graft_shingle_seq requires exactly 2 arguments, got ${children.length}")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_shingle_seq n must be an integer literal, got $other")
        }
        WordShingleSeq(children.head, n)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_ahash"),
      new ExpressionInfo(classOf[AHash].getName, "graft_ahash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1,
          s"graft_ahash requires exactly 1 argument, got ${children.length}")
        AHash(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_overlap"),
      new ExpressionInfo(classOf[SortedOverlap].getName, "graft_sorted_overlap"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          s"graft_sorted_overlap requires exactly 2 arguments, got ${children.length}")
        SortedOverlap(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hyperplane_bits"),
      new ExpressionInfo(classOf[HyperplaneBits].getName, "graft_hyperplane_bits"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          s"graft_hyperplane_bits requires exactly 2 arguments, got ${children.length}")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_hyperplane_bits nPlanes must be an integer literal, got $other")
        }
        HyperplaneBits(children.head, n)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_project"),
      new ExpressionInfo(classOf[RandomProjection].getName, "graft_project"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          s"graft_project requires exactly 2 arguments, got ${children.length}")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_project k must be an integer literal, got $other")
        }
        RandomProjection(children.head, n)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "graft_simhash_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1,
          s"graft_simhash_agg requires exactly 1 argument, got ${children.length}")
        SimHashAgg(children.head).toAggregateExpression()
      }))
    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAgg].getName, "graft_bloom_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3,
          s"graft_bloom_agg requires exactly 3 arguments, got ${children.length}")
        BloomFilterAgg(children.head,
          intLit(children(1), "graft_bloom_agg mBits"),
          intLit(children(2), "graft_bloom_agg k")).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3,
          s"graft_bloom_contains requires exactly 3 arguments, got ${children.length}")
        BloomContains(children.head, children(1),
          intLit(children(2), "graft_bloom_contains k"))
      }))
  }
}
