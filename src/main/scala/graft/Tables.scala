package graft

import graft.operators.{StagedCache, StagedIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Path-addressed table loading, mirroring the reference's catalog-free
  * model: every table is a parquet directory/file addressed by path
  * (reference: examples/create_deltalake_hdfs.py:90-112,
  * examples/read_deltalake_hdfs.py:20-28). Temp views are the only
  * "catalog" surface (examples/read_deltalake_hdfs.py:95-96).
  *
  * Scale note: `spark.read.parquet` resolves to Spark's vectorized
  * columnar scan (`FileSourceScanExec`); on a real cluster the same call
  * takes `hdfs://` / `s3a://` URIs unchanged — no code here assumes a
  * local filesystem.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred fixture schemas, memoized per (path, content
    * fingerprint): schema inference opens parquet footers on the
    * DRIVER on every `spark.read.parquet` call, and the engine loads
    * the same static fixture tables hundreds of times per session
    * (every SQL query's registerAll is 10 loads). Round 17 measured
    * ~15-40 ms per inference; with the schema supplied explicitly the
    * reader skips inference entirely. Keyed by content fingerprint so
    * a regenerated fixture re-infers — never a stale schema. The plan
    * (scan, pushdown, pruning) is otherwise IDENTICAL: .schema(s) on
    * a parquet read changes where the schema comes from, not the
    * relation. */
  private val schemas = new StagedIndex[StructType]("schema", _ => Nil)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else {
      val path = s"$dir/$name.parquet"
      val schema = schemas.get(StagedCache.source(dir, name))(
        spark.read.parquet(path).schema)
      normalizeTimestamps(spark.read.schema(schema).parquet(path))
    }

  /** Cast every TIMESTAMP_NTZ column to session-zoned TimestampType.
    * The driver's fixtures write timestamps as parquet
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) since round 7 — not just
    * `events.ts` but `o_orderdate`/`l_shipdate` too — and the engine
    * speaks ONE timestamp type everywhere: the session is pinned UTC,
    * so the cast preserves the exact instants while keeping
    * timezone-sensitive consumers (`unix_micros`, windowing,
    * watermarks) analyzable. Round 7 shipped a fixture regeneration
    * that broke the two queries reading the one unnormalized column;
    * this is the boundary that makes that class of breakage
    * structurally impossible (TimestampEncodingSpec is the canary). */
  private def normalizeTimestamps(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.TimestampType
    // The NTZ→LTZ cast preserves instants ONLY because the session is
    // pinned UTC (Bench/Verify/specs all do); from a non-UTC session it
    // would silently shift every timestamp — fail loudly instead.
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"Tables.load requires spark.sql.session.timeZone=UTC (got $tz): " +
        "the TIMESTAMP_NTZ normalization cast is only instant-preserving " +
        "under a UTC session")
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    ntz.foldLeft(df)((d, f) => d.withColumn(f.name,
      org.apache.spark.sql.functions.col(f.name).cast(TimestampType)))
  }

  /** `events.ts` has shipped in multiple parquet encodings across fixture
    * generations; normalize ALL of them to session-zoned `TimestampType`
    * so downstream `unix_micros`/window consumers never see a surprise:
    *
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright
    *     ([PARQUET_TYPE_ILLEGAL]); read nanos as a raw long (legacy conf),
    *     then rebuild a microsecond timestamp with integer arithmetic
    *     (`div`, not `/` — int64 nanos exceed a double's 2^53 exact range).
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
    *     TIMESTAMP_NTZ; cast to TimestampType. The engine pins the session
    *     timezone to UTC (Bench/Verify/specs), so NTZ-as-UTC preserves the
    *     exact instants the nanos encoding produced.
    *   - TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=true): already
    *     TimestampType; passes through unchanged.
    *
    * The legacy conf is scoped to the read-and-analyze window and then
    * restored: the conf is baked into the relation at `spark.read`
    * time (schema resolution), so the returned DataFrame stays valid
    * after restore, and other code in the same session never observes
    * a global conf it didn't set.
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // synchronized: the set/restore window mutates session-global conf;
    // two concurrent loads on one session could otherwise race the
    // restore and leak the legacy conf to an unrelated read. This
    // window is the monitor's only user: staged writes pin their
    // timestamp encoding in the writer, not in the session conf.
    def legacyRead(): DataFrame = Tables.synchronized {
      val before = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try spark.read.parquet(path)
      finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    // the memoized schema serves the two MODERN encodings (micros-NTZ /
    // micros-LTZ) without the legacy-conf window or a fresh inference;
    // the nanos-as-long encoding keeps the full conf-scoped read per
    // call (the legacy conf gates the READ of TIMESTAMP(NANOS), not
    // just inference, so it cannot ride an explicit schema), which only
    // ever costs on pre-round-7 fixtures
    val schema = schemas.get(StagedCache.source(dir, "events"))(
      legacyRead().schema)
    schema("ts").dataType match {
      case LongType =>
        legacyRead().withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        normalizeTimestamps(spark.read.schema(schema).parquet(path))
      case _ => spark.read.schema(schema).parquet(path)
    }
  }

  /** Exact row count of a fixture table from its parquet FOOTER(S) —
    * driver-side metadata reads, zero Spark jobs — memoized per (path,
    * content fingerprint). Several operators size corpus-scaled
    * parameters (IVF cell count, LSH band bits) or validate
    * staged-index registrations by the corpus row count; each used to
    * pay a full count() job PER INVOCATION for a number that is
    * constant per corpus state (round 17). Falls back to a Spark count
    * if a footer cannot be read. */
  private val rowCounts = new StagedIndex[Long]("row-count", _ => Nil)

  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val p = StagedCache.source(dir, name)
    rowCounts.get(p)(footerRowCount(spark, p)
      .getOrElse(load(spark, dir, name).count()))
  }

  private def footerRowCount(spark: SparkSession,
      root: java.nio.file.Path): Option[Long] =
    try {
      import scala.jdk.CollectionConverters._
      import java.nio.file.Files
      if (!Files.exists(root)) return None
      val walk = Files.walk(root)
      val files =
        try walk.iterator.asScala.filter { q =>
          Files.isRegularFile(q) &&
            q.getFileName.toString.endsWith(".parquet") &&
            !q.getFileName.toString.startsWith(".") &&
            !q.getFileName.toString.startsWith("_")
        }.toSeq
        finally walk.close()
      if (files.isEmpty) return None
      val conf = spark.sessionState.newHadoopConf()
      var n = 0L
      files.foreach { q =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(q.toUri), conf))
        try n += r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }
      Some(n)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Register every fixture table as a temp view so `spark.sql` works the
    * way the reference's scripts do (createOrReplaceTempView + SQL string,
    * examples/read_deltalake_hdfs.py:95-118). Lazy: registering a view
    * costs nothing until an action runs.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
