package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** `format("graft-delta")` / `format("delta")` integration: the
  * Delta-equivalent layer (DeltaLog/DeltaTable) exposed through Spark's
  * source API, so the reference's exact call shapes work verbatim
  * against our engine:
  *
  * {{{
  * df.write.format("delta").mode("overwrite").save(path)
  *   // examples/example_lakesail_kerberos.py:166
  * df.write.format("delta").mode("append").save(path)   // :178
  * spark.read.format("delta").load(path)
  *   // examples/read_deltalake_hdfs.py:57-67
  * spark.read.format("delta").option("versionAsOf", 0).load(path)
  *   // README.md:302's time-travel claim
  * }}}
  *
  * Scan strategy: the read relation is a [[HadoopFsRelation]] over the
  * snapshot's live-file list, so planning produces a real vectorized
  * `FileSourceScanExec` — columnar batches, whole-stage codegen above
  * the scan, pushed-down parquet filters. (Round 1 used a V1
  * `PrunedFilteredScan` whose `buildScan` returned `df.rdd`: correct,
  * but the `RDD[Row]` boundary deserialized every InternalRow and
  * severed codegen right at the table-scan hot path.) Log-level
  * min/max data skipping lives in [[GraftDeltaFileIndex.listFiles]],
  * which sees the query's data filters before file listing — same
  * placement as Delta's own implementation.
  */
class GraftDeltaSource extends RelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-delta requires a path (use .load(path)/.save(path))"))

  private def committedSchema(table: String): StructType =
    DeltaLog.snapshot(table).schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"graft-delta table $table has no committed schema"))

  /** `spark.readStream.format("graft-delta").load(path)` — the table
    * AS a stream: the initial micro-batch is the full current
    * snapshot, every later one is exactly the files ADDED by newly
    * committed versions (the log is the change feed; offsets are
    * version numbers, so restart resumes from the checkpointed
    * version with no rescans). A version that rewrites data
    * (overwrite/compact/DML) breaks append-only semantics and fails
    * the stream loudly unless `ignoreChanges=true` opts into
    * added-files-only delivery — same contract as Delta's source. */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(committedSchema(path(parameters)))
    val s =
      if (!parameters.get("readChangeFeed").exists(_.toBoolean)) base
      else StructType(ColumnMapping.stripMapping(base).fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType, nullable = true)))
    (shortName(), s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val cdf = parameters.get("readChangeFeed").exists(_.toBoolean)
    val ignore = parameters.get("ignoreChanges").exists(_.toBoolean)
    require(!(cdf && ignore),
      "readChangeFeed and ignoreChanges are mutually exclusive: the " +
        "change feed DELIVERS rewrites row-level; ignoreChanges drops them")
    val maxFiles = parameters.get("maxFilesPerTrigger").map(_.toInt)
    val maxBytes = parameters.get("maxBytesPerTrigger").map(_.toLong)
    require(!(cdf && (maxFiles.isDefined || maxBytes.isDefined)),
      "maxFilesPerTrigger/maxBytesPerTrigger do not apply to " +
        "readChangeFeed streams (change rows are version-granular); " +
        "use maxVersionsPerTrigger")
    require(!((maxFiles.isDefined || maxBytes.isDefined) &&
        parameters.contains("maxVersionsPerTrigger")),
      "maxVersionsPerTrigger cannot combine with " +
        "maxFilesPerTrigger/maxBytesPerTrigger")
    new GraftDeltaStreamSource(sqlContext, path(parameters), ignore,
      parameters.get("maxVersionsPerTrigger").map(_.toLong), cdf,
      parameters.get("startingVersion").map(_.toLong), maxFiles, maxBytes)
  }

  /** `writeStream.format("graft-delta")` — continuous exactly-once
    * ingest into the ACID log (the streaming composition of the
    * reference's append demo, examples/example_lakesail_kerberos
    * .py:175-184). Each micro-batch is one atomic append commit
    * carrying a SetTransaction keyed by (checkpoint, batchId); a
    * replayed batch after a crash/restart is detected in the log and
    * skipped, so the sink is idempotent end-to-end (file source
    * tracks reads in the checkpoint; the log tracks applies). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-delta sink supports Append output mode, got $outputMode " +
        "(aggregate finalization belongs upstream, via watermarks)")
    // The checkpoint location IS the streaming app identity: a restart
    // reuses it, a different query gets its own ledger entry.
    val appId = parameters.get("checkpointLocation")
      .map(p => "ckpt:" + java.nio.file.Paths.get(p).toAbsolutePath.normalize)
      .getOrElse("nockpt:" + java.util.UUID.randomUUID())
    new GraftDeltaStreamSink(path(parameters), partitionColumns, appId)
  }

  /** `timestampAsOf` accepts epoch millis or `yyyy-MM-dd[ HH:mm:ss]`
    * (resolved in the session's local clock sense — commit timestamps
    * are wall-clock millis, same as Delta's). */
  private def parseTimestampAsOf(s: String): Long =
    GraftDeltaSource.parseTimestampAsOf(s)

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = path(parameters)
    val versionOpt = parameters.get("versionAsOf").map(_.toLong)
    val tsOpt = parameters.get("timestampAsOf").map(parseTimestampAsOf)
    require(versionOpt.isEmpty || tsOpt.isEmpty,
      "specify at most one of versionAsOf / timestampAsOf")
    val versionAsOf = versionOpt.orElse(
      tsOpt.map(DeltaLog.versionAtTimestamp(table, _)))
    val snap = DeltaLog.snapshot(table, versionAsOf)
    GraftDeltaRelation.relation(spark, table, snap)
  }
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val p = path(parameters)
    val deltaMode = mode match {
      case SaveMode.Overwrite => "overwrite"
      case SaveMode.Append => "append"
      case SaveMode.ErrorIfExists if DeltaLog.versions(p).isEmpty => "overwrite"
      case SaveMode.ErrorIfExists => throw new IllegalStateException(
        s"graft-delta table already exists: $p")
      case SaveMode.Ignore if DeltaLog.versions(p).isEmpty => "overwrite"
      case SaveMode.Ignore =>
        return createRelation(sqlContext, parameters - "versionAsOf" - "timestampAsOf")
    }
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    // DataFrameWriter.partitionBy reaches a V1 CreatableRelationProvider
    // as the JSON-encoded __partition_columns option (the same channel
    // delta-spark's V1 path consumed).
    val partitionBy = parameters
      .get(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .PARTITIONING_COLUMNS_KEY)
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .decodePartitioningColumns)
      .getOrElse(Nil)
    DeltaTable.write(data, p, deltaMode, mergeSchema, partitionBy)
    createRelation(sqlContext, parameters - "versionAsOf" - "timestampAsOf")
  }
}

object GraftDeltaSource {
  /** `timestampAsOf` accepts epoch millis or `yyyy-MM-dd[ HH:mm:ss]`
    * — shared by the options API above and SQL `TIMESTAMP AS OF`
    * ([[GraftPathTableResolution]]), so the two idioms resolve
    * identically by construction. */
  private[sources] def parseTimestampAsOf(s: String): Long =
    s.toLongOption.getOrElse {
      val t = if (s.length == 10) s + " 00:00:00" else s
      java.sql.Timestamp.valueOf(t).getTime
    }
}

/** V1 streaming source tailing a graft-delta log. Offsets are log
  * version numbers (LongOffset): getOffset reports the latest
  * committed version; getBatch(start, end) reads exactly the files
  * added by versions (start, end] — or the full snapshot at `end` for
  * the initial batch — as a lazily-planned distributed parquet scan
  * re-tagged streaming through [[org.apache.spark.sql.GraftSqlBridge]]
  * (no data moves until the micro-batch executes). Version-numbered
  * offsets make restarts exact: the checkpoint pins the last processed
  * version, no file listing or rescan needed. */
/** `readChangeFeed=true` turns the source into a STREAMING CHANGE FEED
  * (stock Delta's `readChangeFeed` option): each micro-batch delivers
  * the row-level changes of its version range — `insert` rows for
  * appends, `delete`/`update_preimage`/`update_postimage` rows from the
  * `_change_data/` sidecars of DML commits on CDF-enabled tables —
  * tagged `_change_type`/`_commit_version`. This is what lets a
  * streaming materialized view maintain itself across DELETE/UPDATE
  * instead of failing at the first rewrite version: apply +row for
  * insert/postimage, -row for delete/preimage. The initial batch is the
  * current snapshot as `insert`s at the snapshot version; COMPACT and
  * ZORDER versions contribute nothing; a rewrite without sidecars fails
  * loudly (same contract as the batch [[DeltaTable.changes]]). Schema
  * changes mid-stream fail the CDF stream at the next batch (change
  * rows bind the current logical names). */
/** `startingVersion=N` skips the initial-snapshot batch: the first
  * micro-batch serves versions N..latest (added files, or change rows
  * under `readChangeFeed`) — the "resume a consumer from a known
  * version" entry point, same as stock Delta's option. */
/** `maxFilesPerTrigger=N` — FILE-granular admission control (stock
  * Delta's option): offsets become (version, fileIndex) pairs, so one
  * oversized commit — or the initial snapshot of a 100 TB table —
  * spreads across as many micro-batches as it needs instead of
  * arriving as one giant batch that overwhelms executor memory and
  * checkpoint latency. The initial snapshot is the pseudo-version at
  * the source's creation snapshot (`snap:true` in the offset json),
  * consumed index-by-index before the tail versions flow. Restart
  * resumes EXACTLY at the checkpointed (version, index) — files
  * already delivered are never re-read. Removing the option against a
  * checkpoint parked mid-version is refused loudly (serving the whole
  * version again would duplicate rows downstream). */
/** `maxBytesPerTrigger=N` — the byte-budget analog (combinable with
  * maxFilesPerTrigger; a batch closes when EITHER budget is hit,
  * always admitting at least one file so an oversized file cannot
  * stall the stream — stock Delta's soft-max semantics). */
class GraftDeltaStreamSource(sqlContext: SQLContext, table: String,
    ignoreChanges: Boolean, maxVersionsPerTrigger: Option[Long] = None,
    readChangeFeed: Boolean = false,
    startingVersion: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source {
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  /** File-granular admission active? (either budget opts in) */
  private def fileCapped: Boolean =
    maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined

  // schema, mapping and partition columns pinned at source creation —
  // a streaming query's schema is fixed for its lifetime (same contract
  // as Delta's source); getBatch reads every batch through this snapshot.
  // The pinned-schema contract across MID-STREAM schema changes:
  //   - RENAME: metadata-only under mapping (physical names frozen),
  //     so the stream KEEPS SERVING the creation-time logical names —
  //     new appends included; a RESTARTED query adopts the new names;
  //   - ADD: new columns are outside the pinned projection — ignored;
  //   - DROP of a pinned column: the pinned projection can no longer
  //     be served faithfully for new files (their bytes lack the
  //     column; schema-reading it would fabricate nulls) — the next
  //     micro-batch FAILS LOUDLY instead (Delta's stance on stream
  //     schema change). StreamingSpec pins all three.
  private val initialSnap = DeltaLog.snapshot(table)

  /** Rate-limit cursor (Delta's maxFilesPerTrigger analog, in
    * versions): getOffset advances at most `maxVersionsPerTrigger`
    * past the previous offer, spreading a large backlog over several
    * micro-batches instead of one giant one. Source-local only — a
    * restart re-baselines from the checkpointed offset (its first
    * batch may be larger; documented trade, same as Delta's). */
  private var lastOffered: Option[Long] = None

  /** File-granular admission cursor (`maxFilesPerTrigger`): the last
    * (version, fileIndex) boundary offered. Source-local like
    * `lastOffered`; a restart resumes from the CHECKPOINTED composite
    * offset, so delivery stays exact either way. */
  private var lastOfferedPos: Option[GraftFileOffset] = None

  /** Whether this stream opened with an initial-snapshot batch (no
    * startingVersion): the source's creation snapshot is then served
    * as pseudo-version `initialSnap.version`, file by file under the
    * cap, before tail versions flow. */
  private def snapMode: Boolean = startingVersion.isEmpty

  /** The file list position (version, index) indexes into, under the
    * cap. `snapPhase` = v is the stream's initial-snapshot
    * pseudo-version: serve the HISTORICAL snapshot at v — pinned by
    * the offset, not by this source instance's creation time, so a
    * RESTARTED query parked mid-snapshot resumes over exactly the file
    * list the original batches indexed into (the current snapshot may
    * have compacted/appended since; log replay order is
    * deterministic). Otherwise: a version's added files (layout-only
    * versions contribute nothing; genuine rewrites fail loudly unless
    * `ignoreChanges`, same contract as the uncapped path). */
  private def capListFor(v: Long, snapPhase: Boolean): Seq[DeltaLog.AddFile] =
    if (snapPhase)
      (if (v == initialSnap.version) initialSnap
       else DeltaLog.snapshot(table, Some(v))).files
    else {
      val vc = DeltaLog.versionChanges(table, v)
      if (vc.layoutOnly) Nil
      else {
        if (vc.removesFiles && !ignoreChanges)
          throw new IllegalStateException(
            s"graft-delta stream source: version $v of $table rewrites " +
              "data (overwrite/restore/DML); streaming needs append-only " +
              "versions — set option ignoreChanges=true to receive only " +
              "the added files, or readChangeFeed=true for row-level " +
              "changes (CDF-enabled tables)")
        vc.adds
      }
    }

  /** Decode any offset this source (or a pre-option checkpoint) may
    * have produced: composite json, LongOffset, or a serialized bare
    * long. A bare long means "version fully delivered" (index = MAX). */
  private def pos(o: org.apache.spark.sql.execution.streaming.Offset)
      : GraftFileOffset = o match {
    case g: GraftFileOffset => g
    case l: LongOffset => GraftFileOffset(l.offset, Long.MaxValue)
    case other =>
      val s = other.json.trim
      s.toLongOption match {
        case Some(v) => GraftFileOffset(v, Long.MaxValue)
        case None =>
          val f = DeltaLog.Json.parseFlat(s)
          GraftFileOffset(f("version").toLong, f("index").toLong,
            f.get("snap").contains("true"))
      }
  }

  /** The pinned TABLE schema (mapping metadata retained — its physical
    * rendering drives the mid-stream drop guard). */
  private val tableSchema: StructType = initialSnap.schemaJson
    .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    .getOrElse(throw new IllegalStateException(
      s"graft-delta table $table has no committed schema"))

  override val schema: StructType =
    if (!readChangeFeed) tableSchema
    else StructType(ColumnMapping.stripMapping(tableSchema).fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = true)))

  private def ver(o: org.apache.spark.sql.execution.streaming.Offset): Long =
    pos(o).version

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val vs = DeltaLog.versions(table)
    if (vs.isEmpty) return None
    val latest = vs.max
    if (!fileCapped) {
      val next = (maxVersionsPerTrigger, lastOffered) match {
        case (Some(cap), Some(prev)) => math.min(latest, prev + cap)
        case _ => latest
      }
      lastOffered = Some(next)
      Some(LongOffset(next))
    } else {
      // walk forward file-by-file from the cursor until EITHER budget
      // (file count / byte sum) is exhausted — always admitting at
      // least one file so an oversized file cannot stall the stream; a
      // fully-consumed version normalizes to (v, fileCount) so the
      // offered json is stable when the log is idle. The snap flag
      // rides on the cursor: true only on the stream's first-ever
      // pseudo-version (fresh start in snapshot mode, or a restart
      // whose checkpointed offset still says so).
      val firstOffer = lastOfferedPos.isEmpty
      var cur = lastOfferedPos.getOrElse(
        if (snapMode) GraftFileOffset(initialSnap.version, 0, snap = true)
        else GraftFileOffset(math.min(startingVersion.get, latest), 0))
      if (cur.index == Long.MaxValue)
        cur = GraftFileOffset(cur.version + 1, 0)
      var offered = lastOfferedPos
      var nFiles = 0L
      var nBytes = 0L
      var open = true
      while (open && cur.version <= latest) {
        val fs = capListFor(cur.version, cur.snap)
        var idx = math.min(cur.index, fs.length.toLong).toInt
        while (open && idx < fs.length) {
          val f = fs(idx)
          val overFiles = maxFilesPerTrigger.exists(nFiles + 1 > _)
          val overBytes = maxBytesPerTrigger.exists(nBytes + f.size > _)
          if ((overFiles || overBytes) && nFiles > 0) {
            offered = Some(GraftFileOffset(cur.version, idx, cur.snap))
            open = false
          } else {
            nFiles += 1; nBytes += f.size; idx += 1
          }
        }
        if (open) {
          offered = Some(GraftFileOffset(cur.version, fs.length, cur.snap))
          // the STREAM'S FIRST offer never spans past the snapshot
          // pseudo-version: getBatch(start=None, end) after a restart
          // can only reconstruct the batch from the end offset itself,
          // so a first offset must pin (version = snapshot version,
          // snap = true) — spanning would lose the snapshot boundary
          // and replay the wrong file set (or none: silent data loss
          // if the table committed between the offer and the restart)
          val atSnapBoundary = firstOffer && cur.snap
          cur = GraftFileOffset(cur.version + 1, 0)
          // both budgets exactly consumed at a version boundary still
          // closes the batch on the next over-budget file (loop guard)
          if (atSnapBoundary || maxFilesPerTrigger.exists(nFiles >= _))
            open = false
        }
      }
      lastOfferedPos = offered
      offered
    }
  }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val endV = ver(end)
    // versions fromV..endV as added files: layout-only versions
    // (compaction/zorder — every file action dataChange=false) are
    // SKIPPED per the protocol bit (same rows, new layout; delivering
    // them would duplicate, failing on them would break every stream
    // that ever compacts); genuine rewrites still fail loudly
    def tailAdds(fromV: Long): Seq[DeltaLog.AddFile] =
      (fromV to endV).flatMap { v =>
        val vc = DeltaLog.versionChanges(table, v)
        if (vc.layoutOnly) Nil
        else {
          if (vc.removesFiles && !ignoreChanges)
            throw new IllegalStateException(
              s"graft-delta stream source: version $v of $table rewrites " +
                "data (overwrite/restore/DML); streaming needs append-only " +
                "versions — set option ignoreChanges=true to receive only " +
                "the added files, or readChangeFeed=true for row-level " +
                "changes (CDF-enabled tables)")
          vc.adds
        }
      }
    if (readChangeFeed) {
      val spark = sqlContext.sparkSession
      val df = start match {
        case None if startingVersion.isDefined =>
          DeltaTable.changes(spark, table,
            math.min(startingVersion.get, endV), endV)
        case None =>
          // initial batch: the current snapshot AS inserts (stock
          // Delta's CDF-stream baseline), tagged at the snapshot version
          DeltaTable.read(spark, table, Some(endV))
            .withColumn("_change_type",
              org.apache.spark.sql.functions.lit("insert"))
            .withColumn("_commit_version",
              org.apache.spark.sql.functions.lit(endV))
        case Some(s) => DeltaTable.changes(spark, table, ver(s) + 1, endV)
      }
      val ordered = df.select(
        schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      return asStreaming(ordered)
    }
    val files: Seq[DeltaLog.AddFile] = (if (fileCapped) Some(()) else None) match {
      case Some(_) =>
        // file-granular window (from, end]: slice each version's list
        // by index; the snapshot pseudo-version serves the pinned
        // creation snapshot
        val endP = pos(end)
        // RESUME the admission cursor from the engine's offsets: on
        // restart MicroBatchExecution re-primes the source by calling
        // getBatch with the checkpointed range BEFORE the next
        // getOffset — without this, a fresh source would re-offer
        // ranges BEHIND the checkpoint and overlapping batches would
        // duplicate rows downstream (caught by StreamingSpec)
        def lex(p: GraftFileOffset) =
          (p.version, if (p.index == Long.MaxValue) Long.MaxValue else p.index)
        if (lastOfferedPos.forall(p =>
            implicitly[Ordering[(Long, Long)]].lt(lex(p), lex(endP))))
          lastOfferedPos = Some(endP)
        val from = start.map(pos) match {
          case Some(p) if p.index == Long.MaxValue =>
            GraftFileOffset(p.version + 1, 0)
          case Some(p) => p
          case None =>
            // Replaying an UNCOMMITTED first batch after restart: the
            // checkpointed end offset — not this (restarted) source's
            // current snapshot — defines the batch. If the table took a
            // commit between the original getOffset and the restart,
            // initialSnap.version would exceed endP.version and an
            // initialSnap-derived `from` would deliver ZERO rows while
            // marking [0, endP.index) delivered — silent data loss.
            // The end offset's own (version, snap) is the authoritative
            // start of a first batch.
            if (snapMode) GraftFileOffset(endP.version, 0, snap = true)
            else GraftFileOffset(math.min(startingVersion.get, endP.version), 0)
        }
        val out = Seq.newBuilder[DeltaLog.AddFile]
        var v = from.version
        while (v <= endP.version) {
          val snapPhase = (v == from.version && from.snap) ||
            (v == endP.version && endP.snap)
          val fs = capListFor(v, snapPhase)
          val lo =
            if (v == from.version) math.min(from.index, fs.length.toLong).toInt
            else 0
          val hi =
            if (v == endP.version) math.min(endP.index, fs.length.toLong).toInt
            else fs.length
          if (hi > lo) out ++= fs.slice(lo, hi)
          v += 1
        }
        out.result()
      case None => start match {
        case None if startingVersion.isDefined =>
          tailAdds(math.min(startingVersion.get, endV))
        case None => DeltaLog.snapshot(table, Some(endV)).files
        case Some(s) =>
          val p = pos(s)
          if (p.index != Long.MaxValue &&
              p.index < capListFor(p.version, p.snap).length)
            throw new IllegalStateException(
              "graft-delta stream source: the checkpoint is parked " +
                s"mid-version (${p.version} @ file ${p.index}) from a " +
                "file-capped (maxFilesPerTrigger/maxBytesPerTrigger) " +
                "run; restarting without the option " +
                "would re-deliver the whole version (duplicate rows " +
                "downstream) — keep maxFilesPerTrigger set")
          tailAdds(p.version + 1)
      }
    }
    // pinned-schema guard: every pinned column's PHYSICAL name must
    // still exist in the table's current physical schema — a rename is
    // invisible here (physical frozen), but a mid-stream DROP removes
    // the column from new files and the pinned projection would
    // silently fabricate nulls. Fail the stream instead; a fresh query
    // binds the new schema.
    if (start.isDefined) {
      val curPhys = DeltaLog.snapshot(table, Some(endV)).schemaJson
        .map(j => ColumnMapping.physicalSchema(
          DataType.fromJson(j).asInstanceOf[StructType]).fieldNames.toSet)
        .getOrElse(Set.empty[String])
      // `tableSchema` retains the creation-time mapping metadata, so
      // its physical rendering is the frozen on-file layout
      val pinnedPhys =
        ColumnMapping.physicalSchema(tableSchema).fieldNames.toSet
      val gone = pinnedPhys -- curPhys
      if (curPhys.nonEmpty && gone.nonEmpty) throw new IllegalStateException(
        s"graft-delta stream source: column(s) ${gone.mkString(",")} " +
          s"(physical) were dropped from $table mid-stream; the pinned " +
          "schema can no longer be served — restart the query to bind " +
          "the table's current schema")
    }
    val spark = sqlContext.sparkSession
    if (files.isEmpty)
      return org.apache.spark.sql.GraftSqlBridge.streamingDataFrame(
        sqlContext, spark.sparkContext.emptyRDD[InternalRow], schema,
        Statistics(sizeInBytes = 0))
    // the batch's files through the log-backed relation of the PINNED
    // creation snapshot: its schema, mapping and partition columns;
    // partition values from each file's log entry; dead rows of a
    // delivered vectored add (the initial snapshot after a vectored
    // delete, a DV re-add under ignoreChanges) dropped in-scan
    val ordered = GraftDeltaRelation.frame(spark, table,
        initialSnap.copy(files = files))
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
    asStreaming(ordered)
  }

  /** `batch` as the streaming frame `getBatch` must return, carrying
    * `batch`'s optimizer size estimate (a `foreachBatch` consumer's
    * size-conditioned decisions read it). */
  private def asStreaming(batch: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.streamingDataFrame(sqlContext,
      batch.queryExecution.toRdd, batch.schema,
      batch.queryExecution.optimizedPlan.stats)

  override def stop(): Unit = ()

  override def toString: String = s"GraftDeltaStreamSource[$table]"
}

/** V1 streaming sink over the graft-delta log. addBatch's DataFrame is
  * already bound to concrete batch relations (MicroBatchExecution
  * rewrites the streaming leaves before handing it over — the same
  * contract foreachBatch exposes to users), so the normal distributed
  * write path applies: executors write staged parquet, the driver
  * commits one log version per micro-batch.
  *
  * Exactly-once: delivery = at-least-once from the engine (a batch can
  * replay after restart) × idempotent apply here. [[DeltaTable.write]]
  * consults the log's txn ledger under the optimistic-commit loop and
  * skips versions the table has already absorbed — including the race
  * where two concurrent drivers replay the same batch. */
class GraftDeltaStreamSink(table: String, partitionColumns: Seq[String],
    appId: String) extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // The V1 contract hands over a Dataset whose LOGICAL plan still has
    // streaming leaves (any fresh action on it throws
    // CALL_ON_STREAMING_DATASET_UNSUPPORTED); its queryExecution,
    // though, IS the incremental execution already bound to this
    // micro-batch. Re-wrap the planned InternalRow RDD as a batch frame
    // directly (GraftSqlBridge) — zero per-row conversion; round 4 went
    // through the schema's row encoder (InternalRow→Row deserialize,
    // then re-serialize inside createDataFrame), a measurable toll on
    // the continuous-ingest hot path. The distributed parquet write and
    // the atomic commit are unchanged.
    val batchDf = org.apache.spark.sql.GraftSqlBridge.batchDataFrame(
      data.sparkSession, data.queryExecution.toRdd, data.schema)
    DeltaTable.write(batchDf, table, "append",
      partitionBy = partitionColumns, txn = Some((appId, batchId)))
  }

  override def toString: String = s"GraftDeltaStreamSink[$table]"
}

/** Composite streaming offset for file-granular admission: versions
  * strictly below `version` are fully delivered, plus the first
  * `index` files of `version` itself. `index = Long.MaxValue` encodes
  * a bare-long (version-granular) offset from a pre-option checkpoint.
  * `snap` marks `version` as the stream's initial-snapshot
  * pseudo-version (informational — the source derives the phase from
  * its own mode; kept in the json for checkpoint debuggability). */
private[sources] case class GraftFileOffset(version: Long, index: Long,
    snap: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json: String =
    s"""{"version":$version,"index":$index,"snap":$snap}"""
}

/** The reference calls the format by its real short name —
  * `format("delta")` in every script (examples/example_lakesail_kerberos
  * .py:166,171,178,182, examples/read_deltalake_hdfs.py:58,64). No
  * delta-spark jar exists in this environment, so the name is free;
  * registering this alias makes those call shapes run verbatim. One
  * registered class per short name (DataSourceRegister maps 1:1), hence
  * the subclass. */
class DeltaNamedSource extends GraftDeltaSource {
  override def shortName(): String = "delta"
}

/** File listing for a graft-delta snapshot: the live files from the
  * log, minus files whose min/max stats disprove the query's pushed
  * data filters (Delta-paper data skipping). `listFiles` receives the
  * post-analysis filter expressions, so skipping happens before any
  * I/O; the parquet reader still re-applies every predicate (plus its
  * own row-group stats), so approximate skipping can never change
  * results. */
class GraftDeltaFileIndex(table: String, snap: DeltaLog.Snapshot,
    schema: StructType, partSchema: StructType = new StructType())
    extends FileIndex {

  private val tablePath = new HPath(table)

  private def status(f: DeltaLog.AddFile): FileStatus =
    new FileStatus(f.size, false, 1, 128L * 1024 * 1024, 0L,
      new HPath(tablePath, f.path))

  override def rootPaths: Seq[HPath] = Seq(tablePath)

  /** The log's string partition values cast to the committed column
    * type (Hive convention: the null partition's sentinel reads back
    * as null). Cast covers every partitionable primitive uniformly. */
  private def partitionRow(values: Map[String, String]): InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    InternalRow.fromSeq(partSchema.fields.toSeq.map { f =>
      values.get(f.name) match {
        case None | Some("__HIVE_DEFAULT_PARTITION__") => null
        case Some(v) =>
          Cast(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(v),
            StringType), f.dataType, Some("UTC")).eval(InternalRow.empty)
      }
    })
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // `schema` types the stats only when the log has no committed schema
    val live = DeltaTable.filesMatching(snap,
      dataFilters.flatMap(GraftDeltaFileIndex.translate), schema)
    if (partSchema.isEmpty)
      return Seq(PartitionDirectory(InternalRow.empty, live.map(status).toArray))
    // one PartitionDirectory per live partition-value tuple, pruned by
    // the pushed partition predicates (evaluated against the typed
    // partition row — no directory I/O, the log already knows the
    // layout; same mechanism as PartitioningAwareFileIndex.prunePartitions)
    val groups = live.groupBy(_.partitionValues).toSeq
      .map { case (pv, fs) => (partitionRow(pv), fs) }
    val selected =
      if (partitionFilters.isEmpty) groups
      else {
        import org.apache.spark.sql.catalyst.expressions.{
          And => CAnd, AttributeReference, BoundReference, Predicate}
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(CAnd).transform {
            case a: AttributeReference =>
              val idx = partSchema.indexWhere(_.name == a.name)
              BoundReference(idx, partSchema(idx).dataType, nullable = true)
          })
        groups.filter { case (row, _) => bound.eval(row) }
      }
    selected.map { case (row, fs) =>
      PartitionDirectory(row, fs.map(status).toArray) }
  }

  override def inputFiles: Array[String] =
    snap.files.map(f => new HPath(tablePath, f.path).toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = snap.files.map(_.size).sum

  /** The snapshot's exact LIVE row count from log stats alone —
    * Σ `stats.n` (physical rows) − Σ deletion-vector cardinality
    * (dead rows) — or None the moment any live file lacks `n`
    * (foreign writer / skipped collection), because a partial sum
    * would be a silent undercount. Also None when a shallow clone's
    * ABSOLUTE reference is gone: those files live under the source
    * table, whose vacuum may delete them, and the scan then fails
    * loudly instead of counting rows that no longer exist. Consumed by
    * [[graft.plans.MetadataOnlyCount]] to answer `COUNT(*)` with zero
    * data I/O. */
  def metadataRowCount: Option[Long] = {
    val counts = snap.files.map(f =>
      f.stats.get("n").flatMap(_.toLongOption)
        .map(_ - f.dv.map(_.cardinality).getOrElse(0L)))
    val stranded = snap.files.exists { f =>
      val p = java.nio.file.Paths.get(f.path)
      p.isAbsolute && !java.nio.file.Files.exists(p)
    }
    if (stranded || counts.exists(_.isEmpty)) None
    else Some(counts.flatten.sum)
  }

  override def partitionSchema: StructType = partSchema
}

/** Builds the log-backed HadoopFsRelation every graft-delta read path
  * shares: schema from the committed metaData, live files and partition
  * VALUES served by [[GraftDeltaFileIndex]] straight from the log (zero
  * directory listing or inference — which is also what lets a shallow
  * clone's absolute source references scan like any other file), and
  * the mapped/DV-aware file-format selection. */
private[sources] object GraftDeltaRelation {

  /** `extraData`: data columns appended after the committed ones — the
    * materialized row-tracking columns a row-id read needs (absent
    * from a file, they read as null). */
  def relation(spark: SparkSession, table: String,
      snap: DeltaLog.Snapshot,
      extraData: Seq[StructField] = Nil): HadoopFsRelation = {
    val committed = snap.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(spark.read.parquet(
        snap.files.map(f => s"$table/${f.path}"): _*).schema)
    // COLUMN MAPPING: the relation's user-facing schema is LOGICAL
    // (mapping metadata stripped); the files store PHYSICAL names. The
    // translation happens at the two points names actually reach the
    // bytes: the file index's stats consult (physically-keyed stats)
    // and the parquet reader construction (MappedParquetFileFormat
    // hands the reader a physically-renamed requiredSchema — the
    // returned rows/batches are positional, so nothing downstream
    // changes). When the mapping is the identity (enabled but no
    // rename/drop/add yet) the stock format serves unchanged.
    val mapped = ColumnMapping.enabled(snap)
    val l2p =
      if (mapped) ColumnMapping.logicalToPhysical(committed)
      else Map.empty[String, String]
    val schema =
      if (mapped) ColumnMapping.stripMapping(committed) else committed
    // Partitioned layout: partition columns come out of the log's
    // metaData, typed by the committed schema; the relation's
    // dataSchema is the rest (they are not physical parquet columns).
    // Catalyst then routes partition-key predicates to
    // GraftDeltaFileIndex.listFiles as partitionFilters — directory-
    // level pruning before any I/O, same placement as Delta's own.
    val partitionSchema = StructType(
      snap.partitionColumns.flatMap(c => schema.fields.find(_.name == c)))
    val dataSchema = StructType(
      schema.fields.filterNot(f => snap.partitionColumns.contains(f.name)) ++
        extraData)
    val liveDvs = DeletionVectors.liveVectors(table, snap)
    val fileFormat =
      if (liveDvs.nonEmpty) new DvParquetFileFormat(l2p, liveDvs)
      else if (l2p.exists { case (l, p) => l != p })
        new MappedParquetFileFormat(l2p)
      else new ParquetFileFormat
    HadoopFsRelation(
      location = new GraftDeltaFileIndex(table, snap, schema, partitionSchema),
      partitionSchema = partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = fileFormat,
      options = Map.empty)(spark)
  }

  /** The relation as a DataFrame (columns: dataSchema then partition
    * columns, Spark's file-source convention) — the one place a
    * snapshot's files become a DataFrame. */
  def frame(spark: SparkSession, table: String, snap: DeltaLog.Snapshot,
      extraData: Seq[StructField] = Nil): DataFrame =
    spark.baseRelationToDataFrame(relation(spark, table, snap, extraData))
}

object GraftDeltaFileIndex {
  import org.apache.spark.sql.catalyst.expressions.{
    And => CAnd, Attribute, EqualTo => CEq, GreaterThan => CGt,
    GreaterThanOrEqual => CGe, LessThan => CLt, LessThanOrEqual => CLe, Literal}

  /** Catalyst → sources.Filter, covering exactly the conjunctive
    * comparison shapes [[DeltaTable.liveFilesAfterSkipping]] can use
    * (Spark's own translator is `protected`). Anything else maps to
    * nothing — the file is kept and the scan re-applies the predicate,
    * so under-translation is always safe. */
  private[sources] def translate(e: Expression): Option[Filter] = e match {
    case CAnd(l, r) => (translate(l), translate(r)) match {
      case (Some(a), Some(b)) => Some(And(a, b))
      case (a, b) => a.orElse(b) // half-translated AND still prunes
    }
    case CEq(a: Attribute, Literal(v, _)) => Some(EqualTo(a.name, v))
    case CEq(Literal(v, _), a: Attribute) => Some(EqualTo(a.name, v))
    case CGt(a: Attribute, Literal(v, _)) => Some(GreaterThan(a.name, v))
    case CGt(Literal(v, _), a: Attribute) => Some(LessThan(a.name, v))
    case CGe(a: Attribute, Literal(v, _)) => Some(GreaterThanOrEqual(a.name, v))
    case CGe(Literal(v, _), a: Attribute) => Some(LessThanOrEqual(a.name, v))
    case CLt(a: Attribute, Literal(v, _)) => Some(LessThan(a.name, v))
    case CLt(Literal(v, _), a: Attribute) => Some(GreaterThan(a.name, v))
    case CLe(a: Attribute, Literal(v, _)) => Some(LessThanOrEqual(a.name, v))
    case CLe(Literal(v, _), a: Attribute) => Some(GreaterThanOrEqual(a.name, v))
    // IN-lists: the planner materializes small ones as In(attr, lits)
    // and larger ones as InSet — both skip files whose [min,max] miss
    // every value (the q47/q77 pushed-isin fetch shape, now pruned at
    // the FILE level before the parquet reader sees row groups)
    case in: org.apache.spark.sql.catalyst.expressions.In =>
      in.value match {
        case a: Attribute
            if in.list.forall(_.isInstanceOf[Literal]) && in.list.nonEmpty =>
          Some(org.apache.spark.sql.sources.In(a.name,
            in.list.map(_.asInstanceOf[Literal].value).toArray))
        case _ => None
      }
    case is: org.apache.spark.sql.catalyst.expressions.InSet =>
      is.child match {
        case a: Attribute =>
          Some(org.apache.spark.sql.sources.In(a.name, is.hset.toArray))
        case _ => None
      }
    case _ => None
  }
}

/** [[ParquetFileFormat]] for COLUMN-MAPPED tables whose mapping has
  * diverged from the identity (a rename/drop/post-enable add
  * happened): the relation speaks LOGICAL names, the files store
  * PHYSICAL ones. The translation happens exactly once, at reader
  * construction — the data/required schemas are renamed
  * logical→physical (same field order and types, so the
  * InternalRows/columnar batches the parquet reader yields are
  * POSITIONALLY identical to what the logical plan expects — nothing
  * downstream changes, vectorization and codegen included), and
  * pushdown filters translate their attribute names so row-group
  * pruning still bites. This is the same placement delta-spark uses
  * (DeltaParquetFileFormat): names are a reader-construction concern,
  * never a per-row one. */
class MappedParquetFileFormat(l2p: Map[String, String])
    extends ParquetFileFormat {
  private def phys(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = l2p.getOrElse(f.name, f.name))))

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[InternalRow] =
    // partitionSchema stays logical: partition columns cannot be
    // renamed under graft's mapping (they name the directory layout),
    // so their logical and physical names never diverge
    // untranslatable filters DROP (never pass through logical-named):
    // a logical name can collide with another column's physical name
    // in old files, and pushdown false negatives are unrecoverable
    super.buildReaderWithPartitionValues(sparkSession, phys(dataSchema),
      partitionSchema, phys(requiredSchema),
      filters.flatMap(ColumnMapping.translateFilter(_, l2p)),
      options, hadoopConf)
}

/** [[ParquetFileFormat]] for snapshots carrying DELETION VECTORS:
  * files WITH a live vector are read row-based, unsplit, with NO
  * pushdown — the reader then yields every physical row in order, so a
  * plain counter IS the row's physical index and the vector lookup
  * (binary search in a log-sized sorted array) drops the dead ones.
  * Files WITHOUT a vector keep the fast reader (pushdown, translated
  * filters). The whole scan runs row-based (`supportBatch=false`) —
  * the one global knob — which is the price a vectored snapshot pays
  * until OPTIMIZE absorbs its vectors; the fast columnar path returns
  * the moment no live file carries a vector, because createRelation
  * only selects this format when one does.
  *
  * Handles column mapping too (same schema translation as
  * [[MappedParquetFileFormat]]) so DV × mapping composes. */
class DvParquetFileFormat(val l2p: Map[String, String],
    val dvs: DvMap) extends ParquetFileFormat {
  private def phys(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = l2p.getOrElse(f.name, f.name))))

  override def supportBatch(sparkSession: SparkSession,
      schema: StructType): Boolean = false

  override def isSplitable(sparkSession: SparkSession,
      options: Map[String, String],
      path: org.apache.hadoop.fs.Path): Boolean =
    dvs.vectorFor(path.toString) eq null

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[InternalRow] = {
    val translated =
      if (l2p.isEmpty) filters
      else filters.flatMap(ColumnMapping.translateFilter(_, l2p))
    val fast = super.buildReaderWithPartitionValues(sparkSession,
      phys(dataSchema), partitionSchema, phys(requiredSchema),
      translated, options, hadoopConf)
    // the slow reader gets NO filters: pushdown would skip rows and
    // desync the physical-position counter (false negatives there are
    // unrecoverable; Spark's Filter node above the scan re-applies the
    // full predicate either way)
    val slow = super.buildReaderWithPartitionValues(sparkSession,
      phys(dataSchema), partitionSchema, phys(requiredSchema),
      Nil, options, hadoopConf)
    file => {
      Option(dvs.vectorFor(file.filePath.toString)) match {
        case None => fast(file)
        case Some(dv) =>
          require(file.start == 0,
            s"deletion-vectored file arrived split (start=${file.start}): " +
              "isSplitable must keep vectored files whole")
          var idx = -1L
          slow(file).filter { _ => idx += 1
            !DeletionVectors.contains(dv, idx) }
      }
    }
  }
}
