package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.parquet.HadoopReadOptions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, input_file_name, lit, max, min}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, DateType, LongType, NumericType, StringType, StructField, StructType, TimestampType}

/** Spark-facing Delta-equivalent table API (SURVEY.md §7-D): versioned
  * ACID overwrite/append/read + time travel over local/HDFS-style
  * paths, matching the reference's observable Delta behavior —
  * overwrite (examples/example_lakesail_kerberos.py:166), append
  * (`:178`, count 3→4), re-read (examples/read_deltalake_hdfs.py:57-67)
  * and the README's time-travel claim (README.md:302).
  *
  * Scale notes:
  *   - Data files are written by Spark's normal distributed parquet
  *     writer (every executor writes its partitions) into a staging
  *     dir, then *moved* (rename, not copy) into the table — cheap on
  *     any real filesystem.
  *   - Reads hand Catalyst the exact live-file list; pruning/pushdown
  *     work as with any parquet scan. The log itself stays tiny (one
  *     JSON line per file per commit) and is read driver-side only —
  *     no driver-side data movement, matching Delta's design.
  */
/** Typed rejection for unsupported schema evolution — the explicit
  * DECISION the reference's blanket "schema evolution" claim
  * (README.md:302) forces: graft-delta supports ADDITIVE evolution
  * (mergeSchema appends new nullable columns) and SUBSET appends
  * (missing columns read null; the schema never shrinks). Column
  * RENAME and DROP would need Delta column-mapping metadata (physical
  * names decoupled from logical) and TYPE changes — widening included
  * — would need either a rewrite or reader-side casts; neither is
  * implemented, and both are rejected with this typed error instead
  * of the silent column-splitting / type-rot an accepting writer
  * produces. `kind` ∈ {"type-change", "rename-or-drop", "mismatch"}.
  * Evolving beyond additive = rewrite through `overwrite`. */
final class SchemaEvolutionException(val kind: String, msg: String)
  extends IllegalArgumentException(msg)

object DeltaTable {

  /** Dev-only stage timing for the write path (SPARK_GRAFT_DELTA_DEBUG
    * set → per-stage seconds on stderr); zero cost when unset. */
  private val DebugTiming = sys.env.contains("SPARK_GRAFT_DELTA_DEBUG")
  @inline private def timed[A](what: => String)(f: => A): A =
    if (!DebugTiming) f else {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[delta-prof] $what: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  /** Write `df` to `table` with the given mode ("overwrite"|"append").
    *
    * Concurrency: the data files are staged once and moved in
    * unconditionally (they are invisible until committed); the commit
    * runs through [[transact]], whose attempts re-derive only the
    * actions — appends always re-apply cleanly (add-only), overwrites
    * recompute their remove set against the new latest snapshot.
    */
  /** `txn` = (appId, version): commit a SetTransaction alongside the
    * data, and SKIP the whole write if the log already records that
    * version (or later) for the app — the idempotence contract a
    * streaming sink's replayed micro-batch relies on. The check runs
    * on every [[transact]] attempt against the freshest snapshot, so
    * two racing replays of the same batch commit exactly once. */
  /** Thrown internally when an identity-assigning append loses the
    * commit race to ANOTHER assigner: the staged values were numbered
    * from a stale high-water mark, so the whole write redoes (fresh
    * mark, fresh staging). [[write]] absorbs up to 8 of these before
    * surfacing a descriptive IllegalStateException. */
  private final class IdentityRangeConflict extends RuntimeException

  /** The high-water mark an identity column actually LANDED across the
    * staged files, from their collected stats (physically keyed under
    * column mapping); falls back to one bounded agg over the staged
    * bytes when stats collection was skipped, and to the pre-write
    * base for an empty staging. */
  private def landedHwm(spark: SparkSession, table: String,
      added: Seq[DeltaLog.AddFile], spec: IdentityColumns.Spec,
      mapping: Option[StructType]): Long = {
    val phys = mapping
      .map(m => ColumnMapping.logicalToPhysical(m)
        .getOrElse(spec.col, spec.col)).getOrElse(spec.col)
    IdentityColumns.hwmFromStats(added.map(_.stats), phys, spec.step)
      .orElse {
        if (added.isEmpty) None
        else Option(spark.read.parquet(added.map(f =>
            Paths.get(table).resolve(f.path).toString): _*)
          .agg(if (spec.step > 0) max(col(phys)) else min(col(phys)))
          .head().get(0)).map(_.asInstanceOf[Long])
      }.getOrElse(spec.base)
  }

  /** `generatedColumns` = column → generation expression,
    * `identityColumns` = column → (start, step); both declared at
    * table (re)definition time (overwrite/create only — appends and the
    * streaming sink inherit the committed contract). See
    * [[GeneratedColumns]] / [[IdentityColumns]] for the maintained
    * invariants. */
  def write(df0: DataFrame, table: String, mode: String,
      mergeSchema: Boolean = false, partitionBy: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      generatedColumns: Map[String, String] = Map.empty,
      identityColumns: Map[String, (Long, Long)] = Map.empty): Long = {
    var attempt = 0
    while (true) {
      try return writeOnce(df0, table, mode, mergeSchema, partitionBy,
        txn, generatedColumns, identityColumns)
      catch {
        case _: IdentityRangeConflict =>
          attempt += 1
          if (attempt >= 8) throw new IllegalStateException(
            s"graft-delta write to $table: lost the identity range " +
              s"race $attempt times (sustained contention between " +
              "assigning writers); retry the write")
          Thread.sleep(5L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def writeOnce(df0: DataFrame, table: String, mode: String,
      mergeSchema: Boolean, partitionBy: Seq[String],
      txn: Option[(String, Long)],
      generatedColumns: Map[String, String],
      identityColumns: Map[String, (Long, Long)]): Long = {
    require(mode == "overwrite" || mode == "append", s"bad mode: $mode")
    // ONE entry snapshot serves every pre-staging consult (txn ledger,
    // generation/identity contracts, partition layout, mapping,
    // constraints) — each DeltaLog.snapshot call is a full log replay,
    // and the commit retry loop re-snapshots for freshness anyway
    val entrySnap: Option[DeltaLog.Snapshot] = timed(s"entry-snapshot $table") {
      if (DeltaLog.versions(table).isEmpty) None
      else Some(DeltaLog.snapshot(table))
    }
    for (snap <- entrySnap if txnLanded(snap, txn)) return snap.version
    // GENERATED COLUMNS: resolve the generation contract this write
    // stages under — an append inherits the committed expressions; an
    // overwrite (re)declares via the parameter and carries forward the
    // prior expressions whose base columns the new frame still has
    // (keeping a generated column while dropping its bases would leave
    // an unmaintainable dangling expression — refused loudly).
    val priorGens: Seq[(String, String)] =
      entrySnap.flatMap(_.schemaJson)
        .map(j => GeneratedColumns.of(
          DataType.fromJson(j).asInstanceOf[StructType]))
        .getOrElse(Nil)
    val gens: Seq[(String, String)] =
      if (mode == "append") {
        require(generatedColumns.isEmpty,
          s"graft-delta append to $table: generatedColumns are declared " +
            "at table (re)definition (overwrite); appends inherit them")
        priorGens
      } else {
        val carried = priorGens
          .filterNot { case (g, _) => generatedColumns.contains(g) }
          .flatMap { case (g, e) =>
            val refs = GeneratedColumns.referencedColumns(e)
            if (refs.nonEmpty && refs.forall(df0.columns.contains))
              Some(g -> e)
            else if (df0.columns.contains(g))
              throw new IllegalArgumentException(
                s"overwrite of $table keeps generated column $g but drops " +
                  s"base column(s) ${refs.filterNot(df0.columns.contains)
                    .mkString(",")} its expression ($e) needs; drop $g too " +
                  "or keep the bases")
            else None // both gone: the overwrite rewrote the contract away
          }
        generatedColumns.toSeq.sortBy(_._1) ++ carried
      }
    val (dfG, genChecks) = GeneratedColumns.applyToWrite(df0, gens)
    // IDENTITY COLUMNS: resolve the specs this write assigns under —
    // appends inherit (values continue beyond the committed high-water
    // mark); an overwrite (re)declares via the parameter and carries
    // prior specs forward WITH their marks (monotonic across rewrites,
    // so ids handed out before the overwrite never get reissued).
    val priorIdSpecs: Seq[IdentityColumns.Spec] =
      entrySnap.flatMap(_.schemaJson)
        .map(j => IdentityColumns.of(
          DataType.fromJson(j).asInstanceOf[StructType]))
        .getOrElse(Nil)
    val idSpecs: Seq[IdentityColumns.Spec] =
      if (mode == "append") {
        require(identityColumns.isEmpty,
          s"graft-delta append to $table: identityColumns are declared " +
            "at table (re)definition (overwrite); appends inherit them")
        priorIdSpecs
      } else {
        identityColumns.toSeq.sortBy(_._1).map { case (c, (start, step)) =>
          require(step != 0, s"identity column $c: step must be nonzero")
          IdentityColumns.Spec(c, start, step, None)
        } ++ priorIdSpecs.filterNot(s => identityColumns.contains(s.col))
          .map { s =>
            // GENERATED ALWAYS has no silent escape: an overwrite whose
            // frame carries a prior identity column would land
            // unvalidated user values AND drop the contract + mark
            require(!dfG.columns.contains(s.col),
              s"overwrite of $table provides identity column ${s.col}: " +
                "GENERATED ALWAYS values are engine-assigned; drop the " +
                "column from the frame (the contract carries forward), " +
                "or redefine the table without it by an explicit " +
                "schema change")
            s
          }
      }
    val dfI = idSpecs.foldLeft(dfG) { case (d, s) =>
      IdentityColumns.assign(d, s) }
    // TYPE WIDENING maintenance (writer side): an append whose shared
    // column still carries a NARROWER type than the committed
    // (widened) one up-casts losslessly before staging — new files
    // always store the wide encoding, so only pre-widen files need
    // reader up-conversion. Anything not in the widening matrix falls
    // through to the loud type-change rejection.
    val df = entrySnap.flatMap(_.schemaJson)
      .filter(_ => mode == "append")
      .map(j => DataType.fromJson(j).asInstanceOf[StructType]) match {
      case Some(ts) =>
        val byName = ts.fields.map(f => f.name -> f.dataType).toMap
        val narrow = dfI.schema.fields.filter(f => byName.get(f.name)
          .exists(t => t != f.dataType && isWideningChange(f.dataType, t)))
        narrow.foldLeft(dfI)((d, f) =>
          d.withColumn(f.name, col(f.name).cast(byName(f.name))))
      case None => dfI
    }
    require(partitionBy.forall(c => df.schema.fieldNames.contains(c)),
      s"partitionBy columns ${partitionBy.mkString(",")} must exist in the schema")
    // Partition-layout resolution: an overwrite defines the layout (it
    // replaces data AND metadata); an append must match the table's
    // committed layout — silently interleaving partitioned and flat
    // files would break pruning for every future read.
    val effectivePartitionBy =
      if (mode == "overwrite" || entrySnap.isEmpty) partitionBy
      else {
        val existing = entrySnap.get.partitionColumns
        require(partitionBy.isEmpty || partitionBy == existing,
          s"graft-delta append to $table: partitionBy ${partitionBy.mkString(",")} " +
            s"does not match the table's partition columns ${existing.mkString(",")}")
        existing
      }
    // COLUMN MAPPING: when the table maps logical → physical names, the
    // staged files must store the physical names the committed metaData
    // will declare — so any NEW column's identity (id + col-<uuid>
    // physical name) is allocated BEFORE staging. `writeMapping` is the
    // full annotated logical schema this write stages under; a commit
    // that would declare different physical names for our columns than
    // we staged (a racing mergeSchema append of the same logical
    // column) is detected in the retry loop and aborted loudly.
    val preSnapForMapping = entrySnap
    val (writeMapping, mappedMaxId): (Option[StructType], Option[Long]) =
      preSnapForMapping.flatMap(mappingOf) match {
        case None => (None, None)
        case Some(old) if mode == "append" =>
          val newFields = df.schema.fields.toSeq
            .filterNot(f => old.fieldNames.contains(f.name))
          if (newFields.isEmpty) (Some(old), None)
          else {
            val (annotated, maxId) = ColumnMapping.annotateNew(newFields,
              ColumnMapping.maxColumnId(preSnapForMapping.get))
            (Some(StructType(old.fields ++ annotated)), Some(maxId))
          }
        case Some(old) =>
          // overwrite replaces data AND schema, but the table keeps its
          // mapping: logically-matching columns keep their identity
          // (their physical name may live in pre-overwrite files that
          // old versions still time-travel to), others mint fresh ones
          val oldByName = old.fields.map(f => f.name -> f).toMap
          var maxId = ColumnMapping.maxColumnId(preSnapForMapping.get)
          val fields = df.schema.fields.map { f =>
            oldByName.get(f.name).filter(_.dataType == f.dataType) match {
              case Some(o) => f.copy(metadata = o.metadata)
              case None =>
                val (annotated, m2) = ColumnMapping.annotateNew(Seq(f), maxId)
                maxId = m2
                annotated.head
            }
          }
          (Some(StructType(fields)), Some(maxId))
      }
    val added = stageIn(df, table, effectivePartitionBy, writeMapping)
    // the high-water mark each identity column actually LANDED, from
    // the staged files' stats
    val idHwms: Map[String, Long] = idSpecs.map(s =>
      s.col -> landedHwm(df.sparkSession, table, added, s, writeMapping))
      .toMap
    // CHECK constraints gate every row-introducing write. Validate
    // against the snapshot visible now; the retry loop re-validates
    // against each fresher snapshot, so a constraint whose ALTER wins
    // the commit race still gates this write (real Delta aborts the
    // racing txn on metadata change — re-validating reaches the same
    // end state: no committed version ever holds unvalidated rows).
    var validatedConstraints: Set[(String, String)] =
      entrySnap match {
        case Some(snap) =>
          val cs = snap.checkConstraints
          enforceConstraints(df.sparkSession, table, added, cs, writeMapping)
          cs.toSet
        case None => Set.empty
      }
    // generated columns the caller provided precomputed validate like
    // CHECK constraints (col <=> expr) over the staged bytes
    if (genChecks.nonEmpty)
      enforceConstraints(df.sparkSession, table, added, genChecks,
        writeMapping)
    // atomic log commit: the files stage once, each attempt re-derives
    // only the actions against the fresher snapshot
    transact(table, "write", create = true,
        prestaged = added.map(_.path)) { snap =>
      val prior = Some(snap).filter(_.version >= 0)
      val readVersion = snap.version
      // a concurrent addCheckConstraint may have landed since our last
      // validation: enforce any constraint we haven't yet checked
      // before committing rows at a version that it governs
      val unvalidated =
        prior.map(_.checkConstraints.toSet).getOrElse(Set.empty) --
          validatedConstraints
      if (unvalidated.nonEmpty) {
        enforceConstraints(df.sparkSession, table, added,
          unvalidated.toSeq.sortBy(_._1), writeMapping)
        validatedConstraints ++= unvalidated
      }
      val removes =
        if (mode == "overwrite")
          prior.toSeq.flatMap(_.files).map(f => DeltaLog.removeAction(f.path))
        else Seq.empty
      // Schema enforcement (README.md:302's "schema evolution" claim,
      // done safely): an append whose schema differs from the table's
      // current metaData is REJECTED loudly unless mergeSchema, in
      // which case compatible fields must type-match and new fields
      // are appended (additive evolution; old files read the added
      // columns as null). Round 1 committed the incoming schema
      // unconditionally — a mismatched append silently reinterpreted
      // old files. Checked inside the retry loop: the table schema can
      // change under us between attempts. Overwrite replaces the
      // schema outright (it replaces the data too).
      val tableSchema = {
        val resolved =
          if (mode == "overwrite") writeMapping.getOrElse(df.schema)
          else prior.flatMap(_.schemaJson) match {
            case None => df.schema
            case Some(j) =>
              val old = DataType.fromJson(j).asInstanceOf[StructType]
              resolveAppendSchema(old, df.schema, mergeSchema, table)
          }
        // mapped append: newly-added fields carry the identity allocated
        // before staging (resolveAppendSchema works on logical names and
        // returns them bare)
        writeMapping match {
          case Some(wm) if mode == "append" =>
            val wmByName = wm.fields.map(f => f.name -> f).toMap
            StructType(resolved.fields.map(f =>
              if (f.metadata.contains(ColumnMapping.FieldPhysKey)) f
              else wmByName.get(f.name) match {
                case Some(w) => f.copy(metadata = w.metadata)
                case None => f
              }))
          case _ => resolved
        }
      }
      // mapped-append race guard: if the schema we are about to commit
      // declares a DIFFERENT physical name for any column we staged (a
      // racing mergeSchema append of the same logical column won its
      // own fresh uuid), committing would orphan our bytes under a name
      // the metaData never mentions — readers would silently see null.
      // Abort loudly instead; the caller retries against the new state.
      for (wm <- writeMapping if mode == "append") {
        val stagedL2p = ColumnMapping.logicalToPhysical(wm)
        val finalL2p = ColumnMapping.logicalToPhysical(tableSchema)
        val conflicts = df.schema.fieldNames.filter(c =>
          finalL2p.get(c).exists(p => stagedL2p.get(c).exists(_ != p)))
        if (conflicts.nonEmpty)
          throw new IllegalStateException(
            s"graft-delta append to $table: column mapping for " +
              s"${conflicts.mkString(",")} changed concurrently " +
              "(racing schema evolution); re-run the append")
      }
      // IDENTITY range race: if another assigner advanced the mark
      // since our values were numbered, the staged bytes collide with
      // its range — redo the whole write against the fresh mark
      if (idSpecs.nonEmpty && mode == "append") {
        val freshBases = prior.flatMap(_.schemaJson)
          .map(j => IdentityColumns.of(
            DataType.fromJson(j).asInstanceOf[StructType]))
          .getOrElse(Nil).map(s => s.col -> s.base).toMap
        if (idSpecs.exists(s => freshBases.get(s.col).exists(_ != s.base)))
          throw new IdentityRangeConflict
      }
      // generated-column + identity metadata ride the committed schema
      // (identity with the ADVANCED high-water mark — monotone even
      // against a racing overwrite), and the protocol must GATE each
      // feature from the commit that introduces it — an unaware writer
      // appending without maintaining the invariant would silently
      // break every consumer that trusts it
      val genSchema = {
        val g = if (gens.isEmpty) tableSchema
          else GeneratedColumns.annotate(tableSchema, gens.toMap)
        if (idSpecs.isEmpty) g
        else {
          val priorHwm = prior.flatMap(_.schemaJson)
            .map(j => IdentityColumns.of(
              DataType.fromJson(j).asInstanceOf[StructType]))
            .getOrElse(Nil).flatMap(s => s.hwm.map(s.col -> _)).toMap
          IdentityColumns.annotate(g, idSpecs.map { s =>
            val merged = (idHwms.get(s.col), priorHwm.get(s.col)) match {
              case (Some(a), Some(b)) =>
                if (s.step > 0) math.max(a, b) else math.min(a, b)
              case (a, b) => a.orElse(b).getOrElse(s.base)
            }
            s.copy(hwm = Some(merged))
          })
        }
      }
      val neededFeatures =
        (if (gens.nonEmpty) Set(GeneratedColumns.Feature)
         else Set.empty[String]) ++
          (if (idSpecs.nonEmpty) Set(IdentityColumns.Feature)
           else Set.empty[String])
      val protocolActions =
        if (readVersion == -1L)
          Seq(if (neededFeatures.isEmpty) DeltaLog.protocolAction()
          else DeltaLog.protocolAction(1, 7, Nil, neededFeatures.toSeq))
        else if (neededFeatures.nonEmpty && prior.exists(p =>
            !(neededFeatures -- p.writerFeatures -- legacyImplied(p))
              .isEmpty))
          Seq(DeltaLog.protocolAction(
            prior.get.minReaderVersion,
            math.max(prior.get.minWriterVersion, 7),
            if (prior.get.minReaderVersion >= 3)
              prior.get.readerFeatures.toSeq else Nil,
            (prior.get.writerFeatures ++
              activeLegacyWriterFeatures(prior.get) ++
              neededFeatures).toSeq))
        else Nil
      // ROW TRACKING: fresh id ranges from the freshest high-water
      // mark, re-derived on every retry attempt (a racer may have
      // advanced the mark)
      val (addedR, ridActs) = prior match {
        case Some(p) => RowTracking.assignFresh(p, added, readVersion + 1)
        case None => (added, Nil)
      }
      val actions =
        Seq(DeltaLog.commitInfoAction(mode.toUpperCase)) ++
          // protocol belongs in a table's FIRST commit (Delta spec);
          // later commits inherit it from replay/checkpoint
          protocolActions ++
          Seq(DeltaLog.metaDataAction(genSchema.json, effectivePartitionBy,
            DeltaLog.tableId(table),
            // table properties (constraints, mapping mode) survive BOTH
            // modes: an overwrite replaces data, not the table's
            // contract. New mapped columns advance maxColumnId.
            prior.map(_.configuration).getOrElse(Map.empty) ++
              mappedMaxId.map(ColumnMapping.MaxIdKey -> _.toString))) ++
          txn.map { case (appId, v) => DeltaLog.txnAction(appId, v) }.toSeq ++
          removes ++
          ridActs ++
          addedR.map(DeltaLog.addActionOf(_))
      // a racer may have committed OUR txn version between attempts:
      // re-check before re-committing, else the batch lands twice (the
      // staged files are then orphans, dropped by transact)
      if (txnLanded(snap, txn)) Done(snap.version)
      else Commit(actions)
    }
    // overwrite leaves removed files on disk (old versions still need
    // them for time travel — same as real Delta until vacuum())
  }

  /** ALTER TABLE ADD CONSTRAINT (Delta's CHECK constraints): store
    * `delta.constraints.<name> = sqlExpr` in the metaData
    * configuration — the protocol's own encoding, so the property
    * rides every writer's carried-forward configuration — and enforce
    * it on all future row-introducing writes (write/merge/update).
    * Per the SQL standard (and Delta), a row VIOLATES only when the
    * expression evaluates to FALSE; NULL passes. Adding a constraint
    * requires the EXISTING data to satisfy it (one filter-limit-1
    * scan), and commits atomically like everything else. */
  def addCheckConstraint(spark: SparkSession, table: String,
      name: String, sqlExpr: String): Long = {
    import org.apache.spark.sql.functions.{expr, not}
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be alphanumeric/underscore: $name")
    require(!sqlExpr.contains('"'),
      "constraint expression must not contain double quotes")
    transact(table, "addCheckConstraint") { snap =>
      val bad = read(spark, table, Some(snap.version))
        .filter(not(expr(sqlExpr))).limit(1).count()
      require(bad == 0,
        s"cannot add CHECK constraint $name ($sqlExpr): existing rows violate it")
      val actions = Seq(
        DeltaLog.commitInfoAction("ADD CONSTRAINT")) ++
        // the Delta protocol gates CHECK constraints behind writer
        // version 3: upgrade atomically with the first constraint so a
        // stock writer that can't enforce it refuses to append rather
        // than silently committing violating rows
        (if (snap.minWriterVersion < 3)
          Seq(DeltaLog.protocolAction(snap.minReaderVersion, 3))
        else Nil) ++
        snap.schemaJson.map(DeltaLog.metaDataAction(_, snap.partitionColumns,
          DeltaLog.tableId(table),
          snap.configuration + (s"delta.constraints.$name" -> sqlExpr)))
      Commit(actions)
    }
  }

  /** ALTER TABLE DROP CONSTRAINT — remove `delta.constraints.<name>`
    * from the metaData configuration in one commit. Dropping an
    * unknown constraint refuses loudly (stock's IF EXISTS is the
    * caller's conditional, not silent tolerance here). The protocol
    * stays at writer ≥3 — the version gate is a high-water mark, not a
    * live count, matching stock Delta. */
  def dropCheckConstraint(table: String, name: String): Long = {
    val key = s"delta.constraints.$name"
    transact(table, "dropCheckConstraint") { snap =>
      require(snap.configuration.contains(key),
        s"no CHECK constraint named $name on $table " +
          s"(have: ${snap.checkConstraints.map(_._1).sorted.mkString(",")})")
      val actions = Seq(DeltaLog.commitInfoAction("DROP CONSTRAINT")) ++
        snap.schemaJson.map(DeltaLog.metaDataAction(_,
          snap.partitionColumns, DeltaLog.tableId(table),
          snap.configuration - key))
      Commit(actions)
    }
  }

  /** ALTER TABLE SET TBLPROPERTIES (k = v) — a plain metadata commit
    * carrying the updated configuration. Properties with their own
    * lifecycle APIs are rejected here: constraints need existing-data
    * validation ([[addCheckConstraint]]) and column mapping needs the
    * schema annotation + protocol upgrade ([[enableColumnMapping]]). */
  def setTableProperty(table: String, key: String, value: String): Long =
    setTableProperties(table, Seq(key -> value))

  /** Set several table properties in ONE commit — a multi-key
    * `ALTER TABLE … SET TBLPROPERTIES ('a'='1','b'='2')` must be a
    * single atomic version (round 11; the per-key loop could leave
    * half the properties applied on a crash or lost race). */
  def setTableProperties(table: String,
      kvs: Seq[(String, String)]): Long = {
    require(kvs.nonEmpty, "setTableProperties: no properties given")
    kvs.foreach { case (key, _) =>
      require(!key.startsWith("delta.constraints."),
        s"setTableProperty($key): use addCheckConstraint (existing data " +
          "must be validated)")
      require(!key.startsWith("delta.columnMapping."),
        s"setTableProperty($key): use enableColumnMapping (schema " +
          "annotation + protocol upgrade)")
      require(key != DeletionVectors.PropKey,
        s"setTableProperty($key): use enableDeletionVectors (protocol " +
          "must rise to the table-features gate atomically)")
    }
    transact(table, "setTableProperties") { snap =>
      // delta.enableChangeDataFeed is a PROTOCOL-bearing property
      // (stock Delta: writer feature `changeDataFeed`): once set, DML
      // writes `_change_data/` sidecars, and a writer that did not
      // would break every incremental consumer — so enabling it
      // atomically raises the protocol to the table-features gate
      // LISTING the feature (plus every other legacy feature the
      // table already uses), exactly like enableDeletionVectors.
      val protocolRise =
        if (kvs.contains("delta.enableChangeDataFeed" -> "true") &&
            !cdfEnabled(snap))
          Seq(DeltaLog.protocolAction(
            snap.minReaderVersion,
            math.max(snap.minWriterVersion, 7),
            if (snap.minReaderVersion >= 3) snap.readerFeatures.toSeq
            else Nil,
            (snap.writerFeatures ++ Set("changeDataFeed") ++
              activeLegacyWriterFeatures(snap)).toSeq))
        else Nil
      val actions = Seq(
        DeltaLog.commitInfoAction("SET TBLPROPERTIES")) ++ protocolRise ++ Seq(
        DeltaLog.metaDataAction(snap.schemaJson.getOrElse(
            new StructType().json), snap.partitionColumns,
          DeltaLog.tableId(table), snap.configuration ++ kvs))
      Commit(actions)
    }
  }

  /** ALTER TABLE SET delta.columnMapping.mode = 'name' — the one-way
    * upgrade that makes RENAME and DROP metadata-only operations. Every
    * existing column's physical name freezes to its current logical
    * name (the committed files already store exactly that), each gets a
    * stable id, and the protocol rises to (reader 2, writer 5) per the
    * Delta spec so a mapping-unaware client refuses the table instead
    * of misreading it. Idempotent. */
  def enableColumnMapping(table: String): Long = {
    transact(table, "enableColumnMapping") { snap =>
      if (ColumnMapping.enabled(snap)) Done(snap.version)
      else {
        require(!RowTracking.enabled(snap),
          s"enableColumnMapping($table): not supported on row-tracked " +
            "tables (see enableRowTracking — the composition is refused " +
            "both ways)")
        val schema = snap.schemaJson
          .map(j => DataType.fromJson(j).asInstanceOf[StructType])
          .getOrElse(throw new IllegalStateException(
            s"enableColumnMapping($table): table has no committed schema"))
        val (annotated, maxId) = ColumnMapping.annotateAsIs(schema, 0L)
        val actions = Seq(
          DeltaLog.commitInfoAction("SET COLUMN MAPPING"),
          DeltaLog.protocolAction(
            math.max(snap.minReaderVersion, 2),
            math.max(snap.minWriterVersion, 5),
            // a table already at the features gate (DV enabled) must keep
            // LISTING its features — and gain the mapping one
            if (snap.minReaderVersion >= 3)
              (snap.readerFeatures + "columnMapping").toSeq else Nil,
            if (snap.minWriterVersion >= 7)
              (snap.writerFeatures + "columnMapping").toSeq else Nil),
          DeltaLog.metaDataAction(annotated.json, snap.partitionColumns,
            DeltaLog.tableId(table),
            snap.configuration +
              (ColumnMapping.ModeKey -> "name") +
              (ColumnMapping.MaxIdKey -> maxId.toString)))
        Commit(actions)
      }
    }
  }

  private[graft] def dvEnabled(snap: DeltaLog.Snapshot): Boolean =
    snap.configuration.get(DeletionVectors.PropKey).contains("true")

  /** What one [[transact]] attempt decided against its snapshot. */
  private[graft] sealed trait Txn
  /** Commit `actions` as the snapshot's next version. `staged` are the
    * table-relative files this attempt wrote (data files,
    * `_change_data/` sidecars, deletion-vector sidecars): no version
    * references them unless this commit lands. */
  private[graft] final case class Commit(actions: Seq[String],
      staged: Seq[String] = Nil) extends Txn
  /** Nothing to commit: the op resolves to `version` as it stands. */
  private[graft] final case class Done(version: Long) extends Txn

  /** The optimistic transaction every mutating commit runs through.
    *
    * Each attempt takes a fresh snapshot (with `create`, a table with
    * no log yet reads as an empty version −1 snapshot), hands it to
    * `attempt`, and commits the returned actions as the snapshot's
    * next version. The writer-side protocol gate
    * ([[DeltaLog.assertWritable]]) runs against the same snapshot, so
    * a protocol upgrade or `delta.appendOnly` flip that wins the race
    * is honored on the retry, not silently overwritten. The commit is
    * pinned to the snapshot the actions were derived from: a DML or
    * compaction never clobbers data it did not read, because a racing
    * commit fails the pin and the whole attempt re-runs.
    *
    * Cleanup: when an attempt's commit does not land, its `staged`
    * files are deleted — on every lost race, the last included.
    * `prestaged` are files written once before the transaction
    * (`write` stages before it retries): they are deleted unless a
    * commit lands.
    *
    * Policy: only a lost race ([[DeltaLog.CommitConflictException]])
    * retries, up to 16 attempts with a 5 ms × attempt sleep between
    * them; then one IllegalStateException naming the op and the table.
    * Anything else `attempt` or the gate throws surfaces on the attempt
    * that raised it. */
  private[graft] def transact(table: String, op: String,
      create: Boolean = false, prestaged: Seq[String] = Nil)(
      attempt: DeltaLog.Snapshot => Txn): Long = {
    val maxAttempts = 16
    def drop(files: Seq[String]): Unit =
      files.foreach(p => Files.deleteIfExists(Paths.get(table).resolve(p)))
    var landed = false
    @annotation.tailrec
    def run(n: Int): Long = {
      val snap =
        if (create && DeltaLog.versions(table).isEmpty)
          DeltaLog.Snapshot(-1L, None, Nil)
        else DeltaLog.snapshot(table)
      attempt(snap) match {
        case Done(v) => v
        case Commit(actions, staged) =>
          val won =
            try {
              DeltaLog.assertWritable(table, snap, actions)
              // passing the scanned snapshot lets commit derive the
              // N.crc checksum incrementally (pre-state + actions)
              // instead of re-replaying the log — O(actions) per commit
              Some(timed(s"log-commit $table") {
                DeltaLog.commit(table, snap.version, actions, Some(snap)) })
            } catch {
              case _: DeltaLog.CommitConflictException => drop(staged); None
              case e: Throwable => drop(staged); throw e
            }
          won match {
            case Some(v) =>
              landed = true
              v
            case None if n < maxAttempts =>
              Thread.sleep(5L * n)
              run(n + 1)
            case None => throw new IllegalStateException(
              s"$op($table): lost the commit race $maxAttempts times")
          }
      }
    }
    try run(1) finally if (!landed) drop(prestaged)
  }

  /** The `(appId, version)` idempotence check of [[write]] and
    * [[merge]]: whether `snap` already records that version (or a
    * later one) for the app. Both run it on every attempt, so two
    * racing replays of the same batch commit exactly once. */
  private def txnLanded(snap: DeltaLog.Snapshot,
      txn: Option[(String, Long)]): Boolean =
    txn.exists { case (appId, v) => snap.txns.get(appId).exists(_ >= v) }

  /** Legacy writer capabilities ACTIVE on this snapshot — the set a
    * legacy→table-features protocol upgrade must carry into
    * `writerFeatures` (Delta spec: a version-7 table lists everything
    * it uses; dropping one on upgrade would let a feature-unaware
    * writer corrupt it). */
  private def activeLegacyWriterFeatures(
      snap: DeltaLog.Snapshot): Set[String] =
    (if (snap.checkConstraints.nonEmpty) Set("checkConstraints")
     else Set.empty[String]) ++
      (if (cdfEnabled(snap)) Set("changeDataFeed") else Set.empty) ++
      (if (snap.configuration.get("delta.appendOnly").contains("true"))
        Set("appendOnly") else Set.empty) ++
      (if (ColumnMapping.enabled(snap)) Set("columnMapping") else Set.empty) ++
      (if (GeneratedColumns.anyIn(snap.schemaJson))
        Set(GeneratedColumns.Feature) else Set.empty) ++
      (if (IdentityColumns.anyIn(snap.schemaJson))
        Set(IdentityColumns.Feature) else Set.empty)

  /** Writer features a LEGACY minWriterVersion already implies (the
    * protocol's version ladder) — no features-gate raise is needed
    * when the ladder covers the feature. */
  private def legacyImplied(snap: DeltaLog.Snapshot): Set[String] =
    snap.minWriterVersion match {
      case 4 => Set(GeneratedColumns.Feature, "changeDataFeed")
      case 5 => Set(GeneratedColumns.Feature, "changeDataFeed",
        "columnMapping")
      case 6 => Set(GeneratedColumns.Feature, "changeDataFeed",
        "columnMapping", IdentityColumns.Feature)
      case _ => Set.empty
    }

  /** ALTER TABLE SET delta.enableDeletionVectors = true: DELETEs stop
    * rewriting touched files and instead mark dead rows in sidecar
    * bitmaps (see [[DeletionVectors]]). The protocol rises atomically
    * to the table-features gate (reader 3 / writer 7) LISTING the
    * feature, so a DV-unaware client refuses the table instead of
    * resurrecting deleted rows. One-way, like the mapping upgrade.
    * Idempotent. */
  def enableDeletionVectors(table: String): Long = {
    transact(table, "enableDeletionVectors") { snap =>
      if (dvEnabled(snap)) Done(snap.version)
      else {
        val feats = Set("deletionVectors") ++
          (if (ColumnMapping.enabled(snap)) Set("columnMapping") else Set.empty)
        val wfeats = feats ++ activeLegacyWriterFeatures(snap)
        val actions = Seq(
          DeltaLog.commitInfoAction("SET DELETION VECTORS"),
          DeltaLog.protocolAction(
            math.max(snap.minReaderVersion, 3),
            math.max(snap.minWriterVersion, 7),
            (snap.readerFeatures ++ feats).toSeq,
            (snap.writerFeatures ++ wfeats).toSeq),
          DeltaLog.metaDataAction(snap.schemaJson.getOrElse(
              new StructType().json), snap.partitionColumns,
            DeltaLog.tableId(table),
            snap.configuration + (DeletionVectors.PropKey -> "true")))
        Commit(actions)
      }
    }
  }

  /** Opt the table into V2 CHECKPOINTS (the protocol's `v2Checkpoint`
    * reader-writer feature + `delta.checkpointPolicy=v2`): from the
    * next checkpoint on, [[writeCheckpoint]] writes the MANIFEST +
    * SIDECARS shape — the tiny manifest carries checkpointMetadata /
    * protocol / metaData / txn / domain actions and `sidecar`
    * references; the file actions live in `_delta_log/_sidecars/`
    * parquet files, split by the same per-file action cap the
    * multi-part classic shape uses. The protocol rises to the
    * features gate LISTING v2Checkpoint in BOTH feature sets — a
    * reader that cannot follow sidecar references must refuse the
    * table rather than replay half a snapshot. */
  def enableV2Checkpoints(table: String): Long = {
    transact(table, "enableV2Checkpoints") { snap =>
      if (snap.configuration.get("delta.checkpointPolicy").contains("v2"))
        Done(snap.version)
      else {
        val feats = Set("v2Checkpoint") ++
          (if (ColumnMapping.enabled(snap)) Set("columnMapping") else Set.empty) ++
          (if (dvEnabled(snap)) Set("deletionVectors") else Set.empty)
        val wfeats = feats ++ snap.writerFeatures ++
          activeLegacyWriterFeatures(snap)
        val actions = Seq(
          DeltaLog.commitInfoAction("SET CHECKPOINT POLICY"),
          DeltaLog.protocolAction(
            math.max(snap.minReaderVersion, 3),
            math.max(snap.minWriterVersion, 7),
            (snap.readerFeatures ++ feats).toSeq,
            wfeats.toSeq),
          DeltaLog.metaDataAction(snap.schemaJson.getOrElse(
              new StructType().json), snap.partitionColumns,
            DeltaLog.tableId(table),
            snap.configuration + ("delta.checkpointPolicy" -> "v2")))
        Commit(actions)
      }
    }
  }

  /** Opt the table into IN-COMMIT TIMESTAMPS (the protocol's
    * `inCommitTimestamp` writer feature): from the next commit on,
    * every commitInfo carries an engine-assigned, strictly-monotone
    * `inCommitTimestamp` (stamped centrally in [[DeltaLog.commit]]),
    * and `timestampAsOf` resolves against it — immune to file-mtime
    * scrambling (backup/restore, copies) and writer clock skew, which
    * the pre-ICT path can only monotonize after the fact. Records the
    * spec's enablement provenance (version + wall time) so consumers
    * know which historical versions predate the guarantee. */
  def enableInCommitTimestamps(table: String): Long = {
    transact(table, "enableInCommitTimestamps") { snap =>
      if (snap.configuration.get("delta.enableInCommitTimestamps")
          .contains("true")) Done(snap.version)
      else {
        val wfeats = Set("inCommitTimestamp") ++ snap.writerFeatures ++
          activeLegacyWriterFeatures(snap) ++
          (if (ColumnMapping.enabled(snap)) Set("columnMapping")
           else Set.empty[String]) ++
          (if (dvEnabled(snap)) Set("deletionVectors") else Set.empty[String])
        val actions = Seq(
          DeltaLog.commitInfoAction("SET IN-COMMIT TIMESTAMPS"),
          DeltaLog.protocolAction(snap.minReaderVersion,
            math.max(snap.minWriterVersion, 7),
            snap.readerFeatures.toSeq, wfeats.toSeq),
          DeltaLog.metaDataAction(snap.schemaJson.getOrElse(
              new StructType().json), snap.partitionColumns,
            DeltaLog.tableId(table),
            snap.configuration ++ Map(
              "delta.enableInCommitTimestamps" -> "true",
              "delta.inCommitTimestampEnablementVersion" ->
                (snap.version + 1).toString,
              "delta.inCommitTimestampEnablementTimestamp" ->
                System.currentTimeMillis().toString)))
        Commit(actions)
      }
    }
  }

  /** Opt the table into ROW TRACKING (see [[RowTracking]]): one commit
    * BACKFILLS a baseRowId onto every live file (metadata-only
    * re-adds — zero data bytes move; ranges assigned in the
    * deterministic live-file order, sized by each file's row-count
    * stat), parks the high-water mark in the `delta.rowTracking`
    * domain, and gates `rowTracking` + `domainMetadata` at writer 7.
    * From then on every committed add carries an id range. Column
    * mapping composition is not implemented — refused loudly (the
    * materialized-column plumbing would need physical-name awareness). */
  def enableRowTracking(table: String): Long = {
    transact(table, "enableRowTracking") { snap =>
      if (RowTracking.enabled(snap)) Done(snap.version)
      else {
        require(!ColumnMapping.enabled(snap),
          s"enableRowTracking($table): not supported on column-mapped " +
            "tables (materialized row-id columns are physically named)")
        var next = RowTracking.highWaterMark(snap) + 1
        val backfilled = snap.files.map { f =>
          val n = f.stats.get("n").flatMap(_.toLongOption).getOrElse(
            throw new IllegalStateException(
              s"enableRowTracking($table): live file ${f.path} lacks a " +
                "row-count stat; cannot size its id range (foreign " +
                "writer?) — OPTIMIZE the table first"))
          val withId = f.copy(baseRowId = Some(next),
            defaultRowCommitVersion = Some(snap.version + 1))
          next += n
          withId
        }
        val wfeats = snap.writerFeatures ++
          activeLegacyWriterFeatures(snap) ++
          Set("rowTracking", "domainMetadata") ++
          (if (dvEnabled(snap)) Set("deletionVectors") else Set.empty[String])
        val actions = Seq(
          DeltaLog.commitInfoAction("SET ROW TRACKING"),
          DeltaLog.protocolAction(snap.minReaderVersion,
            math.max(snap.minWriterVersion, 7),
            snap.readerFeatures.toSeq, wfeats.toSeq),
          DeltaLog.metaDataAction(snap.schemaJson.getOrElse(
              new StructType().json), snap.partitionColumns,
            DeltaLog.tableId(table),
            snap.configuration + (RowTracking.PropKey -> "true")),
          RowTracking.domainAction(next - 1)) ++
          backfilled.map(DeltaLog.addActionOf(_, dataChange = false))
        Commit(actions)
      }
    }
  }

  /** Guard shared by rename/drop: mapping on, column exists, column is
    * not load-bearing for the physical layout (partition dirs use its
    * name) or the table contract (a CHECK constraint's expression would
    * dangle — stock Delta rejects both the same way). */
  private def requireEvolvable(snap: DeltaLog.Snapshot, table: String,
      name: String, op: String): StructType = {
    if (!ColumnMapping.enabled(snap))
      throw new SchemaEvolutionException("rename-or-drop",
        s"$op($table, $name): column mapping is not enabled — run " +
          "enableColumnMapping first (rename/drop without mapping would " +
          "require a rewrite)")
    val schema = snap.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType]).get
    require(schema.fieldNames.contains(name),
      s"$op($table): no such column $name " +
        s"(have ${schema.fieldNames.mkString(",")})")
    require(!snap.partitionColumns.contains(name),
      s"$op($table, $name): partition columns name the physical directory " +
        "layout; evolving one requires a rewrite")
    val referencing = snap.checkConstraints.filter { case (_, e) =>
      ("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
        .findFirstIn(e).nonEmpty }
    require(referencing.isEmpty,
      s"$op($table, $name): column is referenced by CHECK constraint(s) " +
        referencing.map(_._1).mkString(",") + "; drop the constraint first")
    // a generation expression references its bases by NAME; renaming or
    // dropping one would leave the generated column unmaintainable
    // (stock Delta rejects the same way)
    val genRefs = GeneratedColumns.of(schema).filter { case (_, e) =>
      GeneratedColumns.referencedColumns(e).contains(name) }
    require(genRefs.isEmpty,
      s"$op($table, $name): column is referenced by generated column(s) " +
        genRefs.map(_._1).mkString(",") + "; redefine the table first")
    schema
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only under column mapping:
    * the logical name changes, the physical name and every data file
    * stay put. Old versions time-travel to the old name (each version's
    * metaData carries its own mapping). */
  def renameColumn(table: String, oldName: String, newName: String): Long = {
    transact(table, "renameColumn") { snap =>
      val schema = requireEvolvable(snap, table, oldName, "renameColumn")
      require(!schema.fieldNames.contains(newName),
        s"renameColumn($table): $newName already exists")
      require(newName.nonEmpty && !newName.contains('.'),
        s"renameColumn($table): bad column name '$newName'")
      val renamed = StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val actions = Seq(
        DeltaLog.commitInfoAction("RENAME COLUMN"),
        DeltaLog.metaDataAction(renamed.json, snap.partitionColumns,
          DeltaLog.tableId(table), snap.configuration))
      Commit(actions)
    }
  }

  /** ALTER TABLE DROP COLUMN — metadata-only under column mapping: the
    * field leaves the schema; the bytes stay in the files, unprojected.
    * A later append that re-ADDS the same logical name mints a FRESH
    * physical name (see [[ColumnMapping.annotateNew]]), so the dropped
    * bytes can never resurrect — the new column reads null over old
    * files like any additive column. */
  def dropColumn(table: String, name: String): Long = {
    transact(table, "dropColumn") { snap =>
      val schema = requireEvolvable(snap, table, name, "dropColumn")
      require(schema.fields.length > 1,
        s"dropColumn($table, $name): cannot drop the last column")
      val remaining = StructType(schema.fields.filterNot(_.name == name))
      val actions = Seq(
        DeltaLog.commitInfoAction("DROP COLUMN"),
        DeltaLog.metaDataAction(remaining.json, snap.partitionColumns,
          DeltaLog.tableId(table), snap.configuration))
      Commit(actions)
    }
  }

  /** The public Delta `typeWidening` matrix: type changes every
    * engine-supported parquet reader can serve WITHOUT rewriting old
    * files (Spark 4's readers up-convert int32→int64, float→double,
    * int→double, decimal precision/scale growth, int→decimal in both
    * the vectorized and row paths — probed, and pinned by DeltaSpec).
    * Integer→decimal needs enough INTEGER digits (p−s) for the source
    * type's full range; decimal→decimal may not shrink either side.
    * date→timestamp is deliberately absent: the engine normalizes all
    * timestamps to session-zoned TimestampType, and the NTZ-based
    * widening the spec defines would change query semantics here. */
  private def isWideningChange(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale &&
          (t.precision > f.precision || t.scale > f.scale)
      case (ByteType, t: DecimalType) => t.precision - t.scale >= 3
      case (ShortType, t: DecimalType) => t.precision - t.scale >= 5
      case (IntegerType, t: DecimalType) => t.precision - t.scale >= 10
      case (LongType, t: DecimalType) => t.precision - t.scale >= 20
      case _ => false
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE — the protocol's TYPE WIDENING
    * feature: a METADATA-ONLY commit changes the column's committed
    * type to a wider one; every existing data file keeps its narrower
    * physical encoding and the parquet readers up-convert at scan time
    * (scans stay vectorized — DeltaSpec pins `Batched: true` across a
    * widen). At 100 TB this is the difference between "ids outgrew
    * INT32" being one log commit and being a full-table rewrite.
    *
    * Wrong-answer guards: only matrix widenings pass (narrowing or
    * cross-family changes throw the typed SchemaEvolutionException);
    * partition columns refuse (their values live as directory strings
    * keyed by the committed type); identity columns refuse (the
    * assignment contract is BIGINT); generated columns and their bases
    * refuse (the generation expression's result type is pinned at
    * definition). Old stats keep serving: the skipping comparator
    * parses numerics via BigDecimal, so int-era min/max strings order
    * correctly against widened-type predicates.
    *
    * Protocol: the commit raises the table to the features gate (3,7)
    * listing `typeWidening` in BOTH feature sets — a reader that would
    * scan old files expecting the wide type must know to up-convert,
    * and per the spec the change history is recorded in the field's
    * `delta.typeChanges` metadata. Sets `delta.enableTypeWidening`. */
  def alterColumnType(table: String, name: String, to: DataType): Long = {
    transact(table, "alterColumnType") { snap =>
      val schema = snap.schemaJson
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(throw new IllegalStateException(
          s"alterColumnType($table): table has no committed schema"))
      val field = schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"alterColumnType($table): no such column $name " +
            s"(have ${schema.fieldNames.mkString(",")})"))
      if (!isWideningChange(field.dataType, to))
        throw new SchemaEvolutionException("type-change",
          s"alterColumnType($table, $name): ${field.dataType.simpleString}" +
            s" -> ${to.simpleString} is not a supported widening (old " +
            "files keep their physical encoding; only changes every " +
            "reader can up-convert are metadata-only — narrowing or " +
            "cross-family changes need a rewrite through overwrite)")
      require(!snap.partitionColumns.contains(name),
        s"alterColumnType($table, $name): partition column values are " +
          "directory strings typed by the committed schema; widening " +
          "one requires a rewrite")
      require(!IdentityColumns.of(schema).exists(_.col == name),
        s"alterColumnType($table, $name): identity columns are BIGINT " +
          "by contract")
      val gen = GeneratedColumns.of(schema)
      require(!gen.exists(_._1 == name) && !gen.exists { case (_, e) =>
          GeneratedColumns.referencedColumns(e).contains(name) },
        s"alterColumnType($table, $name): generated columns and their " +
          "base columns have expression-pinned types; redefine the " +
          "table first")
      // record the change in the field's metadata per the protocol
      // (history appends; tableVersion = the version this commit lands
      // at — recomputed on a lost race)
      val prior = if (field.metadata.contains("delta.typeChanges"))
        field.metadata.getString("delta.typeChanges") else "[]"
      // the protocol records PARAMETERIZED type strings — typeName
      // flattens decimal(10,2) to just "decimal", logging the widening
      // ambiguously for any reader consulting the history
      def protoType(dt: DataType): String = dt match {
        case d: org.apache.spark.sql.types.DecimalType => d.simpleString
        case other => other.typeName
      }
      val entry = s"""{"fromType":"${protoType(field.dataType)}",""" +
        s""""toType":"${protoType(to)}","tableVersion":${snap.version + 1}}"""
      val hist = prior.stripSuffix("]") +
        (if (prior == "[]") "" else ",") + entry + "]"
      val widened = StructType(schema.fields.map(f =>
        if (f.name != name) f
        else f.copy(dataType = to,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("delta.typeChanges", hist).build())))
      val feats = Set("typeWidening") ++
        (if (ColumnMapping.enabled(snap)) Set("columnMapping") else Set.empty) ++
        (if (dvEnabled(snap)) Set("deletionVectors") else Set.empty)
      val actions = Seq(
        DeltaLog.commitInfoAction("ALTER COLUMN TYPE"),
        DeltaLog.protocolAction(
          math.max(snap.minReaderVersion, 3),
          math.max(snap.minWriterVersion, 7),
          (snap.readerFeatures ++ feats).toSeq,
          (snap.writerFeatures ++ feats ++
            activeLegacyWriterFeatures(snap)).toSeq),
        DeltaLog.metaDataAction(widened.json, snap.partitionColumns,
          DeltaLog.tableId(table),
          snap.configuration + ("delta.enableTypeWidening" -> "true")))
      Commit(actions)
    }
  }

  /** Enforce the table's CHECK constraints against freshly staged
    * files; on violation the orphan staged files are removed and the
    * write fails loudly BEFORE any commit references them. One
    * pushed-down filter-limit-1 scan per constraint over only the
    * staged bytes (parquet row-group stats usually answer it without
    * reading data pages). */
  /** The mapping-annotated logical schema of `snap`, iff column mapping
    * is enabled — the value every mapped code path threads around. */
  private def mappingOf(snap: DeltaLog.Snapshot): Option[StructType] =
    if (!ColumnMapping.enabled(snap)) None
    else snap.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** Names of the row-position plumbing columns
    * [[readTableFilesWithPos]] appends (prefixed to never collide with
    * a user column; stripped by [[readTableFiles]]). */
  private val PosFile = "__gdv_file"
  private val PosIdx = "__gdv_idx"

  /** Read specific table files under the committed schema, LOGICAL-named
    * — the one read shape DML rewrites need: physical bytes in, logical
    * frame out (identity when mapping is off or never diverged). Rows
    * marked dead by a live deletion vector are subtracted — UNLESS
    * `applyDv=false`: a HISTORICAL consumer (the change feed reading an
    * old append version's files) must see the rows as they were
    * inserted, not as the CURRENT snapshot's vectors have since marked
    * them (the later delete contributes its own change rows). */
  /** Whether every requested path sits under the table directory — a
    * shallow clone's absolute source references don't, and partitioned
    * reads of those must serve partition values from the LOG (no
    * common basePath exists for directory inference). */
  private def allUnderTable(table: String, paths: Seq[String]): Boolean = {
    val prefix =
      Paths.get(table).toAbsolutePath.normalize.toString.stripSuffix("/") + "/"
    paths.forall(p => Paths.get(p).toAbsolutePath.normalize.toString
      .startsWith(prefix))
  }

  /** The requested paths' AddFiles, from the snapshot. */
  private def restrictTo(table: String, snap: DeltaLog.Snapshot,
      paths: Seq[String]): Seq[DeltaLog.AddFile] = {
    val wanted = paths.map(p =>
      Paths.get(p).toAbsolutePath.normalize.toString).toSet
    snap.files.filter(f => wanted.contains(
      Paths.get(table).resolve(f.path).toAbsolutePath.normalize.toString))
  }

  private def readTableFiles(spark: SparkSession, table: String,
      snap: DeltaLog.Snapshot, paths: Seq[String],
      applyDv: Boolean = true): DataFrame = {
    if (snap.partitionColumns.nonEmpty && !allUnderTable(table, paths)) {
      // shallow-clone shape: log-backed relation (partition values from
      // the log; the DV-aware format subtracts dead rows in-scan)
      val sub = restrictTo(table, snap, paths)
      return GraftDeltaRelation.frame(spark, table, snap.copy(files =
        if (applyDv) sub else sub.map(_.copy(dv = None))))
    }
    if (applyDv && snap.files.exists(_.dv.isDefined))
      return readTableFilesWithPos(spark, table, snap, paths)
        .drop(PosFile, PosIdx)
    // fast path (no vectors anywhere): no metadata columns, plan
    // byte-identical to pre-DV behavior
    val reader =
      if (snap.partitionColumns.isEmpty) spark.read
      else spark.read.option("basePath", table)
    val s = snap.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    s match {
      case None => reader.parquet(paths: _*)
      case Some(logical) if !ColumnMapping.enabled(snap) =>
        reader.schema(logical).parquet(paths: _*)
      case Some(logical) =>
        ColumnMapping.toLogical(
          reader.schema(ColumnMapping.physicalSchema(logical))
            .parquet(paths: _*), logical)
    }
  }

  /** [[readTableFiles]] plus two plumbing columns: the scanned file's
    * path ([[PosFile]]) and the row's PHYSICAL index within it
    * ([[PosIdx]], from `_metadata.row_index` — correct under pushdown
    * and row-group skipping, which is why DV bookkeeping uses it and
    * never a counter). Deletion-vector rows are already subtracted:
    * consumers see live rows tagged with their physical position — the
    * exact shape DV-writing DML needs. */
  private def readTableFilesWithPos(spark: SparkSession, table: String,
      snap: DeltaLog.Snapshot, paths: Seq[String]): DataFrame = {
    if (snap.partitionColumns.nonEmpty && !allUnderTable(table, paths)) {
      // shallow-clone shape: plain log-backed scan (DVs stripped so the
      // physical row index is still visible), then the explicit
      // subtraction below-equivalent — mirrors the in-table path
      val sub = restrictTo(table, snap, paths).map(_.copy(dv = None))
      val raw = GraftDeltaRelation.frame(spark, table,
        snap.copy(files = sub))
        .withColumn(PosFile, col("_metadata.file_path"))
        .withColumn(PosIdx, col("_metadata.row_index"))
      return subtractDeleted(raw, table, snap)
    }
    val reader =
      if (snap.partitionColumns.isEmpty) spark.read
      else spark.read.option("basePath", table)
    val s = snap.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val mapped = ColumnMapping.enabled(snap)
    val raw0 = s match {
      case None => reader.parquet(paths: _*)
      case Some(logical) if !mapped =>
        reader.schema(logical).parquet(paths: _*)
      case Some(logical) =>
        reader.schema(ColumnMapping.physicalSchema(logical))
          .parquet(paths: _*)
    }
    val raw = raw0
      .withColumn(PosFile, col("_metadata.file_path"))
      .withColumn(PosIdx, col("_metadata.row_index"))
    val live = subtractDeleted(raw, table, snap)
    s match {
      case Some(logical) if mapped =>
        live.select(logical.fields.map(f =>
          col(ColumnMapping.physicalName(f)).as(f.name)).toIndexedSeq
          ++ Seq(col(PosFile), col(PosIdx)): _*)
      case _ => live
    }
  }

  /** Shared DV-DML planner: given the matched (condition/key-hit) rows
    * of the touched files — carrying [[PosFile]]/[[PosIdx]] — compute
    * each touched file's would-be vector (existing ∪ new positions) and
    * split the files into (vector-in-place, rewrite-instead). The
    * per-file position collect is log-sized on the driver (one row per
    * touched file; array length = that file's matched count).
    *
    * A file more than half dead REWRITES instead: a vector that big
    * taxes every future read, and the rewrite is strictly smaller than
    * the vector's eventual cost (same heuristic as stock Delta). Mixed
    * commits (some files vectored, some rewritten) are protocol-legal. */
  private def planDvDml(table: String, snap: DeltaLog.Snapshot,
      touched: Set[String], matched: DataFrame)
      : (Seq[(DeltaLog.AddFile, Array[Int])], Seq[DeltaLog.AddFile]) = {
    // keys are FULL normalized absolute paths (round 10 — same fix as
    // rowIdFrame: a basename collision across commits/partition dirs
    // would attribute one file's dead positions to another)
    val pathPos: Seq[(String, (String, Array[Int]))] = matched
      .groupBy(col(PosFile))
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(col(PosIdx))).as("pos"))
      .collect().toSeq.flatMap { r =>
        val pos = r.getSeq[Long](1).map(_.toInt).toArray
        scanPathForms(r.getString(0)).map(_ -> (r.getString(0), pos))
      }
    // Fail loudly if two scanned files' path forms collide on one key
    // (one file's raw render decoding to another file's plain path —
    // e.g. sibling dirs literally named 'a%20b' and 'a b'): a silent
    // last-wins toMap would attribute dead positions to the wrong file.
    val perFile: Map[String, Array[Int]] =
      pathPos.groupBy(_._1).map { case (k, vs) =>
        val srcs = vs.map(_._2._1).distinct
        require(srcs.size == 1,
          s"DV DML: scanned file paths ${srcs.mkString("'", "', '", "'")} " +
            s"both resolve to key '$k' after percent-decode; cannot " +
            "attribute deleted row positions unambiguously")
        k -> vs.head._2._2
      }
    def absKey(rel: String): String =
      Paths.get(table).resolve(rel).toAbsolutePath.normalize.toString
    val byPath = snap.files.map(f => absKey(f.path) -> f).toMap
    val plans = touched.toSeq.sorted.map { rel =>
      val key = absKey(rel)
      val f = byPath(key)
      val old = f.dv.map(DeletionVectors.read(table, _))
        .getOrElse(Array.empty[Int])
      (f, DeletionVectors.union(old, perFile.getOrElse(key, Array.empty)))
    }
    val (dv, rw) = plans.partition { case (f, ndv) =>
      f.stats.get("n").flatMap(_.toLongOption).forall(ndv.length * 2L <= _) }
    (dv, rw.map(_._1))
  }

  /** Both candidate key forms of a scan-side path render
    * (`_metadata.file_path`'s `file:` URI or a plain path) against the
    * plain absolute form [[java.nio.file.Path]] produces — the shared
    * key form of every per-file literal map (round 10). The URI render
    * is PERCENT-ENCODED (a space becomes `%20`), so the scheme strip
    * alone left keys that never match on paths with spaces/non-ASCII
    * chars and DV DML silently no-op'd there (round 11). But an
    * UNCONDITIONAL decode re-introduces the same silent-no-op class
    * for a path legitimately containing a valid %-escape (a directory
    * literally named `sale%20off`, reaching the scan as a PLAIN
    * render): it mis-decodes to a space and never matches either. So —
    * mirroring [[scanKeyForms]] on the driver side — emit BOTH the raw
    * stripped form and its decoded form (decoded last: it wins a map
    * collision, matching the common URI-render case) and let the
    * driver-resolved key hit whichever is right. `+` is protected
    * (path encoding keeps it; URLDecoder's query rules don't). */
  private def scanPathForms(p: String): Seq[String] = {
    val noScheme =
      if (p.startsWith("file:")) "/" + p.substring(5).dropWhile(_ == '/')
      else p
    val decoded =
      try java.net.URLDecoder.decode(noScheme.replace("+", "%2B"), "UTF-8")
      catch { case _: IllegalArgumentException => noScheme }
    if (decoded == noScheme) Seq(noScheme) else Seq(noScheme, decoded)
  }

  /** Both renders a scan may produce for one absolute file path — the
    * plain decoded form and the percent-encoded URI path form
    * `_metadata.file_path`/`input_file_name` use — so column-side
    * lookups keyed on driver-resolved paths hit under either
    * convention (they only diverge on paths with spaces/non-ASCII). */
  private def scanKeyForms(p: String): Seq[String] = {
    val enc = Paths.get(p).toUri.getRawPath
    if (enc == p) Seq(p) else Seq(p, enc)
  }

  /** Restrict a [[readTableFilesWithPos]] frame to rows scanned from
    * the given files (FULL normalized absolute paths — basenames
    * collide across partition dirs / commits). */
  private def rowsFromFiles(df: DataFrame, paths: Set[String]): DataFrame =
    df.filter(org.apache.spark.sql.functions.regexp_replace(
      col(PosFile), "^file:/*", "/")
      .isin(paths.toSeq.flatMap(scanKeyForms): _*))

  /** Filter out rows a live deletion vector marks dead. The vector map
    * is log-sized (one sorted int array per vectored file, total size =
    * deleted-row count) and broadcast once; the per-row check is a
    * binary search — no shuffle, no join, the filter rides the scan
    * stage. */
  /** `files` of `snap` as a LOGICAL frame carrying two extra columns:
    * `_row_id` — the row's stable ROW TRACKING id — and
    * `_row_commit_version`. Resolution per row: the materialized
    * [[RowTracking.IdCol]] column when the file carries one (a
    * compacted rewrite), else the file's `baseRowId` + the row's
    * physical index (`_metadata.row_index`, so deletion-vector
    * deletes leave survivor ids untouched). The per-file base map is
    * log-sized and enters the plan as a literal — no join, no
    * shuffle; the scan stays one distributed parquet read. */
  private def rowIdFrame(spark: SparkSession, table: String,
      snap: DeltaLog.Snapshot, files: Seq[DeltaLog.AddFile]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, element_at, lit, map}
    import org.apache.spark.sql.types.LongType
    val logical = snap.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"readWithRowIds($table): no committed schema"))
    val outSchema = StructType(logical.fields ++ Seq(
      StructField("_row_id", LongType), StructField("_row_commit_version",
        LongType)))
    if (files.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row], outSchema)
    val readSchema = StructType(logical.fields ++ Seq(
      StructField(RowTracking.IdCol, LongType),
      StructField(RowTracking.VerCol, LongType)))
    val reader =
      if (snap.partitionColumns.isEmpty) spark.read
      else spark.read.option("basePath", table)
    val raw = reader.schema(readSchema).parquet(
      files.map(f => Paths.get(table).resolve(f.path).toString): _*)
      .withColumn(PosFile, col("_metadata.file_path"))
      .withColumn(PosIdx, col("_metadata.row_index"))
    val live = subtractDeleted(raw, table, snap)
    // Key the per-file literal map by FULL normalized absolute path,
    // not basename: basenames carry only ~32 bits of commitTag entropy
    // (birthday collision around 2^16 commits) and two partition dirs
    // can legitimately hold files with equal names — either would
    // silently assign one file's base ids to another's rows.
    // `_metadata.file_path` renders as a file: URI; normalize its
    // scheme prefix to a plain absolute path to match the resolved key.
    import org.apache.spark.sql.functions.regexp_replace
    val fname = regexp_replace(col(PosFile), "^file:/*", "/")
    def absKey(p: String): String =
      Paths.get(table).resolve(p).toAbsolutePath.normalize.toString
    // Each key enters under BOTH its plain and percent-encoded render
    // (scanKeyForms): `_metadata.file_path` arrives URI-encoded, so a
    // path with a space would otherwise miss the map and null the id.
    def lookup(pairs: Seq[(String, Long)]) =
      if (pairs.isEmpty) lit(null).cast(LongType)
      else element_at(map(pairs.flatMap { case (k, v) =>
        scanKeyForms(k).flatMap(kk => Seq(lit(kk), lit(v))) }: _*), fname)
    val baseL = lookup(files.flatMap(f =>
      f.baseRowId.map(absKey(f.path) -> _)))
    val verL = lookup(files.flatMap(f =>
      f.defaultRowCommitVersion.map(absKey(f.path) -> _)))
    live.select(logical.fieldNames.map(col).toIndexedSeq ++ Seq(
      coalesce(col(RowTracking.IdCol), baseL + col(PosIdx)).as("_row_id"),
      coalesce(col(RowTracking.VerCol), verL).as("_row_commit_version")): _*)
  }

  /** The row-tracked table as a DataFrame with `_row_id` /
    * `_row_commit_version` appended — the public read surface of
    * [[RowTracking]]. Requires the table to have opted in. */
  def readWithRowIds(spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = DeltaLog.snapshot(table, versionAsOf)
    require(RowTracking.enabled(snap),
      s"readWithRowIds($table): the table has not enabled row " +
        "tracking (enableRowTracking)")
    rowIdFrame(spark, table, snap, snap.files)
  }

  /** Touched-file rows for a DML rewrite, carrying the MATERIALIZED
    * row-tracking columns when the table opted in: survivors re-staged
    * from this frame keep their ORIGINAL ids (the protocol's preserved
    * row tracking — only logically-modified rows may renumber; a
    * DELETE that rewrites a file must not invalidate id-keyed
    * consumers of the file's untouched rows). Plain read when tracking
    * is off. `relPaths` are log-relative. */
  private def dmlRowsWithIds(spark: SparkSession, table: String,
      snap: DeltaLog.Snapshot, relPaths: Iterable[String]): DataFrame = {
    val sorted = relPaths.toSeq.distinct.sorted
    if (!RowTracking.enabled(snap))
      readTableFiles(spark, table, snap,
        sorted.map(f => Paths.get(table).resolve(f).toString))
    else {
      val wanted = sorted.toSet
      rowIdFrame(spark, table, snap, snap.files.filter(f =>
        wanted.contains(f.path)))
        .withColumnRenamed("_row_id", RowTracking.IdCol)
        .withColumnRenamed("_row_commit_version", RowTracking.VerCol)
    }
  }

  /** Null out the materialized row-tracking columns on rows `matched`
    * by a DML condition: post-images are logically NEW row versions
    * and draw fresh ids from the staged file's baseRowId range
    * (rowIdFrame's coalesce falls through null to baseRowId +
    * row_index); survivors keep theirs. No-op when the frame carries
    * no tracking columns. `matched` must read PRE-image values — call
    * this before any SET projection. */
  private def renumberMatched(d: DataFrame,
      matched: org.apache.spark.sql.Column): DataFrame =
    if (!d.columns.contains(RowTracking.IdCol)) d
    else {
      import org.apache.spark.sql.functions.when
      val nul = lit(null).cast(LongType)
      d.withColumn(RowTracking.IdCol,
          when(matched, nul).otherwise(col(RowTracking.IdCol)))
        .withColumn(RowTracking.VerCol,
          when(matched, nul).otherwise(col(RowTracking.VerCol)))
    }

  /** Strip the materialized tracking columns (CDC sidecars and other
    * logical-schema surfaces must never carry them). */
  private def dropIdCols(d: DataFrame): DataFrame =
    d.drop(RowTracking.IdCol, RowTracking.VerCol)

  private def subtractDeleted(df: DataFrame, table: String,
      snap: DeltaLog.Snapshot): DataFrame = {
    val dvs = DeletionVectors.liveVectors(table, snap)
    if (dvs.isEmpty) return df
    // the codegen'd bitmap probe over the frame's explicit position
    // columns (round 15 — last Scala UDF in main source retired; the
    // expression ships the log-sized DvMap as a task reference object)
    val dead = graft.plans.DvRowDeleted(new graft.plans.DvLookup(dvs),
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        .quoted(PosFile),
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        .quoted(PosIdx))
    df.filter(!org.apache.spark.sql.GraftSqlBridge.column(dead))
  }

  private def enforceConstraints(spark: SparkSession, table: String,
      added: Seq[DeltaLog.AddFile],
      constraints: Seq[(String, String)],
      mapping: Option[StructType] = None): Unit = {
    import org.apache.spark.sql.functions.{expr, not}
    if (constraints.isEmpty || added.isEmpty) return
    val reader =
      if (added.exists(_.partitionValues.nonEmpty))
        spark.read.option("basePath", table)
      else spark.read
    val stagedPhys = reader.parquet(
      added.map(f => Paths.get(table).resolve(f.path).toString): _*)
    // constraint expressions reference LOGICAL names; staged files are
    // physical under mapping. Tolerant per-column rename (not a full
    // projection): a SUBSET append's staged files lack some columns,
    // and that must behave exactly as without mapping.
    val staged = mapping match {
      case None => stagedPhys
      case Some(m) =>
        val p2l = ColumnMapping.logicalToPhysical(m).map(_.swap)
        stagedPhys.select(stagedPhys.columns.map(c =>
          col(c).as(p2l.getOrElse(c, c))): _*)
    }
    for ((name, e) <- constraints) {
      val violated = staged.filter(not(expr(e))).limit(1).count() > 0
      if (violated) {
        added.foreach(f =>
          Files.deleteIfExists(Paths.get(table).resolve(f.path)))
        throw new IllegalArgumentException(
          s"CHECK constraint $name ($e) violated by incoming rows; write aborted")
      }
    }
  }

  /** Write `df`'s data files INTO the table directory (invisible until
    * a commit references them): distributed parquet write to a scratch
    * dir, per-file min/max stats in one job, then atomic per-file
    * moves under commit-unique names. With `partitionBy`, the staging
    * write lays out Hive-style `col=value/` dirs; each staged file's
    * partition values are decoded from its directory path and carried
    * on the AddFile (the log is the source of truth for pruning — the
    * dir layout is kept only so the files remain self-describing to a
    * plain `spark.read.parquet` user). */
  /** `mapping` = the table's column-mapping-annotated LOGICAL schema,
    * when mapping is enabled: the frame arrives logical-named (every
    * caller's contract) and stages under PHYSICAL names — the files
    * must store what the mapping metadata says they store. Stats are
    * collected over the renamed frame, so they key by physical name,
    * matching what the read path consults. */
  private def stageIn(df0: DataFrame, table: String,
      partitionBy0: Seq[String] = Nil,
      mapping: Option[StructType] = None): Seq[DeltaLog.AddFile] = {
    val df = mapping.map(m => ColumnMapping.toPhysical(df0, m)).getOrElse(df0)
    val partitionBy = mapping.map(m =>
      partitionBy0.map(c => ColumnMapping.logicalToPhysical(m).getOrElse(c, c)))
      .getOrElse(partitionBy0)
    val spark = df.sparkSession
    val tableDir = Paths.get(table)
    Files.createDirectories(tableDir)
    val staging = tableDir.resolve(s".staging-${UUID.randomUUID()}")
    timed(s"stage-write $table") {
      // graft-delta data files store timestamps as standard INT64
      // micros, not Spark's legacy INT96 default: INT96 is deprecated
      // in the parquet spec, stock Delta writes INT64, and only the
      // standard encoding carries ordered footer statistics — which
      // [[collectStats]] reads in place of re-scanning staged bytes.
      // Set/restore around the one write, FENCED on the same monitor
      // Tables.loadEvents uses for its nanosAsLong window (round-17
      // ADVICE): unsynchronized, two interleaved writers could leak
      // TIMESTAMP_MICROS into the session conf permanently, or a
      // concurrent writer could capture the restored INT96 value
      // mid-window and forfeit its timestamp footer stats.
      val tsKey = "spark.sql.parquet.outputTimestampType"
      graft.Tables.synchronized {
        val prevTs = spark.conf.get(tsKey)
        spark.conf.set(tsKey, "TIMESTAMP_MICROS")
        try {
          if (partitionBy.isEmpty) df.write.parquet(staging.toString)
          else df.write.partitionBy(partitionBy: _*).parquet(staging.toString)
        } finally spark.conf.set(tsKey, prevTs)
      }
    }
    val commitTag = UUID.randomUUID().toString.take(8)
    // per-file min/max stats (Delta-paper data skipping): ONE job over
    // the staged files, grouped by physical file — not a per-file pass
    val statsByFile = timed(s"collect-stats $table") {
      collectStats(spark, staging.toString, df.schema) }
    val stagedStream = Files.walk(staging)
    val staged =
      try stagedStream.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      finally stagedStream.close()
    val added = staged.zipWithIndex.flatMap { case (p, i) =>
      val rel = staging.relativize(p) // e.g. c_mktsegment=BUILDING/part-0.parquet
      val partDirs = (0 until rel.getNameCount - 1).map(rel.getName(_).toString)
      val partitionValues = partDirs.map { seg =>
        val eq = seg.indexOf('=')
        require(eq > 0, s"unexpected staged partition dir: $seg")
        val k = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.take(eq))
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(eq + 1))
        k -> v
      }.toMap
      // a staged file the stats job didn't see is either EMPTY (an
      // empty input partition — groupBy(input_file_name) yields no
      // group for it) or lost to a path-keying mismatch; one footer
      // read resolves which. Zero-row files are dropped here instead
      // of committed — they carry no data, and at scale they bloat
      // the log and defeat stats-only answers (metadataRowCount
      // refuses any snapshot holding a stats-less file).
      val stats = {
        val collected = statsByFile.getOrElse(rel.toString, Map.empty)
        if (collected.nonEmpty) collected
        else stagedRowCount(spark, p)
          .map(c => Map("n" -> c.toString)).getOrElse(Map.empty)
      }
      if (stats.get("n").contains("0")) None
      else {
        val name = (partDirs :+ f"part-$i%05d-$commitTag.parquet").mkString("/")
        val dest = tableDir.resolve(name)
        Files.createDirectories(dest.getParent)
        Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
        Some(DeltaLog.AddFile(name, Files.size(dest), stats, partitionValues))
      }
    }
    deleteRecursively(staging)
    added
  }

  /** Exact row count of one staged parquet file from its FOOTER — the
    * driver-side fallback for files the stats job missed. A footer is
    * a few KB regardless of file size, and this path only runs for
    * stats-less staged files (normally just empty partitions). */
  private def stagedRowCount(spark: SparkSession, p: Path): Option[Long] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri),
        spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(r.getRecordCount) finally r.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Whether the table has opted into the CHANGE DATA FEED (the public
    * Delta table property): when true, every DML commit also stages
    * row-level change files so incremental consumers can cross rewrite
    * versions instead of failing at the first UPDATE/DELETE. */
  private[graft] def cdfEnabled(snap: DeltaLog.Snapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed").contains("true")

  /** Stage a change-data frame (table columns + `_change_type`) as
    * parquet sidecars under `_change_data/` — referenced by `cdc`
    * actions, NEVER by `add`s, so snapshot replay and every data scan
    * ignore them; only [[changes]] reads them back. Under column
    * mapping the data columns store physical names (`_change_type` is
    * outside the mapping and passes through), matching the data files
    * so the change-feed read path can reuse the same schema plumbing.
    * Distributed write, no stats (the feed is consumed whole per
    * version, never skipped). */
  private def stageCdc(df0: DataFrame, table: String,
      mapping: Option[StructType]): Seq[DeltaLog.AddFile] = {
    val df = mapping.map(m => ColumnMapping.toPhysical(df0, m)).getOrElse(df0)
    val tableDir = Paths.get(table)
    val staging = tableDir.resolve(s".staging-${UUID.randomUUID()}")
    df.write.parquet(staging.toString)
    val tag = UUID.randomUUID().toString.take(8)
    val stagedStream = Files.walk(staging)
    val staged =
      try stagedStream.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
      finally stagedStream.close()
    Files.createDirectories(tableDir.resolve("_change_data"))
    val out = staged.zipWithIndex.map { case (p, i) =>
      val name = f"_change_data/cdc-$i%05d-$tag.parquet"
      val dest = tableDir.resolve(name)
      Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
      DeltaLog.AddFile(name, Files.size(dest))
    }
    deleteRecursively(staging)
    out
  }

  /** Small-file compaction (Delta's OPTIMIZE): rewrite the current
    * snapshot's live files into ceil(totalBytes / maxFileBytes) files
    * and commit the swap atomically as a new version. Append-heavy
    * ingest (the reference's demo pattern, and any streaming sink)
    * accretes one small file per commit; at scale that murders scan
    * task scheduling and parquet footer overhead. Old versions still
    * time-travel (their files stay until vacuum); readers never see a
    * half-compacted table — the commit is the same createLink point
    * every write uses. No-op when already compact.
    *
    * Concurrency: see [[transact]] — the commit is pinned to the
    * compacted snapshot. (Routing through write(…, "overwrite") would
    * retry by removing the newest files while writing only the old
    * rows — silently dropping the race's appends.) */
  /** OPTIMIZE WHERE (stock Delta's partition-scoped compaction): only
    * partitions whose VALUES satisfy `where` rewrite — at 100 TB the
    * operational shape is "compact yesterday's partition after the
    * day's streaming ingest", never a full-table rewrite. `where` must
    * reference partition columns only (an exact consult — partition
    * values are min=max stats; a data-column predicate would make the
    * selection approximate and the rewrite scope nondeterministic,
    * hence refused loudly). Each selected partition compacts to one
    * file; untouched partitions' files never move (spec-proven
    * byte-identical). Selected partitions whose layout is already
    * optimal (one file, no deletion vectors) are skipped, so the call
    * is idempotent. Layout-only: every file action carries
    * `dataChange=false`, streams and the change feed skip the version.
    */
  def compactWhere(spark: SparkSession, table: String,
      where: Seq[Filter]): Long = {
    require(where.nonEmpty,
      "compactWhere needs at least one partition predicate; " +
        "use compact() for the whole table")
    transact(table, "compactWhere") { snap =>
      require(snap.partitionColumns.nonEmpty,
        s"compactWhere($table): table is not partitioned")
      val refs = where.flatMap(_.references).distinct
      val nonPartition = refs.filterNot(snap.partitionColumns.contains)
      require(nonPartition.isEmpty,
        s"compactWhere($table): predicate references non-partition " +
          s"column(s) ${nonPartition.mkString(",")}; the rewrite scope " +
          "must be exact, so only partition columns may appear")
      val schema = snap.schemaJson
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(new StructType())
      // EXACT selection is the contract ("only partitions whose VALUES
      // satisfy where rewrite"), and the may-match consult is merely
      // conservative — it KEEPS files it cannot decide. Two abstain
      // shapes would silently widen the rewrite scope, so both are
      // excluded up front: the null partition (NULL satisfies no
      // predicate, SQL WHERE semantics) and — since timestamp partition
      // values only compare under a UTC session — timestamp-typed
      // predicates in any other zone refuse loudly.
      val tsRefs = refs.filter(c =>
        schema.fields.find(_.name == c).exists(_.dataType == TimestampType))
      require(tsRefs.isEmpty ||
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
          == "UTC",
        s"compactWhere($table): predicate references timestamp partition " +
          s"column(s) ${tsRefs.mkString(",")}, whose directory rendering " +
          "only compares under a UTC session")
      def noNullIn(f: Filter): Boolean = f match {
        case In(_, vs) => !vs.contains(null)
        case And(l, r) => noNullIn(l) && noNullIn(r)
        case _ => true
      }
      require(where.forall(noNullIn),
        s"compactWhere($table): a NULL in an IN-list matches no " +
          "partition and would only widen the rewrite scope; remove it")
      val candidates = snap.files.filterNot(f => refs.exists(c =>
        f.partitionValues.get(c).forall(_ == "__HIVE_DEFAULT_PARTITION__")))
      val selected = liveFilesAfterSkipping(
        snap.copy(files = candidates), where, schema)
      val work = selected.groupBy(_.partitionValues).filter {
        case (_, fs) => fs.length > 1 || fs.exists(_.dv.isDefined)
      }.values.flatten.toSeq.sortBy(_.path)
      if (work.isEmpty) Done(snap.version)
      else {
        val rows = (if (!RowTracking.enabled(snap))
            readTableFiles(spark, table, snap,
              work.map(f => Paths.get(table).resolve(f.path).toString))
          else rowIdFrame(spark, table, snap, work)
            .withColumnRenamed("_row_id", RowTracking.IdCol)
            .withColumnRenamed("_row_commit_version", RowTracking.VerCol))
          .repartition(snap.partitionColumns.map(col): _*)
        val added = stageIn(rows, table, snap.partitionColumns,
          mappingOf(snap))
        val actions =
          Seq(DeltaLog.commitInfoAction("COMPACT WHERE")) ++
            snap.schemaJson.map(DeltaLog.metaDataAction(_,
              snap.partitionColumns, DeltaLog.tableId(table),
              snap.configuration)) ++
            work.map(f => DeltaLog.removeAction(f.path, dataChange = false)) ++
            added.map(f => DeltaLog.addAction(f.path, f.size, f.stats,
              f.partitionValues, dataChange = false))
        Commit(actions, added.map(_.path))
      }
    }
  }

  def compact(spark: SparkSession, table: String,
      maxFileBytes: Long = 128L << 20): Long = {
    transact(table, "compact") { snap =>
      val total = snap.files.map(_.size).sum
      val nOut = math.max(1, math.ceil(total.toDouble / maxFileBytes).toInt)
      // no-op floor: a partitioned table can never have fewer files
      // than live partition values, so idempotence means "≤ 1 file per
      // partition (or already at the byte-target count)" — without
      // this, every compact() of a partitioned table rewrites it again
      val nPartitions = snap.files.map(_.partitionValues).distinct.length
      // a snapshot carrying deletion vectors ALWAYS compacts: absorbing
      // the vectors (rewriting survivors, dropping the sidecars) is the
      // operation's job even when the file count is already optimal
      if (snap.files.forall(_.dv.isEmpty) &&
          snap.files.length <= math.max(nOut, nPartitions))
        Done(snap.version)
      else {
        // Partitioned tables compact WITHIN the committed layout: shuffle
        // rows back together by partition key (co-locating each value's
        // rows in one task ⇒ one output file per live partition value)
        // and re-stage with the same partitionBy. An unpartitioned
        // coalesce here would silently flatten the layout and break
        // pruning for every later read.
        // ROW TRACKING: a compacted file carries the survivors' ORIGINAL
        // ids in the materialized columns, so OPTIMIZE preserves row
        // identity (the feature's core promise — layout maintenance must
        // not invalidate id-keyed consumers)
        val snapDf =
          if (!RowTracking.enabled(snap)) read(spark, table, Some(snap.version))
          else rowIdFrame(spark, table, snap, snap.files)
            .withColumnRenamed("_row_id", RowTracking.IdCol)
            .withColumnRenamed("_row_commit_version", RowTracking.VerCol)
        val compacted =
          if (snap.partitionColumns.isEmpty) snapDf.coalesce(nOut)
          else snapDf.repartition(snap.partitionColumns.map(
            org.apache.spark.sql.functions.col): _*)
        val added = stageIn(compacted, table, snap.partitionColumns,
          mappingOf(snap))
        val actions =
          Seq(DeltaLog.commitInfoAction("COMPACT")) ++
            snap.schemaJson.map(DeltaLog.metaDataAction(_, snap.partitionColumns,
              DeltaLog.tableId(table), snap.configuration)) ++
            // dataChange=false: same rows, new layout — streams and the
            // change feed skip this version by the protocol bit
            snap.files.map(f =>
              DeltaLog.removeAction(f.path, dataChange = false)) ++
            added.map(f => DeltaLog.addAction(f.path, f.size, f.stats,
              f.partitionValues, dataChange = false))
        Commit(actions, added.map(_.path))
      }
    }
  }

  /** OPTIMIZE ZORDER BY — rewrite the table clustered along a k-D
    * Z-curve (2–4 columns since round 8; the classic 2-D case emits
    * bit-identical z values to the round-5 magic-number version) so
    * the per-file min/max stats become tight on EVERY clustered column
    * and data skipping prunes multi-dimension filters. A plain
    * compact/sort clusters one column perfectly and leaves the others'
    * per-file ranges spanning the whole domain; the bit-interleaved
    * Z-value bounds every file to a curve segment, i.e. a small
    * hyper-rectangle in clustering space — the standard lakehouse
    * layout optimization for "filter by user AND time AND lang"
    * workloads.
    *
    * Mechanics: each column is linearly bucketed to min(16, 60/k) bits
    * against its GLOBAL min/max (one tiny 2k-aggregate job — only 2k
    * scalars reach the driver; rank-bucketing would equalize skewed
    * distributions but needs a global sort or quantile sketch, and
    * linear is the common production default), the buckets interleave
    * via codegen'd shift/mask magic-number spreads into a 32-bit
    * Z-value, and the table rewrites through
    * `repartitionByRange(targetFiles, z)` + `sortWithinPartitions(z)`
    * — a range shuffle whose boundaries Spark samples, so no global
    * sort bottleneck. The swap commits remove-all + add-all through
    * [[transact]], like compact. Content is byte-identical, only layout
    * changes — the q85 oracle proves it; DeltaSpec proves the
    * SKIPPING: after zorder, a filter on either dimension scans a
    * fraction of the files. Unpartitioned tables only (stock delta
    * z-orders within partitions; our partitioned layouts already
    * prune on the partition key). */
  def zorder(spark: SparkSession, table: String, cols: Seq[String],
      targetFiles: Int = 8): Long = {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    require(cols.length >= 2 && cols.length <= 4,
      "zorder: 2 to 4 clustering columns")
    val k = cols.length
    // bits per dimension: 16 for the classic 2-D curve (same z values
    // as the round-5 magic-number implementation, bit for bit), scaled
    // down so k dimensions always fit one signed long
    val bits = math.min(16, 60 / k)
    val maxBucket = (1L << bits) - 1
    transact(table, "zorder") { snap =>
      require(snap.partitionColumns.isEmpty,
        s"zorder($table): partitioned tables cluster within partitions " +
          "by the partition key already; zorder supports unpartitioned")
      // ROW TRACKING: like compact, the clustered rewrite MATERIALIZES
      // every row's original id — a layout optimization must never
      // renumber identity
      val df =
        if (!RowTracking.enabled(snap)) read(spark, table, Some(snap.version))
        else rowIdFrame(spark, table, snap, snap.files)
          .withColumnRenamed("_row_id", RowTracking.IdCol)
          .withColumnRenamed("_row_commit_version", RowTracking.VerCol)
      val aggs = cols.flatMap(c => Seq(
        smin(col(c)).cast("double"), smax(col(c)).cast("double")))
      val r = df.agg(aggs.head, aggs.tail: _*).head() // 2k scalars
      val ranges = cols.indices.map(j =>
        (r.getDouble(2 * j), r.getDouble(2 * j + 1)))
      def bucket(c: String, lo: Double, hi: Double): String =
        if (hi <= lo) "0L"
        else s"cast(((cast(`$c` AS double) - $lo) / (${hi - lo})) * " +
          s"$maxBucket.0 AS bigint)"
      // generic k-way interleave: dimension j's bit i lands at position
      // i*k + j. A flat OR of shift/mask terms — pure codegen'd long
      // arithmetic, same cost class as the 2-D magic-number spread it
      // generalizes (16·k terms fused into one whole-stage projection).
      val zExpr = cols.indices.map { j =>
        (0 until bits).map(i =>
          s"shiftleft(shiftright(__zb$j, $i) & 1, ${i * k + j})")
          .mkString("(", " | ", ")")
      }.mkString(" | ")
      val z = cols.indices.foldLeft(df) { (d, j) =>
        d.withColumn(s"__zb$j", org.apache.spark.sql.functions.expr(
          bucket(cols(j), ranges(j)._1, ranges(j)._2)))
      }.withColumn("__z", org.apache.spark.sql.functions.expr(zExpr))
      val clustered = z
        .repartitionByRange(targetFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop(cols.indices.map(j => s"__zb$j") :+ "__z": _*)
      val added = stageIn(clustered, table, Nil, mappingOf(snap))
      val actions =
        Seq(DeltaLog.commitInfoAction("ZORDER")) ++
          snap.schemaJson.map(DeltaLog.metaDataAction(_, Nil,
            DeltaLog.tableId(table), snap.configuration)) ++
          snap.files.map(f =>
            DeltaLog.removeAction(f.path, dataChange = false)) ++
          added.map(f => DeltaLog.addAction(f.path, f.size, f.stats,
            f.partitionValues, dataChange = false))
      Commit(actions, added.map(_.path))
    }
  }

  /** Table-relative path of an executor-reported `input_file_name()`
    * URI, e.g. `file:///…/tbl/date=x/part-0.parquet` → `date=x/part-0
    * .parquet` — the exact string the log's add actions use. */
  /** A scanned file's LOG path: table-relative for files under the
    * table directory, verbatim-absolute for files a shallow [[clone]]
    * references in its source — the string must equal the add action's
    * `path` so DML remove sets line up. */
  private def relativize(table: String, uri: String): String = {
    val tableAbs = Paths.get(table).toAbsolutePath.normalize.toUri.getPath
      .stripSuffix("/")
    val p = new java.net.URI(uri).getPath
    if (p.startsWith(tableAbs + "/")) p.stripPrefix(tableAbs + "/")
    else p
  }

  /** DELETE rows matching `condition` ([EXT] Delta DML). Touched-file
    * rewrite, exactly Delta's shape: one distributed pass finds the
    * files that CONTAIN matching rows (everything else is untouched —
    * a predicate that prunes to one partition rewrites one
    * partition's files), those files' surviving rows are re-staged,
    * and the swap commits remove(touched)+add(rewrites) through
    * [[transact]]. Returns the new version (or the current one if
    * nothing matched). */
  def delete(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column): Long = {
    transact(table, "delete") { snap =>
      val df = read(spark, table, Some(snap.version))
      val touched = df.filter(condition)
        .select(input_file_name().as("f")).distinct()
        .collect().map(r => relativize(table, r.getString(0))).toSet
      val touchedPaths = touched.toSeq.sorted
        .map(f => Paths.get(table).resolve(f).toString)
      if (touched.isEmpty) Done(snap.version)
      else if (dvEnabled(snap)) {
        // DELETION-VECTOR path: mark dead rows in sidecar bitmaps
        // instead of rewriting files. A point-delete in a 128 MB file
        // moves ZERO data bytes — the whole reason DVs exist at 100 TB.
        val withPos = readTableFilesWithPos(spark, table, snap, touchedPaths)
        val matched = withPos.filter(condition)
        val (dvPlans, rewriteFiles) = planDvDml(table, snap, touched, matched)
        val rewriteAdds =
          if (rewriteFiles.isEmpty) Seq.empty[DeltaLog.AddFile]
          else stageIn(
            // survivors of a rewrite-fallback file are merely COPIED:
            // they keep their row ids (materialized into the new file)
            dmlRowsWithIds(spark, table, snap, rewriteFiles.map(_.path))
              .filter(!condition),
            table, snap.partitionColumns, mappingOf(snap))
        val cdc =
          if (!cdfEnabled(snap)) Nil
          else stageCdc(matched.drop(PosFile, PosIdx)
            .withColumn("_change_type", lit("delete")), table, mappingOf(snap))
        val dvDescs = dvPlans.map { case (f, ndv) =>
          (f, DeletionVectors.write(table, ndv)) }
        val actions =
          Seq(DeltaLog.commitInfoAction("DELETE")) ++
            snap.schemaJson.map(DeltaLog.metaDataAction(_,
              snap.partitionColumns, DeltaLog.tableId(table),
              snap.configuration)) ++
            // removes precede adds: replay is line-ordered, and the
            // vectored files RE-ADD their own path with the new DV
            touched.toSeq.sorted.map(DeltaLog.removeAction(_)) ++
            dvDescs.map { case (f, d) =>
              DeltaLog.addActionOf(f.copy(dv = Some(d))) } ++
            { val (fr, da) = RowTracking.assignFresh(
                snap, rewriteAdds, snap.version + 1)
              da ++ fr.map(DeltaLog.addActionOf(_)) } ++
            cdc.map(f => DeltaLog.cdcAction(f.path, f.size))
        Commit(actions,
          (rewriteAdds ++ cdc).map(_.path) ++ dvDescs.map(_._2.path))
      } else {
        // row-tracked survivors carry their ORIGINAL ids into the
        // rewritten files — a delete must never renumber untouched rows
        val touchedRows = dmlRowsWithIds(spark, table, snap, touched)
        // survivors of ONLY the touched files, original schema/layout
        val survivors = touchedRows.filter(!condition)
        val added = stageIn(survivors, table, snap.partitionColumns,
          mappingOf(snap))
        // CDF: the deleted rows, tagged, as `_change_data/` sidecars —
        // what lets an incremental consumer cross this rewrite version
        val cdc =
          if (!cdfEnabled(snap)) Nil
          else stageCdc(dropIdCols(touchedRows.filter(condition))
            .withColumn("_change_type", lit("delete")), table, mappingOf(snap))
        val actions =
          Seq(DeltaLog.commitInfoAction("DELETE")) ++
            snap.schemaJson.map(DeltaLog.metaDataAction(_, snap.partitionColumns,
              DeltaLog.tableId(table), snap.configuration)) ++
            touched.toSeq.sorted.map(DeltaLog.removeAction(_)) ++
            { val (fr, da) = RowTracking.assignFresh(
                snap, added, snap.version + 1)
              da ++ fr.map(DeltaLog.addActionOf(_)) } ++
            cdc.map(f => DeltaLog.cdcAction(f.path, f.size))
        Commit(actions, (added ++ cdc).map(_.path))
      }
    }
  }

  /** UPDATE rows matching `condition`, setting each column in `set` to
    * its new expression ([EXT] Delta DML). Same touched-file-rewrite
    * machinery as [[delete]]: only files containing matches re-stage —
    * their rows pass through `CASE WHEN condition THEN expr ELSE col`
    * projections — and the swap commits through [[transact]].
    * Updating a partition column is rejected (it
    * would silently move rows across the layout; real Delta requires a
    * delete+insert for that too). */
  def update(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(set.nonEmpty, "update needs at least one SET column")
    transact(table, "update") { snap =>
      require(!set.keys.exists(snap.partitionColumns.contains),
        s"update cannot set partition columns (${snap.partitionColumns
          .mkString(",")}); delete+append to move rows across the layout")
      val df = read(spark, table, Some(snap.version))
      require(set.keys.forall(df.columns.contains),
        s"unknown SET columns: ${set.keys.filterNot(df.columns.contains).mkString(",")}")
      // GENERATED COLUMNS: a SET that moves a base column must carry
      // the generated one along — recompute every generated column the
      // SET doesn't name over the POST-set row; one the SET names
      // explicitly validates like a CHECK (col <=> expr) instead
      val gensU = snap.schemaJson.map(j => GeneratedColumns.of(
        DataType.fromJson(j).asInstanceOf[StructType])).getOrElse(Nil)
      // identity columns are engine-owned: a SET may never touch one
      val idColsU = snap.schemaJson.map(j => IdentityColumns.of(
        DataType.fromJson(j).asInstanceOf[StructType])).getOrElse(Nil)
        .map(_.col).filter(set.contains)
      require(idColsU.isEmpty,
        s"update cannot SET identity column(s) ${idColsU.mkString(",")}: " +
          "GENERATED ALWAYS values are engine-assigned")
      val genRecompute = gensU.filterNot { case (g, _) => set.contains(g) }
      val genChecks = gensU.filter { case (g, _) => set.contains(g) }
        .map { case (g, e) => s"generated column $g" -> s"`$g` <=> ($e)" }
      val touched = df.filter(condition)
        .select(input_file_name().as("f")).distinct()
        .collect().map(r => relativize(table, r.getString(0))).toSet
      val touchedPaths = touched.toSeq.sorted
        .map(f => Paths.get(table).resolve(f).toString)
      def applySet(d: DataFrame, always: Boolean): DataFrame = {
        import org.apache.spark.sql.functions.{when, expr}
        // project over the INPUT's columns, not df's: a row-tracked
        // rewrite threads the materialized id columns through the SET
        // untouched (they are never in `set` — the __graft prefix is
        // outside the user namespace)
        val inCols = d.columns
        // conditional path with recomputes: the match flag is frozen
        // BEFORE the SET lands (the SET may change the very columns the
        // condition reads), then generated columns recompute over the
        // post-set values of their bases
        val flag = "__graft_upd_matched"
        val flagged =
          if (always || genRecompute.isEmpty) d
          else d.withColumn(flag, condition)
        val cond: org.apache.spark.sql.Column =
          if (always || genRecompute.isEmpty) condition else col(flag)
        val afterSet = flagged.select((inCols.map { c =>
          set.get(c) match {
            case Some(e) if always => e.as(c)
            case Some(e) => when(cond, e).otherwise(col(c)).as(c)
            case None => col(c)
          }
        } ++ (if (always || genRecompute.isEmpty) Nil
              else Seq(col(flag)))): _*)
        val recomputed = genRecompute.foldLeft(afterSet) {
          case (acc, (g, e)) =>
            if (always) acc.withColumn(g, expr(e))
            else acc.withColumn(g,
              when(col(flag), expr(e)).otherwise(col(g)))
        }
        if (always || genRecompute.isEmpty) recomputed
        else recomputed.select(inCols.map(col).toIndexedSeq: _*)
      }
      if (touched.isEmpty) Done(snap.version)
      else if (dvEnabled(snap)) {
        // DELETION-VECTOR update: mark the matched rows dead in place,
        // stage ONLY their post-images as a new file — a 10-row update
        // in a 128 MB file moves 10 rows, not 128 MB (same move stock
        // Delta's DV MERGE/UPDATE makes).
        val withPos = readTableFilesWithPos(spark, table, snap, touchedPaths)
        val matched = withPos.filter(condition)
        val (dvPlans, rewriteFiles) = planDvDml(table, snap, touched, matched)
        val dvPaths = dvPlans.map(p => Paths.get(table).resolve(p._1.path)
          .toAbsolutePath.normalize.toString).toSet
        // post-images of rows in vectored files → a new small file;
        // rewrite-fallback files (more than half matched) re-stage
        // whole with the CASE WHEN applied in place
        val postRows = applySet(
          rowsFromFiles(matched, dvPaths).drop(PosFile, PosIdx),
          always = true)
        val rewriteRows =
          if (rewriteFiles.isEmpty) None
          // rewrite-fallback survivors keep their row ids; matched rows
          // (post-images) renumber — null their materialized ids so the
          // staged file's baseRowId range covers them
          else Some(applySet(renumberMatched(
            dmlRowsWithIds(spark, table, snap, rewriteFiles.map(_.path)),
            condition), always = false))
        // when every touched file fell to the rewrite heuristic there
        // are no vectored post-images — don't stage an empty file
        // (allowMissingColumns: the vectored post-images carry no
        // tracking columns — they null out and draw fresh ids)
        val newData = (dvPlans.isEmpty, rewriteRows) match {
          case (true, Some(rw)) => rw
          case (_, Some(rw)) =>
            postRows.unionByName(rw, allowMissingColumns = true)
          case (_, None) => postRows
        }
        val added = stageIn(newData, table, snap.partitionColumns,
          mappingOf(snap))
        enforceConstraints(spark, table, added,
          snap.checkConstraints ++ genChecks, mappingOf(snap))
        val cdc =
          if (!cdfEnabled(snap)) Nil
          else {
            val pre = matched.drop(PosFile, PosIdx)
            stageCdc(
              pre.withColumn("_change_type", lit("update_preimage"))
                .unionByName(applySet(pre, always = true)
                  .withColumn("_change_type", lit("update_postimage"))),
              table, mappingOf(snap))
          }
        val dvDescs = dvPlans.map { case (f, ndv) =>
          (f, DeletionVectors.write(table, ndv)) }
        val actions =
          Seq(DeltaLog.commitInfoAction("UPDATE")) ++
            snap.schemaJson.map(DeltaLog.metaDataAction(_,
              snap.partitionColumns, DeltaLog.tableId(table),
              snap.configuration)) ++
            touched.toSeq.sorted.map(DeltaLog.removeAction(_)) ++
            dvDescs.map { case (f, d) =>
              DeltaLog.addActionOf(f.copy(dv = Some(d))) } ++
            { val (fr, da) = RowTracking.assignFresh(
                snap, added, snap.version + 1)
              da ++ fr.map(DeltaLog.addActionOf(_)) } ++
            cdc.map(f => DeltaLog.cdcAction(f.path, f.size))
        Commit(actions, (added ++ cdc).map(_.path) ++ dvDescs.map(_._2.path))
      } else {
        // row-tracked: untouched rows of touched files keep their ids
        // (materialized); matched rows renumber (post-image = new row
        // version). The nulling reads PRE-set values — before applySet.
        val touchedRows = dmlRowsWithIds(spark, table, snap, touched)
        val updated = applySet(renumberMatched(touchedRows, condition),
          always = false)
        val added = stageIn(updated, table, snap.partitionColumns,
          mappingOf(snap))
        // a SET can push rows outside the table's CHECK contract
        enforceConstraints(spark, table, added,
          snap.checkConstraints ++ genChecks, mappingOf(snap))
        // CDF: pre- and post-image of every matched row (the post-image
        // re-applies SET over the pre-image — same expressions, same rows)
        val cdc =
          if (!cdfEnabled(snap)) Nil
          else {
            val pre = dropIdCols(touchedRows.filter(condition))
            stageCdc(
              pre.withColumn("_change_type", lit("update_preimage"))
                .unionByName(applySet(pre, always = true)
                  .withColumn("_change_type", lit("update_postimage"))),
              table, mappingOf(snap))
          }
        val actions =
          Seq(DeltaLog.commitInfoAction("UPDATE")) ++
            snap.schemaJson.map(DeltaLog.metaDataAction(_, snap.partitionColumns,
              DeltaLog.tableId(table), snap.configuration)) ++
            touched.toSeq.sorted.map(DeltaLog.removeAction(_)) ++
            { val (fr, da) = RowTracking.assignFresh(
                snap, added, snap.version + 1)
              da ++ fr.map(DeltaLog.addActionOf(_)) } ++
            cdc.map(f => DeltaLog.cdcAction(f.path, f.size))
        Commit(actions, (added ++ cdc).map(_.path))
      }
    }
  }

  /** MERGE (upsert) `source` into `table` on equality of `keys` ([EXT]
    * Delta DML): matched target rows are replaced by the source row,
    * unmatched source rows are inserted. Touched-file rewrite like
    * [[delete]]: a LEFT SEMI join on the keys finds the files holding
    * matches; their rows minus the matched keys (LEFT ANTI) are
    * re-staged together with ALL source rows; untouched files never
    * move. The source must be key-unique — two source rows for one key
    * is an ambiguous upsert and fails loudly (same rule as Delta's
    * MERGE). Schema must match the table's (by field set). Commits
    * through [[transact]]. */
  /** `txn` = (appId, version): same idempotence contract as
    * [[write]]'s — the merge is SKIPPED when the log already records
    * that version (or later) for the app, and the SetTransaction
    * commits atomically with the rewrite. This is what makes
    * NON-idempotent merges (additive refreshes like the q83 pattern)
    * safe under streaming foreachBatch replay: a re-delivered
    * micro-batch must not add its deltas twice. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    // one job, run by the first attempt that does not find the txn
    // already landed (a replayed batch skips it)
    lazy val dupKeys = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
    transact(table, "merge") { snap =>
      if (txnLanded(snap, txn)) Done(snap.version)
      else {
        require(dupKeys == 0,
          s"merge source has duplicate keys on (${keys.mkString(",")}): " +
            "ambiguous upsert")
        val target = read(spark, table, Some(snap.version))
        // GENERATED COLUMNS: a source that omits them gets them computed
        // (the natural upsert flow — raw rows in, the table derives);
        // one that provides them validates like a CHECK over the staged
        // bytes (genChecksM below)
        val gensM = snap.schemaJson.map(j => GeneratedColumns.of(
          DataType.fromJson(j).asInstanceOf[StructType])).getOrElse(Nil)
        val (sourceG, genChecksM) = GeneratedColumns.applyToWrite(source, gensM)
        // IDENTITY COLUMNS: the source must omit them (GENERATED ALWAYS).
        // Matched rows KEEP the target's identity (one broadcast join of
        // the small source against the target's key+id projection);
        // inserts get fresh values beyond the mark, which commits
        // advanced in this merge's own metaData.
        val idSpecsM = snap.schemaJson.map(j => IdentityColumns.of(
          DataType.fromJson(j).asInstanceOf[StructType])).getOrElse(Nil)
        val sourceI =
          if (idSpecsM.isEmpty) sourceG
          else {
            val idCols = idSpecsM.map(_.col)
            val provided = idCols.filter(sourceG.columns.contains)
            require(provided.isEmpty,
              s"merge source provides identity column(s) " +
                s"${provided.mkString(",")}: GENERATED ALWAYS values are " +
                "engine-assigned; omit them")
            val badKeys = idCols.intersect(keys)
            require(badKeys.isEmpty,
              s"merge keys ${badKeys.mkString(",")} are identity columns " +
                "the source cannot carry; merge on a natural key instead")
            val tgtKeyed = target.select((keys ++ idCols).map(col): _*)
            val matched = tgtKeyed.join(broadcast(sourceG), keys, "inner")
            val insertsRaw = sourceG.join(
              tgtKeyed.select(keys.map(col): _*), keys, "left_anti")
            val inserted = idSpecsM.foldLeft(insertsRaw) { case (d, sp) =>
              IdentityColumns.assign(d, sp) }
            matched.select(target.columns.map(col): _*)
              .unionByName(inserted.select(target.columns.map(col): _*))
          }
        require(target.schema.fieldNames.sorted.sameElements(
          sourceI.schema.fieldNames.sorted),
          s"merge source schema ${sourceI.schema.simpleString} does not match " +
            s"table schema ${target.schema.simpleString}")
        val srcKeys = sourceI.select(keys.map(col): _*)
        // bind input_file_name to the target scan BEFORE joining — with
        // a file-backed source in the same plan the expression is
        // otherwise ambiguous (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION)
        val targetKeyFiles = target
          .select((input_file_name().as("f") +: keys.map(col)): _*)
        val touched = targetKeyFiles
          .join(broadcast(srcKeys), keys, "left_semi")
          .select("f").distinct()
          .collect().map(r => relativize(table, r.getString(0))).toSet
        val touchedPaths = touched.toSeq.sorted
          .map(f => Paths.get(table).resolve(f).toString)
        // DELETION-VECTOR merge: instead of re-staging every touched
        // file's unmatched rows, mark the REPLACED target rows dead in
        // place and stage only the source rows — upsert write
        // amplification drops from |touched files| to |source|. Files
        // more than half replaced rewrite (planDvDml's heuristic).
        val useDv = dvEnabled(snap) && touched.nonEmpty
        val (dvDescsPlan, rewriteFiles, touchedRows) =
          if (!useDv) {
            val tr =
              if (touched.isEmpty) None
              else Some(dmlRowsWithIds(spark, table, snap, touched))
            (Seq.empty[(DeltaLog.AddFile, Array[Int])],
              Seq.empty[DeltaLog.AddFile], tr)
          } else {
            val withPos = readTableFilesWithPos(spark, table, snap, touchedPaths)
            val matched = withPos.join(broadcast(srcKeys), keys, "left_semi")
            val (dv, rw) = planDvDml(table, snap, touched, matched)
            (dv, rw, Some(withPos.drop(PosFile, PosIdx)))
          }
        // ROW TRACKING: survivors of a touched file are merely copied —
        // they carry their ORIGINAL ids into the rewritten files; source
        // rows (inserts and matched post-images) carry no tracking
        // columns, so allowMissingColumns nulls them and they draw fresh
        // ids from the staged baseRowId ranges.
        val rewritten =
          if (useDv) {
            // source rows + survivors of the rewrite-fallback files only
            val src = sourceI.select(target.columns.map(col): _*)
            if (rewriteFiles.isEmpty) src
            else src.unionByName(
              dmlRowsWithIds(spark, table, snap, rewriteFiles.map(_.path))
                .join(broadcast(srcKeys), keys, "left_anti"),
              allowMissingColumns = true)
          } else touchedRows match {
            case None => sourceI.select(target.columns.map(col): _*)
            case Some(tr) =>
              tr.join(broadcast(srcKeys), keys, "left_anti")
                .unionByName(sourceI.select(target.columns.map(col): _*),
                  allowMissingColumns = true)
          }
        val dvDescs = dvDescsPlan.map { case (f, ndv) =>
          (f, DeletionVectors.write(table, ndv)) }
        val added = stageIn(rewritten, table, snap.partitionColumns,
          mappingOf(snap))
        // the mark each identity column LANDED at, from the staged stats
        // (survivor rows sit at or below the prior mark, so the max over
        // ALL staged rows is exactly the new mark; monotone vs prior)
        val idHwmsM: Map[String, Long] = idSpecsM.map { sp =>
          val landed = landedHwm(spark, table, added, sp, mappingOf(snap))
          sp.col -> (sp.hwm match {
            case Some(prev) =>
              if (sp.step > 0) math.max(landed, prev)
              else math.min(landed, prev)
            case None => landed
          })
        }.toMap
        // upserted source rows must honor the table's CHECK contract
        enforceConstraints(spark, table, added,
          snap.checkConstraints ++ genChecksM, mappingOf(snap))
        // CDF: unmatched source rows are inserts; each matched key yields
        // the replaced target row (preimage) + its source row (postimage)
        val cdc =
          if (!cdfEnabled(snap)) Nil
          else {
            val src = sourceI.select(target.columns.map(col): _*)
            val tgtKeys = target.select(keys.map(col): _*)
            val inserts = src.join(tgtKeys, keys, "left_anti")
              .withColumn("_change_type", lit("insert"))
            val matched = touchedRows match {
              case None => inserts.limit(0)
              case Some(tr) =>
                dropIdCols(tr).join(broadcast(srcKeys), keys, "left_semi")
                  .withColumn("_change_type", lit("update_preimage"))
                  .unionByName(src.join(tgtKeys, keys, "left_semi")
                    .withColumn("_change_type", lit("update_postimage")))
            }
            stageCdc(inserts.unionByName(matched), table, mappingOf(snap))
          }
        val mergeSchemaJson = snap.schemaJson.map { j =>
          if (idHwmsM.isEmpty) j
          else IdentityColumns.annotate(
            DataType.fromJson(j).asInstanceOf[StructType],
            idSpecsM.map(sp => sp.copy(hwm =
              Some(idHwmsM.getOrElse(sp.col, sp.base))))).json
        }
        val actions =
          Seq(DeltaLog.commitInfoAction("MERGE")) ++
            mergeSchemaJson.map(DeltaLog.metaDataAction(_, snap.partitionColumns,
              DeltaLog.tableId(table), snap.configuration)) ++
            txn.map { case (appId, v) => DeltaLog.txnAction(appId, v) }.toSeq ++
            touched.toSeq.sorted.map(DeltaLog.removeAction(_)) ++
            dvDescs.map { case (f, d) =>
              DeltaLog.addActionOf(f.copy(dv = Some(d))) } ++
            { val (fr, da) = RowTracking.assignFresh(
                snap, added, snap.version + 1)
              da ++ fr.map(DeltaLog.addActionOf(_)) } ++
            cdc.map(f => DeltaLog.cdcAction(f.path, f.size))
        Commit(actions, (added ++ cdc).map(_.path) ++ dvDescs.map(_._2.path))
      }
    }
  }

  /** Append-time schema resolution. Same fields (by name+type, order
    * and nullability insensitive — parquet reads by name) → keep the
    * table's canonical schema. Otherwise: without mergeSchema, fail
    * loudly; with it, verify every shared field type-matches, allow a
    * pure SUBSET (missing columns read null, schema unchanged) and
    * append genuinely new fields (nullable — existing files lack
    * them). Two shapes are rejected as [[SchemaEvolutionException]]
    * even under mergeSchema: a shared field with a different type
    * (widening included — silently casting at read time is how tables
    * rot), and an append that simultaneously DROPS table columns and
    * ADDS new ones — the rename signature, which without Delta
    * column-mapping metadata would silently split one logical column
    * across two physical ones. */
  private[graft] def resolveAppendSchema(old: StructType, incoming: StructType,
      mergeSchema: Boolean, table: String): StructType = {
    val oldByName = old.fields.map(f => f.name -> f.dataType).toMap
    val conflicts = incoming.fields.filter(f =>
      oldByName.get(f.name).exists(_ != f.dataType))
    if (conflicts.nonEmpty)
      throw new SchemaEvolutionException("type-change",
        s"graft-delta append to $table: incompatible types for " +
          conflicts.map(f =>
            s"${f.name} (table: ${oldByName(f.name).simpleString}, " +
              s"append: ${f.dataType.simpleString})").mkString(", ") +
          "; type changes (widening included) are not supported — " +
          "rewrite the table via overwrite")
    val newFields = incoming.fields.filterNot(f => oldByName.contains(f.name))
    val missing = old.fields.filterNot(f =>
      incoming.fieldNames.contains(f.name))
    if (newFields.isEmpty && missing.isEmpty) old
    else if (!mergeSchema)
      throw new SchemaEvolutionException("mismatch",
        s"graft-delta append to $table: schema mismatch " +
          s"(table: ${old.simpleString}, append: ${incoming.simpleString}); " +
          "set option mergeSchema=true for additive evolution")
    else if (newFields.nonEmpty && missing.nonEmpty)
      throw new SchemaEvolutionException("rename-or-drop",
        s"graft-delta append to $table adds " +
          s"${newFields.map(_.name).mkString("[", ",", "]")} while missing " +
          s"${missing.map(_.name).mkString("[", ",", "]")} — the column " +
          "rename/drop shape; column mapping is not implemented, so " +
          "rename or drop requires an explicit overwrite rewrite")
    else StructType(old.fields ++ newFields.map(_.copy(nullable = true)))
  }

  /** Stock Delta's periodic-checkpoint cadence (one checkpoint per 10
    * commits by default; a table overrides it with the protocol's own
    * `delta.checkpointInterval` property). Bounds `snapshot()`'s replay
    * to at most one interval of JSON version files past the newest
    * checkpoint — the difference between O(versions) and O(1) log
    * reads for a long-lived table fed one commit per streaming
    * micro-batch. */
  private val DefaultCheckpointInterval = 10L

  private def checkpointInterval(config: Map[String, String]): Long =
    config.get("delta.checkpointInterval").flatMap(_.toLongOption)
      .filter(_ > 0).getOrElse(DefaultCheckpointInterval)

  /** Write the checkpoint for `version` plus the `_last_checkpoint`
    * hint. The checkpoint is the protocol's parquet — the one format,
    * written and read by [[DeltaLog]]'s driver-side codec, no Spark
    * job: a single `N.checkpoint.parquet`, or past
    * `spark.graft.checkpoint.maxActionsPerFile` actions (default 100k)
    * a MULTI-PART set `N.checkpoint.K.P.parquet` (the protocol's shape
    * for tables whose live add-set outgrows one file — at 100 TB it is
    * millions of rows). Parts move into place one by one; discovery
    * ignores an INCOMPLETE set (crash mid-write), so replay falls back
    * to an older checkpoint or the raw version files — never a
    * half-read snapshot. Under `delta.checkpointPolicy=v2` the shape is
    * a manifest plus sidecars ([[writeV2Checkpoint]]). Derived data,
    * atomic moves — replacing a racer's identical checkpoint is
    * harmless, and the version files it summarizes are already
    * committed. */
  private[sources] def writeCheckpoint(table: String, version: Long): Unit = {
    val snap = DeltaLog.snapshot(table, Some(version))
    val maxPer = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption("spark.graft.checkpoint.maxActionsPerFile"))
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(100_000)
    // the table's CURRENT protocol (a constraint may have upgraded
    // minWriterVersion past the default; a features-gate table must keep
    // listing its features), metaData, and the txn ledger, which must
    // survive a pruned prefix — dropping it would let a restarted
    // streaming query re-apply old micro-batches
    val state = Seq(DeltaLog.protocolAction(snap.minReaderVersion,
      snap.minWriterVersion, snap.readerFeatures.toSeq,
      snap.writerFeatures.toSeq)) ++
      snap.schemaJson.map(DeltaLog.metaDataAction(_, snap.partitionColumns,
        DeltaLog.tableId(table), snap.configuration)) ++
      snap.txns.toSeq.sortBy(_._1).map { case (app, v) =>
        DeltaLog.txnAction(app, v) } ++
      snap.domainMetadata.toSeq.sortBy(_._1).map { case (d, c) =>
        DeltaLog.domainMetadataAction(d, c) }
    // checkpoint adds: dataChange=false and a modificationTime, both
    // required there by the protocol (the log's add lines carry none)
    val adds = snap.files.map(DeltaLog.addActionOf(_, dataChange = false,
      modificationTime = Some(0L)))
    val (size, parts) =
      if (snap.configuration.get("delta.checkpointPolicy").contains("v2"))
        (writeV2Checkpoint(table, version, state, adds, maxPer), 1)
      else {
        val files = DeltaLog.writeCheckpointFiles(table, state ++ adds,
          sidecars = false, maxPer) { (k, n) =>
          if (n == 1) DeltaLog.parquetCheckpointPath(table, version)
          else DeltaLog.multiPartCheckpointPath(table, version, k, n)
        }
        (files.map(_._2).sum, files.length)
      }
    // _last_checkpoint hint (the protocol's fast-path pointer;
    // discovery by listing remains the source of truth); multi-part
    // checkpoints advertise their part count per the spec
    val logDir = DeltaLog.logDir(table)
    val partsField = if (parts > 1) s""","parts":$parts""" else ""
    val hint = Files.createTempFile(logDir, ".lastckpt-", ".tmp")
    Files.write(hint,
      s"""{"version":$version,"size":$size$partsField}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(hint, logDir.resolve("_last_checkpoint"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The V2 checkpoint writer (policy `delta.checkpointPolicy=v2`):
    * sidecar parquet files land FIRST under `_delta_log/_sidecars/`
    * (uuid-named, file actions only, split by the per-file action
    * cap), then the tiny MANIFEST (`N.checkpoint.<uuid>.json`:
    * checkpointMetadata + protocol + metaData + txn/domain actions +
    * `sidecar` references) moves into place atomically — a listed
    * manifest therefore implies durable sidecars; a crash mid-write
    * leaves unreferenced sidecars that the next vacuum collects.
    * Replay follows the references ([[DeltaLog]] checkpointActions);
    * discovery refuses a manifest whose sidecars are missing. Returns
    * the checkpoint's action count. */
  private def writeV2Checkpoint(table: String, version: Long,
      state: Seq[String], adds: Seq[String], maxPer: Int): Int = {
    val logDir = DeltaLog.logDir(table)
    val scDir = DeltaLog.sidecarDir(table)
    Files.createDirectories(scDir)
    val sidecars = DeltaLog.writeCheckpointFiles(table, adds,
      sidecars = true, maxPer) { (_, _) =>
      scDir.resolve(java.util.UUID.randomUUID().toString + ".parquet")
    }
    val manifest: Seq[String] =
      Seq(s"""{"checkpointMetadata":{"version":$version}}""") ++ state ++
        sidecars.map { case (p, _) =>
          s"""{"sidecar":{"path":${DeltaLog.Json.str(p.getFileName.toString)},""" +
            s""""sizeInBytes":${Files.size(p)},""" +
            s""""modificationTime":${System.currentTimeMillis()}}}"""
        }
    val tmp = Files.createTempFile(logDir, ".v2m-", ".tmp")
    Files.write(tmp, manifest.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, DeltaLog.v2ManifestPath(table, version,
      java.util.UUID.randomUUID().toString),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    manifest.length + adds.length
  }

  /** Post-commit hook ([[DeltaLog.commit]]): checkpoint every
    * interval-th version. The interval comes from the JUST-COMMITTED
    * actions' metaData configuration (every graft writer carries the
    * configuration forward, so it is in-memory here — deciding from a
    * snapshot would cost a full log replay per commit, the very thing
    * the checkpoint bounds); commits without a metaData action use the
    * default. NEVER fails the commit — the version file is already
    * durable and a checkpoint is derived data; a missed one costs
    * replay time, not correctness. */
  private[sources] def maybeAutoCheckpoint(table: String, version: Long,
      actions: Seq[String]): Unit =
    if (version > 0)
      try {
        val config = actions.iterator
          .filter(_.nonEmpty).map(DeltaLog.Json.parse)
          .collectFirst { case ("metaData", f) =>
            f.get("configuration").map(DeltaLog.Json.parseFlat)
              .getOrElse(Map.empty[String, String]) }
          .getOrElse(Map.empty[String, String])
        if (version % checkpointInterval(config) == 0)
          writeCheckpoint(table, version)
      } catch { case scala.util.control.NonFatal(_) => () }

  /** Time-based vacuum (the protocol's `RETAIN n HOURS` surface):
    * keeps every version COMMITTED within the retention window —
    * resolved against the same timestamp index `timestampAsOf` uses,
    * so in-commit timestamps govern when the table stamps them (a
    * backup/restore that scrambles file mtimes cannot shrink the
    * window) — and always at least the latest version. Delegates to
    * the version-count vacuum for the actual collection. */
  def vacuumRetain(table: String, retainMillis: Long,
      dryRun: Boolean = false): Seq[String] = {
    require(retainMillis >= 0, "retention must be non-negative")
    val cutoff = System.currentTimeMillis() - retainMillis
    val ts = DeltaLog.commitTimestamps(table)
    require(ts.nonEmpty, s"not a delta table: $table")
    val keep = math.max(1, ts.count(_._2 >= cutoff))
    vacuum(table, keep, dryRun)
  }

  /** Garbage-collect data files that no retained version references:
    * keep the last `keepVersions` versions readable, drop every data
    * file only older versions need, and prune the log prefix so time
    * travel past the horizon fails loudly instead of reading missing
    * files.
    *
    * Protocol shape (matching real Delta's checkpoint design):
    * committed `N.json` files are IMMUTABLE — the horizon (oldest
    * retained) version is summarized into the protocol's parquet
    * checkpoint ([[writeCheckpoint]]: protocol, metaData with table id,
    * txn ledger, every live add — the file a stock delta reader
    * replays, and the only checkpoint format), and `_last_checkpoint`
    * is updated to point at it. Replay ([[DeltaLog.snapshot]]) starts
    * from the newest checkpoint at or below the target, so the pruned
    * prefix is never read — crash anywhere in this sequence and the
    * table stays consistent: checkpoint written but prefix alive ⇒
    * replay prefers the checkpoint (same state by construction); died
    * earlier ⇒ plain replay as if vacuum never ran. Returns deleted
    * data-file paths (table-relative, partitioned layouts walked
    * recursively).
    *
    * `dryRun = true` (the public `VACUUM … DRY RUN`): return the data
    * files the equivalent real vacuum would delete, touching NOTHING —
    * no checkpoint write, no log prune, no deletion. The operator's
    * audit mode: run it before a retention change on a 100 TB table. */
  def vacuum(table: String, keepVersions: Int = 1,
      dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val vs = DeltaLog.versions(table)
    if (vs.length <= keepVersions) return Seq.empty
    val keep = vs.takeRight(keepVersions)
    // data files of every retained snapshot, plus the CDF sidecars of
    // every retained version file — a change feed over the retained
    // range must stay readable; sidecars of pruned versions become
    // unreadable with their version files and are garbage
    val keepSnaps = keep.map(v => DeltaLog.snapshot(table, Some(v)))
    val referenced = keepSnaps.flatMap(_.files.map(_.path)).toSet ++
      keep.flatMap(v => DeltaLog.versionChanges(table, v).cdc.map(_.path)) ++
      // deletion-vector sidecars of every retained snapshot stay; the
      // rest (absorbed by compaction, superseded by a re-delete) are
      // unreferenced garbage
      keepSnaps.flatMap(_.files.flatMap(_.dv.map(_.path)))
    val horizon = keep.head
    val logDir = DeltaLog.logDir(table)
    if (dryRun) {
      // list, never touch: same walk + same referenced-set subtraction
      // the destructive path runs at its step 4
      val tableDir = Paths.get(table)
      val w = Files.walk(tableDir)
      val onDisk =
        try w.iterator.asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet") ||
            p.getFileName.toString.endsWith(".bin"))
          .map(p => tableDir.relativize(p).toString)
          .filterNot(rel => rel.startsWith(".staging-") ||
            rel.startsWith("_delta_log"))
          .toSeq
        finally w.close()
      return onDisk.filterNot(referenced).sorted
    }
    // 1+2. the checkpoint + the _last_checkpoint hint for the horizon
    // (shared with the periodic auto-checkpoint policy)
    writeCheckpoint(table, horizon)
    // 3. drop the pruned prefix: version files AND superseded
    // checkpoints strictly below the horizon (reads there now fail
    // loudly; retained N.json files are never touched)
    vs.dropRight(keepVersions).foreach { v =>
      Files.deleteIfExists(logDir.resolve(f"$v%020d.json"))
      // the pruned version's checksum sidecar goes with it
      Files.deleteIfExists(DeltaLog.checksumPath(table, v))
    }
    DeltaLog.checkpointVersions(table).filter(_ < horizon).foreach { v =>
      Files.deleteIfExists(DeltaLog.parquetCheckpointPath(table, v))
      DeltaLog.multiPartCheckpointFiles(table, v)
        .foreach(f => Files.deleteIfExists(f._1))
    }
    // v2 checkpoints: drop superseded manifests, then every sidecar no
    // SURVIVING manifest references (includes crash leftovers — a
    // sidecar written before a manifest move that never happened)
    val v2All = DeltaLog.v2Manifests(table)
    v2All.filter(_._1 < horizon).foreach(m => Files.deleteIfExists(m._2))
    val referenced2 = DeltaLog.v2Manifests(table)
      .flatMap(m => DeltaLog.v2SidecarRefs(m._2)).toSet
    val scDir = DeltaLog.sidecarDir(table)
    if (Files.isDirectory(scDir)) {
      val s = Files.list(scDir)
      try s.iterator.asScala.toSeq
        .filterNot(p => referenced2.contains(p.getFileName.toString))
        .foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
    // 4. delete unreferenced data files (recursive: partitioned
    // layouts keep data in col=value/ subdirs; paths compared
    // table-relative, exactly as the log records them)
    val tableDir = Paths.get(table)
    val walkStream = Files.walk(tableDir)
    val onDisk =
      try walkStream.iterator.asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") ||
          p.getFileName.toString.endsWith(".bin"))
        .map(p => tableDir.relativize(p).toString)
        // a concurrent writer's staged-but-uncommitted files are NOT
        // garbage — they become visible the instant its commit lands
        .filterNot(rel => rel.startsWith(".staging-") ||
          rel.startsWith("_delta_log"))
        .toSeq
      finally walkStream.close()
    val doomed = onDisk.filterNot(referenced)
    doomed.foreach(f => Files.deleteIfExists(tableDir.resolve(f)))
    doomed
  }

  /** Read the table at the latest (or a past) version, optionally
    * skipping files whose min/max stats prove they cannot satisfy
    * `filters` (conjunctive). An empty live set yields an empty
    * DataFrame with the committed schema. */
  def read(spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None,
      filters: Seq[Filter] = Seq.empty): DataFrame = {
    val snap = DeltaLog.snapshot(table, versionAsOf)
    val schema = snap.schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType])
    val mapped = ColumnMapping.enabled(snap)
    // GENERATED PARTITION COLUMNS: a filter on the base column derives
    // a partition filter on the generated one (monotone shapes only —
    // see GeneratedColumns.derivePartitionFilters), pruning partitions
    // the caller's predicate could never reach
    val withDerived = schema match {
      case Some(s) if snap.partitionColumns.nonEmpty =>
        filters ++ GeneratedColumns.derivePartitionFilters(filters, s,
          snap.partitionColumns, java.time.ZoneId.of(
            spark.sessionState.conf.sessionLocalTimeZone))
      case _ => filters
    }
    // Under column mapping, file stats are keyed by PHYSICAL name (they
    // were collected over the staged physical frame) — pushdown filters
    // arrive logical and translate before the skipping consult;
    // untranslatable shapes drop (skipping stays conservative).
    val skipFilters =
      if (!mapped) withDerived
      else {
        val m = schema.map(ColumnMapping.logicalToPhysical)
          .getOrElse(Map.empty[String, String])
        withDerived.flatMap(ColumnMapping.translateFilter(_, m))
      }
    val skipSchema = schema.map(s =>
      if (mapped) ColumnMapping.physicalSchema(s) else s)
      .getOrElse(new StructType())
    val live = liveFilesAfterSkipping(snap, skipFilters, skipSchema)
    val paths = live.map(f => Paths.get(table).resolve(f.path).toString)
    // readTableFiles handles the three shapes (schemaless, plain,
    // mapped), recovers partition columns via basePath, and subtracts
    // deletion-vector rows when the snapshot carries any.
    (schema, paths) match {
      case (Some(s), Nil) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ColumnMapping.stripMapping(s))
      case (_, ps) => readTableFiles(spark, table, snap, ps)
    }
  }

  def latestVersion(table: String): Long = DeltaLog.snapshot(table).version

  /** DESCRIBE HISTORY equivalent: one row per retained log version,
    * newest first — (version, timestamp, operation, num_adds,
    * num_removes). Driver-side log reads only (the log is tiny by
    * design — one JSON line per file per commit); returned as a
    * DataFrame so it filters/joins like Delta's own. Vacuumed-away
    * versions are simply absent, same as Delta after log cleanup. */
  /** DESCRIBE DETAIL equivalent: one row of current-snapshot facts —
    * version, live file count and bytes, partition columns, CHECK
    * constraint count. Driver-side log read only (the log is tiny by
    * design); returned as a DataFrame so it composes like Delta's. */
  def detail(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
    val snap = DeltaLog.snapshot(table)
    spark.createDataFrame(
      java.util.Arrays.asList(Row(
        snap.version,
        snap.files.length.toLong,
        snap.files.map(_.size).sum,
        snap.partitionColumns.mkString(","),
        snap.checkConstraints.length)),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("num_files", LongType, nullable = false),
        StructField("size_bytes", LongType, nullable = false),
        StructField("partition_columns", StringType, nullable = false),
        StructField("num_constraints", IntegerType, nullable = false))))
  }

  def history(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, TimestampType}
    val rows: Seq[Row] = DeltaLog.versions(table).map { v =>
      val p = DeltaLog.logDir(table).resolve(f"$v%020d.json")
      var op: String = null
      var ts: Option[Long] = None
      var adds = 0L
      var removes = 0L
      for (line <- Files.readAllLines(p,
          java.nio.charset.StandardCharsets.UTF_8).asScala if line.nonEmpty) {
        DeltaLog.Json.parse(line) match {
          case ("commitInfo", f) =>
            op = f.getOrElse("operation", null)
            ts = f.get("timestamp").flatMap(_.toLongOption)
          case ("add", _) => adds += 1
          case ("remove", _) => removes += 1
          case _ => ()
        }
      }
      Row(v, new java.sql.Timestamp(
        ts.getOrElse(Files.getLastModifiedTime(p).toMillis)),
        op, adds, removes)
    }.reverse
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = true),
      StructField("num_adds", LongType, nullable = false),
      StructField("num_removes", LongType, nullable = false))))
  }

  /** Batch CHANGE DATA FEED — `table_changes(from, to)` for the
    * incremental-consumer pattern (refresh a downstream aggregate from
    * exactly the rows that landed since its last run, instead of
    * rescanning the table). One row per row ADDED in each version of
    * the inclusive range, tagged `_change_type`/`_commit_version`.
    *
    * Version semantics, matching stock Delta's `readChangeFeed`:
    *
    *   - a version with `cdc` sidecar actions (DML on a table with
    *     `delta.enableChangeDataFeed=true`) serves EXACTLY its sidecar
    *     rows — `delete` / `update_preimage` / `update_postimage` /
    *     `insert`, row-accurate across rewrites;
    *   - an append-only version serves its added files as `insert`
    *     rows (no sidecar needed — the protocol's rule);
    *   - a COMPACT/ZORDER version moves bytes but changes no rows
    *     (dataChange=false in spirit) and contributes NOTHING;
    *   - any other rewrite version (overwrite, restore, DML committed
    *     while CDF was off) fails LOUDLY — without sidecars a
    *     file-level log cannot attribute row-level deletes, and
    *     silently emitting its adds would double-count survivors
    *     downstream.
    *
    * Scale shape: the driver touches only log JSON (one line per file
    * per commit); the data path is one parquet scan over exactly the
    * added files plus one over the range's sidecars, partition columns
    * recovered via basePath, and the per-version tagging rides the
    * scan's partitioning (a file belongs to one version —
    * `input_file_name` maps it back with zero shuffle). */
  def changes(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val latest = DeltaLog.snapshot(table)
    require(fromVersion >= 0 && fromVersion <= toVersion &&
      toVersion <= latest.version,
      s"change range [$fromVersion,$toVersion] outside log [0,${latest.version}]")
    val schema = latest.schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType])
    val noRowChange = Set("COMPACT", "ZORDER")
    val vcs = (fromVersion to toVersion)
      .map(v => v -> DeltaLog.versionChanges(table, v))
    val insertsByVersion = Seq.newBuilder[(Long, Seq[DeltaLog.AddFile])]
    val cdcByVersion = Seq.newBuilder[(Long, Seq[DeltaLog.AddFile])]
    for ((v, vc) <- vcs) {
      if (vc.layoutOnly) () // dataChange=false throughout: no row change
      else if (vc.cdc.nonEmpty) cdcByVersion += (v -> vc.cdc)
      else if (!vc.removesFiles) {
        if (vc.adds.nonEmpty) insertsByVersion += (v -> vc.adds)
      }
      // operation-name fallback covers pre-dataChange-bit logs
      else if (!vc.operation.exists(noRowChange.contains))
        throw new IllegalStateException(
          s"version $v of $table rewrites/removes files without CDC " +
            "sidecars; set delta.enableChangeDataFeed=true before DML to " +
            "make rewrite versions change-readable (overwrite/restore " +
            "versions are never change-readable)")
    }
    // keyed by BASENAME (staged files are UUID-named, unique per
    // table) — input_file_name() returns a URI whose directory-part
    // encoding need not match Path.toUri byte-for-byte
    def versionTag(byV: Seq[(Long, Seq[DeltaLog.AddFile])], df: DataFrame)
        : DataFrame = {
      val fileVersion: Map[String, Long] = byV.flatMap { case (v, fs) =>
        fs.map(f => Paths.get(f.path).getFileName.toString -> v)
      }.toMap
      // file → version lookup is log-sized (one entry per file); a
      // deterministic scalar map keeps the tagging inside the scan
      // stage instead of joining a versions relation in
      val lookup = org.apache.spark.sql.functions.typedlit(fileVersion)
      df.withColumn("_commit_version",
        org.apache.spark.sql.functions.element_at(
          lookup, org.apache.spark.sql.functions.regexp_extract(
            input_file_name(), "[^/]+$", 0)))
    }
    val emptyFeed = schema.map { s =>
      val base = ColumnMapping.stripMapping(s)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(base.fields ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_commit_version", LongType, nullable = true))))
    }
    val insertPart = {
      val byV = insertsByVersion.result()
      val paths = byV.flatMap(_._2).map(f =>
        Paths.get(table).resolve(f.path).toString)
      if (paths.isEmpty) None
      // applyDv=false: these files are read AS OF their append version
      // — rows a later delete vectored must still appear as inserts
      // (the delete's own change rows account for their removal)
      else Some(versionTag(byV,
        readTableFiles(spark, table, latest, paths, applyDv = false)
          .withColumn("_change_type", lit("insert"))))
    }
    val cdcPart = {
      val byV = cdcByVersion.result()
      val paths = byV.flatMap(_._2).map(f =>
        Paths.get(table).resolve(f.path).toString)
      if (paths.isEmpty) None
      else Some(versionTag(byV, readCdcFiles(spark, latest, paths)))
    }
    (insertPart, cdcPart) match {
      case (Some(i), Some(c)) => i.unionByName(c)
      case (Some(i), None) => i
      case (None, Some(c)) => c
      case (None, None) => emptyFeed.getOrElse(
        throw new IllegalStateException(
          s"change range [$fromVersion,$toVersion] of $table is empty and " +
            "the table has no committed schema"))
    }
  }

  /** Read `_change_data/` sidecars back to LOGICAL names +
    * `_change_type` — the cdc mirror of [[readTableFiles]] (sidecars
    * store physical data columns under mapping; `_change_type` is
    * plumbing, outside the mapping). */
  private def readCdcFiles(spark: SparkSession, snap: DeltaLog.Snapshot,
      paths: Seq[String]): DataFrame = {
    val s = snap.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    s match {
      case None => spark.read.parquet(paths: _*)
      case Some(logical) =>
        val phys =
          if (ColumnMapping.enabled(snap)) ColumnMapping.physicalSchema(logical)
          else ColumnMapping.stripMapping(logical)
        val withCt = StructType(phys.fields :+
          StructField("_change_type", StringType, nullable = false))
        val df = spark.read.schema(withCt).parquet(paths: _*)
        if (!ColumnMapping.enabled(snap)) df
        else df.select(logical.fields.map(f =>
          col(ColumnMapping.physicalName(f)).as(f.name)).toIndexedSeq
          :+ col("_change_type"): _*)
    }
  }

  /** RESTORE TO VERSION AS OF `version` (Delta's RESTORE): ONE new
    * commit whose actions turn the current live set into the target
    * snapshot's — files only in the current state are removed, files
    * only in the target are re-added, the target's schema and
    * partition layout come back as the commit's metaData. History is
    * PRESERVED: restore is itself a version, every pre-restore state
    * still time-travels, and no data file is touched until vacuum.
    * Restoring past a vacuum horizon fails loudly (the snapshot read
    * does), never silently resurrecting missing files. Commits through
    * [[transact]]. */
  def restore(table: String, version: Long): Long = {
    val target = DeltaLog.snapshot(table, Some(version))
    transact(table, "restore") { cur =>
      if (cur.version == version) Done(cur.version) // no-op restore
      else {
        val targetPaths = target.files.map(_.path).toSet
        val curPaths = cur.files.map(_.path).toSet
        val actions =
          Seq(DeltaLog.commitInfoAction("RESTORE")) ++
            target.schemaJson.map(DeltaLog.metaDataAction(_,
              target.partitionColumns, DeltaLog.tableId(table),
              target.configuration)) ++
            cur.files.filterNot(f => targetPaths(f.path))
              .map(f => DeltaLog.removeAction(f.path)) ++
            // re-add files the current state lacks — AND files whose
            // path survives but whose deletion vector differs (a DV-only
            // delete changes liveness without changing the path; the
            // restored version must get ITS vector state back)
            target.files.filter(f => !curPaths(f.path) ||
                cur.files.find(_.path == f.path).exists(_.dv != f.dv))
              .map(DeltaLog.addActionOf(_))
        Commit(actions)
      }
    }
  }

  /** SHALLOW CLONE (the public protocol's `CREATE TABLE … SHALLOW CLONE
    * src [VERSION AS OF v]`): create `target` as a METADATA-ONLY copy
    * of `source`'s snapshot — one commit carrying the source's
    * protocol requirements, schema (generation expressions included),
    * partition layout and configuration (constraints, CDF/DV flags,
    * column mapping — the whole table contract), plus one add per live
    * file REFERENCING the source's bytes by ABSOLUTE path. Zero data
    * moves: cloning a 100 TB table costs one log write.
    *
    * Divergence is copy-on-write by construction: the target's own
    * writes stage files under the target directory; DML that touches a
    * source-referenced file removes the absolute REFERENCE (the
    * source's bytes are never rewritten in place) and stages the
    * post-image locally. `vacuum(target)` only ever deletes files
    * under the target directory, so it cannot reach the source;
    * `vacuum(source)` CAN strand clones (the protocol's documented
    * shallow-clone caveat — the clone fails loudly at read time).
    * The target gets a fresh metaData id; the source's history is not
    * copied (time travel on the target starts at its clone commit,
    * exactly stock semantics). */
  def shallowClone(source: String, target: String,
      versionAsOf: Option[Long] = None): Long = {
    require(DeltaLog.versions(target).isEmpty,
      s"clone target already exists: $target")
    val snap = DeltaLog.snapshot(source, versionAsOf)
    val srcAbs = Paths.get(source).toAbsolutePath.normalize
    def abs(p: String): String =
      if (p.startsWith("/")) p else srcAbs.resolve(p).toString
    val actions =
      Seq(DeltaLog.commitInfoAction("CLONE"),
        DeltaLog.protocolAction(snap.minReaderVersion, snap.minWriterVersion,
          snap.readerFeatures.toSeq, snap.writerFeatures.toSeq)) ++
        snap.schemaJson.map(DeltaLog.metaDataAction(_, snap.partitionColumns,
          DeltaLog.tableId(target), snap.configuration)).toSeq ++
        snap.domainMetadata.toSeq.sortBy(_._1).map { case (d, c) =>
          DeltaLog.domainMetadataAction(d, c) } ++
        snap.files.map(f => DeltaLog.addActionOf(f.copy(path = abs(f.path),
          dv = f.dv.map(d => d.copy(path = abs(d.path))))))
    Files.createDirectories(Paths.get(target))
    DeltaLog.commit(target, -1L, actions)
  }

  /** CONVERT TO DELTA (the public protocol's in-place adoption of an
    * existing parquet directory, optionally Hive-partitioned): no byte
    * of data moves or is rewritten — version 0 commits one `add` per
    * existing parquet file, with the schema (partition columns
    * included) inferred by Spark's own parquet reader. At 100 TB this
    * is the difference between a day-long rewrite and one metadata
    * commit: the conversion cost is one footer-less listing walk plus
    * one distributed stats job (itself optional best-effort), never a
    * data read. Partition directories (`col=value/`) become
    * partitionValues exactly as [[stageIn]] records them for native
    * writes, so pruning, stats-based skipping and every later DML work
    * identically on converted and natively-written tables.
    *
    * Like stock Delta's `CONVERT TO DELTA parquet.`…``, the operation
    * refuses a directory that is already a delta table, and is
    * IDEMPOTENT ONLY by that refusal (a second convert fails loudly
    * rather than double-adding). Zero-row files are adopted (they
    * exist; dropping them would make vacuum treat them as garbage
    * while a concurrent plain-parquet reader still lists them). */
  def convertToDelta(spark: SparkSession, table: String,
      declaredPartCols: Option[Seq[String]] = None): Long = {
    require(DeltaLog.versions(table).isEmpty,
      s"convert: $table is already a delta table")
    val tableDir = Paths.get(table).toAbsolutePath.normalize
    require(Files.isDirectory(tableDir), s"convert: not a directory: $table")
    val walk = Files.walk(tableDir)
    val files =
      try walk.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_") &&
          // never adopt log/staging internals as data (a checkpoint
          // parquet inside _delta_log, a racer's staged file)
          !tableDir.relativize(p).iterator.asScala.exists { seg =>
            val s = seg.toString
            s == "_delta_log" || s.startsWith(".staging-")
          }
      }.toSeq.sortBy(_.toString)
      finally walk.close()
    require(files.nonEmpty, s"convert: no parquet files under $table")
    // Spark's reader infers the FULL logical schema — data columns
    // from footers, partition columns (typed) from the directory
    // layout — which is exactly what the metaData must declare.
    val df = spark.read.parquet(tableDir.toString)
    val partCols: Seq[String] = {
      val rel = tableDir.relativize(files.head)
      (0 until rel.getNameCount - 1).map { i =>
        val seg = rel.getName(i).toString
        val eq = seg.indexOf('=')
        require(eq > 0,
          s"convert: non-Hive directory level '$seg' under $table " +
            "(expected col=value)")
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.take(eq))
      }
    }
    for (declared <- declaredPartCols)
      require(declared.map(_.toLowerCase) == partCols.map(_.toLowerCase),
        s"convert: PARTITIONED BY (${declared.mkString(",")}) does not " +
          s"match the directory layout (${partCols.mkString(",")})")
    // same one-job stats pass a native write gets; keys are paths
    // relative to the table root, identical to the adds below
    val statsByFile = collectStats(spark, tableDir.toString, df.schema)
    val adds = files.map { p =>
      val rel = tableDir.relativize(p)
      val partitionValues = (0 until rel.getNameCount - 1).map { i =>
        val seg = rel.getName(i).toString
        val eq = seg.indexOf('=')
        require(eq > 0, s"convert: unexpected directory level '$seg'")
        val k = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.take(eq))
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(eq + 1))
        k -> v
      }.toMap
      require(partitionValues.keySet == partCols.toSet,
        s"convert: inconsistent partition layout at $rel " +
          s"(expected ${partCols.mkString(",")})")
      val stats = {
        val collected = statsByFile.getOrElse(rel.toString, Map.empty)
        if (collected.nonEmpty) collected
        else stagedRowCount(spark, p)
          .map(c => Map("n" -> c.toString)).getOrElse(Map.empty)
      }
      DeltaLog.AddFile(rel.toString, Files.size(p), stats, partitionValues)
    }
    val actions =
      Seq(DeltaLog.commitInfoAction("CONVERT"),
        DeltaLog.protocolAction(),
        DeltaLog.metaDataAction(df.schema.json, partCols,
          DeltaLog.tableId(table))) ++ adds.map(DeltaLog.addActionOf(_))
    DeltaLog.commit(table, -1L, actions)
  }

  /** COPY INTO (the public SQL ingestion idiom): append the contents
    * of source parquet files the table has NOT already loaded, exactly
    * once per file. Idempotence is file-granular and survives restarts
    * because the ledger rides the log itself: each loaded source file
    * is one protocol `domainMetadata` action under
    * `graft.copyInto.<sha1(path|size|mtime)>` — committed ATOMICALLY
    * with that file's data, replayed last-wins like any domain, and
    * checkpointed. Re-running the same COPY INTO is a metadata-only
    * no-op; a source dir that gained files loads only the gain; an
    * overwritten source file (same path, new size/mtime) counts as
    * new, matching stock semantics. At scale the ledger costs ~60
    * bytes of log per ingested FILE (not row) — at 100 TB / 1 GB files
    * that is ~6 MB of checkpointed state, negligible beside the add
    * actions themselves.
    *
    * Deliberate scope gates (loud refusals, not silent corruption):
    * targets with column mapping, generated or identity columns must
    * ingest through [[write]] — those features rewrite the frame on
    * the way in, and COPY INTO's contract is byte-faithful file
    * ingestion. Constraints ARE enforced; row tracking ids ARE
    * assigned; commits run through [[transact]], so the appendOnly
    * gate applies. Returns (commitVersion, filesLoaded). */
  def copyInto(spark: SparkSession, table: String,
      source: String): (Long, Int) = {
    require(DeltaLog.versions(table).nonEmpty,
      s"COPY INTO: target $table does not exist (CREATE it first — " +
        "stock COPY INTO's contract)")
    val srcDir = Paths.get(source).toAbsolutePath.normalize
    require(Files.isDirectory(srcDir), s"COPY INTO: no such dir: $source")
    val walk = Files.walk(srcDir)
    val srcFiles =
      try walk.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_") &&
          // a landing zone that happens to hold delta/staging internals
          // must never leak them into the load
          !srcDir.relativize(p).iterator.asScala.exists { seg =>
            val s = seg.toString
            s == "_delta_log" || s.startsWith(".staging-")
          }
      }.toSeq.sortBy(_.toString)
      finally walk.close()
    def domainOf(p: Path): String = {
      val key = s"$p|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}"
      val d = java.security.MessageDigest.getInstance("SHA-1")
        .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      "graft.copyInto." + d.map("%02x".format(_)).mkString
    }
    val byDomain = srcFiles.map(p => domainOf(p) -> p)
    // each attempt re-derives the fresh set, so a racing COPY INTO of
    // the same files loads each exactly once
    var loaded = 0
    val version = transact(table, "copyInto") { snap =>
      require(mappingOf(snap).isEmpty,
        s"COPY INTO $table: column-mapped targets ingest through write()")
      val tblSchema = snap.schemaJson
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(throw new IllegalStateException(
          s"COPY INTO $table: table has no schema"))
      require(GeneratedColumns.of(tblSchema).isEmpty &&
          IdentityColumns.of(tblSchema).isEmpty,
        s"COPY INTO $table: generated/identity targets ingest through " +
          "write() (those features rewrite rows on the way in)")
      val fresh = byDomain.filterNot(d => snap.domainMetadata.contains(d._1))
      loaded = fresh.length
      if (fresh.isEmpty) Done(snap.version)
      else {
        val df0 = spark.read.parquet(fresh.map(_._2.toString): _*)
        // byte-faithful contract: source columns must BE the table's
        // columns (order-insensitive); project to the table's order
        val tblTypes = tblSchema.fields.map(f => f.name -> f.dataType).toMap
        val missing = tblSchema.fieldNames.filterNot(df0.columns.contains)
        val extra = df0.columns.filterNot(tblTypes.contains)
        val mistyped = df0.schema.fields.filter(f =>
          tblTypes.get(f.name).exists(_ != f.dataType))
        require(missing.isEmpty && extra.isEmpty && mistyped.isEmpty,
          s"COPY INTO $table: source schema does not match the table " +
            s"(missing=${missing.mkString(",")} extra=${extra.mkString(",")}" +
            s" mistyped=${mistyped.map(_.name).mkString(",")})")
        val df = df0.select(tblSchema.fieldNames.map(col(_)): _*)
        val added = stageIn(df, table, snap.partitionColumns)
        enforceConstraints(spark, table, added,
          snap.checkConstraints.toSeq.sortBy(_._1))
        val (addedR, ridActs) = RowTracking.assignFresh(snap, added,
          snap.version + 1)
        val actions =
          Seq(DeltaLog.commitInfoAction("COPY INTO"),
            DeltaLog.metaDataAction(snap.schemaJson.get,
              snap.partitionColumns, DeltaLog.tableId(table),
              snap.configuration)) ++
            fresh.map { case (domain, p) =>
              DeltaLog.domainMetadataAction(domain,
                s"""{"source":${DeltaLog.Json.str(p.toString)}}""") } ++
            ridActs ++
            addedR.map(DeltaLog.addActionOf(_))
        Commit(actions, added.map(_.path))
      }
    }
    (version, loaded)
  }

  // -- data skipping ---------------------------------------------------

  /** One Spark job computing per-staged-file row counts and min/max of
    * every numeric/string column, keyed by file basename. */
  /** Canonical whole-second UTC rendering for timestamp stats — the
    * same encoding [[canonValue]] gives filter literals, so the
    * skipping compare is bytewise sound. min floors to the second and
    * max CEILS, so the truncation only ever widens the range
    * (conservative). */
  private def canonTsStat(t: java.sql.Timestamp, isMin: Boolean): String =
    FooterStats.canonTsStatMicros(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t),
      isMin)

  /** Footer-based stats (round 17): the min/max/rowcount of every
    * staged file comes from its parquet FOOTER — O(KB) driver-side
    * metadata reads — instead of the former distributed
    * groupBy(input_file_name) agg, which RE-READ every staged byte
    * right after writing it (2x the write path's data I/O at any
    * scale; 0.15-0.28 s of fixed job cost per commit at fixture
    * scale, measured round 17). Parquet chunk statistics are exact
    * for the types we stat — they are what stock Delta's
    * convert-to-delta trusts — with two documented degradations, both
    * CONSERVATIVE (a file without a column's stats is always kept by
    * [[liveFilesAfterSkipping]]):
    *   - a column whose min+max exceed parquet-mr's 4 KB footer-stats
    *     cap (very long strings) carries no stats;
    *   - INT96 timestamps carry no usable stats, so [[stageIn]] writes
    *     the standard TIMESTAMP_MICROS encoding whenever the schema
    *     has a timestamp column (INT96 is deprecated in the parquet
    *     spec; stock Delta writes INT64 micros too). Foreign INT96
    *     files (convert-to-delta) simply forfeit timestamp stats.
    * Values render EXACTLY as the old agg path rendered them (same
    * JVM toString per type; temporal stats keep the canonical
    * whole-second/ISO encodings [[canonValue]] compares against), so
    * committed stats are byte-compatible across the change. Keys are
    * paths RELATIVE to `staging` — the same render the callers'
    * file walks produce, closing the old URI-substring fragility. */
  private def collectStats(spark: SparkSession, staging: String,
      schema: StructType): Map[String, Map[String, String]] = {
    val root = Paths.get(staging)
    if (!Files.exists(root)) return Map.empty
    val statTypes: Map[String, DataType] = schema.fields.iterator.collect {
      case f if (f.dataType match {
        case _: NumericType | StringType | DateType | TimestampType => true
        case _ => false
      }) => f.name -> f.dataType
    }.toMap
    val walk = Files.walk(root)
    val files =
      try walk.iterator.asScala.filter { p =>
        p.getFileName.toString.endsWith(".parquet") && {
          val rel = root.relativize(p)
          // same visibility rules as Spark's reader (and the old agg
          // path): _delta_log, hidden and _-prefixed entries excluded
          (0 until rel.getNameCount).forall { i =>
            val s = rel.getName(i).toString
            !s.startsWith(".") && !s.startsWith("_")
          }
        }
      }.toSeq.sortBy(_.toString)
      finally walk.close()
    val conf = spark.sessionState.newHadoopConf()
    // footer opens are independent ~ms-scale metadata reads; a small
    // bounded pool keeps a many-file commit (partitioned staging,
    // convert-to-delta) at listing-latency rather than files x latency.
    // Past [[DistributedStatsFileFloor]] files the reads move INTO a
    // Spark job (round-18, verdict #3): at a 100 TB commit the staged
    // file count scales with the write's task count, and serializing
    // tens of thousands of ~ms opens through one driver pool would
    // make the driver the write path's bottleneck — the executors read
    // the footers where the files are, the driver only collects the
    // O(files) stat maps it must embed in the log anyway. Same reader,
    // same renderings, zero data I/O either way.
    val perFile: Seq[(Path, Option[Map[String, String]])] =
      if (files.size <= distributedStatsFileFloor(spark)) {
        // one read-option set for every footer (built per file, it
        // re-reads a dozen keys from `conf` on each open); footer reads
        // take no codec, so the pool threads can share it
        val opts = HadoopReadOptions.builder(conf).build()
        if (files.size < 8)
          files.map(p => p -> FooterStats.read(p.toString, conf, opts, statTypes))
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(16, files.size))
          try files.map { p =>
            p -> pool.submit(new java.util.concurrent.Callable[
              Option[Map[String, String]]] {
              def call(): Option[Map[String, String]] =
                FooterStats.read(p.toString, conf, opts, statTypes)
            })
          }.map { case (p, f) => p -> f.get() }
          finally pool.shutdown()
        }
      } else {
        import scala.jdk.CollectionConverters._
        // a Hadoop Configuration is not serializable: ship its entries
        // and rebuild it, with its read options, once per partition
        // (defaults off — the entries are the session's full resolved
        // view)
        val confEntries = conf.iterator().asScala
          .map(e => e.getKey -> e.getValue).toArray
        val st = statTypes
        val names = files.map(_.toString)
        val slices = math.max(1, math.min(names.size / 32 + 1,
          spark.sparkContext.defaultParallelism * 2))
        spark.sparkContext.setJobDescription(
          s"graft-delta: footer stats, ${names.size} staged files")
        try {
          val read = spark.sparkContext.parallelize(names, slices)
            .mapPartitions { ps =>
              val c = new org.apache.hadoop.conf.Configuration(false)
              confEntries.foreach { case (k, v) => c.set(k, v) }
              val opts = HadoopReadOptions.builder(c).build()
              ps.map(p => p -> FooterStats.read(p, c, opts, st))
            }.collect()
          read.map { case (p, s) => Paths.get(p) -> s }.toSeq
        } finally spark.sparkContext.setJobDescription(null)
      }
    perFile.flatMap { case (p, st) =>
      st.map(kv => root.relativize(p).toString -> kv)
    }.toMap
  }

  /** Staged-file count above which [[collectStats]] reads footers in a
    * distributed job instead of a driver thread pool. Parameterised
    * (spark.graft.stats.distributedFileFloor) with a local default
    * sized so every fixture-scale commit keeps the zero-job driver
    * path — the bench's per-commit cost is unchanged — while a
    * many-thousand-file production commit scales with the cluster. */
  private def distributedStatsFileFloor(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.stats.distributedFileFloor")
      .flatMap(_.toIntOption).getOrElse(64)

  /** Files that MAY satisfy the conjunction of `filters` given their
    * min/max stats; a file without stats for a referenced column is
    * always kept (skipping must be conservative). */
  private[graft] def liveFilesAfterSkipping(snap: DeltaLog.Snapshot,
      filters: Seq[Filter], schema: StructType): Seq[DeltaLog.AddFile] = {
    if (filters.isEmpty) return snap.files
    val numeric: String => Boolean = c =>
      schema.fields.find(_.name == c).exists(_.dataType.isInstanceOf[NumericType])
    val typeOf: String => Option[DataType] = c =>
      schema.fields.find(_.name == c).map(_.dataType)
    snap.files.filter { f =>
      // a partition column's value is an exact min=max "stat" for every
      // row of the file — consulting it makes partition pruning work
      // through the same Filter path as data skipping (the null
      // partition's sentinel synthesizes nothing: no stats, kept)
      val stats =
        if (f.partitionValues.isEmpty) f.stats
        else f.stats ++ f.partitionValues.iterator
          .filter(_._2 != "__HIVE_DEFAULT_PARTITION__")
          // a TIMESTAMP partition value was rendered in the writer's
          // SESSION zone; canonValue renders filter literals at UTC —
          // only comparable when the session is UTC (the engine pins
          // it, but a foreign consumer might not)
          .filter { case (k, _) =>
            !typeOf(k).contains(TimestampType) ||
              org.apache.spark.sql.internal.SQLConf.get
                .sessionLocalTimeZone == "UTC" }
          .flatMap { case (k, v) => Seq(s"min.$k" -> v, s"max.$k" -> v) }
      filters.forall(mayMatch(stats, _, numeric, typeOf))
    }
  }

  /** Ordering on stringified stats. Numeric columns were stringified
    * with toString (shortest round-trip), so BigDecimal parses recover
    * exact ordering; string columns compare by UTF-8 BYTES — Spark's
    * min/max on strings uses UTF8String's binary order, and
    * String.compareTo (UTF-16 code units) disagrees with it for
    * supplementary-plane characters (emoji, CJK extensions), which
    * would make skipping wrongly prune files. The column's declared
    * type decides which comparison, never the value's shape. */
  private def cmp(a: String, b: String, isNumeric: Boolean): Option[Int] =
    if (!isNumeric)
      Some(java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    else
      try Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)))
      catch { case _: NumberFormatException => None } // NaN/Inf ⇒ unknown

  /** Render a filter value into the stringified encoding the stats (or
    * a partition value) use for the column's declared type, so the
    * [[cmp]] comparison is apples-to-apples. Temporal values need it:
    * partition values store "yyyy-MM-dd" / "yyyy-MM-dd HH:mm:ss"
    * strings while filter literals arrive as Catalyst-internal longs /
    * java.sql types — comparing those raw would WRONGLY prune. Unknown
    * renderings return None → the comparison abstains → file kept. */
  private def canonValue(v: Any, dt: Option[DataType]): Option[String] =
    dt match {
      case Some(DateType) => v match {
        case i: Int => Some(java.time.LocalDate.ofEpochDay(i.toLong).toString)
        case d: java.sql.Date => Some(d.toLocalDate.toString)
        case d: java.time.LocalDate => Some(d.toString)
        case s: String => Some(s)
        case _ => None
      }
      case Some(TimestampType) =>
        val micros: Option[Long] = v match {
          case l: Long => Some(l)
          case t: java.sql.Timestamp => Some(
            org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
          case i: java.time.Instant => Some(
            org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
          case s: String => return Some(s)
          case _ => None
        }
        // sub-second values don't byte-order against the trimmed
        // partition rendering ("…00.5" vs "…00.25") — abstain there
        micros.filter(_ % 1000000L == 0).map(us =>
          java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
            .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
            .format(java.time.format.DateTimeFormatter
              .ofPattern("uuuu-MM-dd HH:mm:ss")))
      case Some(_: NumericType) | Some(StringType) => Some(v.toString)
      case Some(org.apache.spark.sql.types.BooleanType) => Some(v.toString)
      case _ => None // unknown/unsupported type → abstain
    }

  private def mayMatch(stats: Map[String, String], filter: Filter,
      numeric: String => Boolean,
      typeOf: String => Option[DataType] = _ => None): Boolean = {
    def mn(c: String) = stats.get(s"min.$c")
    def mx(c: String) = stats.get(s"max.$c")
    def c2(c: String, v: Any, s: Option[String]) = {
      val t = typeOf(c)
      val vc =
        if (t.isEmpty) Some(v.toString) // pre-typed callers (legacy path)
        else canonValue(v, t)
      // a timestamp stat with a fractional second doesn't byte-order
      // against the whole-second rendering — abstain (file kept)
      val statOk = s.forall(str =>
        !t.contains(TimestampType) || !str.contains('.'))
      if (!statOk) None
      else for (a <- vc; b <- s; r <- cmp(a, b, numeric(c))) yield r
    }
    filter match {
      case EqualTo(c, v) =>
        c2(c, v, mn(c)).forall(_ >= 0) && c2(c, v, mx(c)).forall(_ <= 0)
      case GreaterThan(c, v) => c2(c, v, mx(c)).forall(_ < 0)
      case GreaterThanOrEqual(c, v) => c2(c, v, mx(c)).forall(_ <= 0)
      case LessThan(c, v) => c2(c, v, mn(c)).forall(_ > 0)
      case LessThanOrEqual(c, v) => c2(c, v, mn(c)).forall(_ >= 0)
      // IN-list: keep the file unless EVERY value provably misses the
      // [min,max] range (a null in the list is unknowable → keep)
      case In(c, vs) =>
        vs.isEmpty || vs.exists { v =>
          v == null ||
            !(c2(c, v, mn(c)).exists(_ < 0) || c2(c, v, mx(c)).exists(_ > 0))
        }
      case And(l, r) =>
        mayMatch(stats, l, numeric, typeOf) &&
          mayMatch(stats, r, numeric, typeOf)
      case _ => true // unsupported shapes never prune
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}


/** The per-file parquet-footer stats reader behind
  * [[DeltaTable.collectStats]] — a SEPARATE serializable object so the
  * distributed branch can run it inside executor tasks (round 18;
  * `object DeltaTable` itself is not serializable and must not be
  * captured in a task closure). Driver pool and Spark job call the
  * identical code, so renderings cannot diverge between the paths. */
private[sources] object FooterStats extends Serializable {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.types._

  /** One file's stats map from its parquet footer: exact "n" plus
    * "min."/"max." entries for every statted column whose chunk
    * statistics are present and trusted across ALL row groups.
    * Returns None only when the footer itself cannot be read (the
    * caller then falls back to stagedRowCount semantics). */
  def read(p: String, conf: org.apache.hadoop.conf.Configuration,
      options: org.apache.parquet.ParquetReadOptions,
      statTypes: Map[String, DataType]): Option[Map[String, String]] =
    try {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      // the Hadoop input file keeps `.crc` verification of staged files
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(
          java.nio.file.Paths.get(p).toUri), conf), options)
      try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val n = blocks.map(_.getRowCount).sum
        val base = Map("n" -> n.toString)
        if (n == 0L) return Some(base)
        val cols = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.size == 1)
          .groupBy(_.getPath.toDotString)
        val minMax = statTypes.toSeq.flatMap { case (name, dt) =>
          cols.get(name).toSeq.flatMap { chunks =>
            // every row group must carry trusted, non-empty stats for
            // the column, else the column forfeits stats (conservative;
            // all-null chunks have no min/max and are skipped, but if
            // EVERY chunk is all-null the column is genuinely unstatted
            // — the old agg path rendered NULL min/max the same way)
            val stats = chunks.map(_.getStatistics)
            if (stats.exists(s => s == null || s.isEmpty))
              Nil
            else {
              val nonNull = stats.filter(_.hasNonNullValue)
              if (nonNull.isEmpty) Nil
              else try renderFooterMinMax(name, dt, nonNull)
              catch { // an encoding surprise costs ONE column's stats,
                // never the file's row count (skipping is conservative)
                case scala.util.control.NonFatal(_) => Nil
              }
            }
          }
        }
        Some(base ++ minMax)
      } finally r.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Merge per-row-group parquet statistics into the engine's
    * canonical "min.col"/"max.col" string renderings — the SAME
    * renderings the former Spark-agg path produced (JVM toString per
    * type; [[canonTsStat]] / ISO date for temporals). An encoding the
    * schema type can't interpret (e.g. INT96 under TimestampType, or
    * NaN float bounds) yields no entries. */
  private def renderFooterMinMax(name: String, dt: DataType,
      stats: Seq[org.apache.parquet.column.statistics.Statistics[_]])
      : Seq[(String, String)] = {
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.io.api.Binary
    import org.apache.spark.sql.types._
    def entries(minS: String, maxS: String) =
      Seq(s"min.$name" -> minS, s"max.$name" -> maxS)
    dt match {
      case ByteType | ShortType | IntegerType =>
        val vs = stats.map { case s: IntStatistics => (s.getMin, s.getMax) }
        entries(vs.map(_._1).min.toString, vs.map(_._2).max.toString)
      case LongType =>
        val vs = stats.map { case s: LongStatistics => (s.getMin, s.getMax) }
        entries(vs.map(_._1).min.toString, vs.map(_._2).max.toString)
      case FloatType =>
        val vs = stats.map { case s: FloatStatistics => (s.getMin, s.getMax) }
        val (lo, hi) = (vs.map(_._1).min, vs.map(_._2).max)
        if (lo.isNaN || hi.isNaN) Nil else entries(lo.toString, hi.toString)
      case DoubleType =>
        val vs = stats.map { case s: DoubleStatistics => (s.getMin, s.getMax) }
        val (lo, hi) = (vs.map(_._1).min, vs.map(_._2).max)
        if (lo.isNaN || hi.isNaN) Nil else entries(lo.toString, hi.toString)
      case d: DecimalType =>
        def dec(v: Any): java.math.BigDecimal = v match {
          case i: java.lang.Integer =>
            java.math.BigDecimal.valueOf(i.longValue, d.scale)
          case l: java.lang.Long =>
            java.math.BigDecimal.valueOf(l.longValue, d.scale)
          case b: Binary => new java.math.BigDecimal(
            new java.math.BigInteger(b.getBytes), d.scale)
          case _ => throw new IllegalStateException(
            s"unexpected decimal stat ${v.getClass}")
        }
        val vs = stats.map(s =>
          (dec(s.genericGetMin.asInstanceOf[Any]),
            dec(s.genericGetMax.asInstanceOf[Any])))
        entries(vs.map(_._1).min.toString, vs.map(_._2).max.toString)
      case StringType =>
        // merge row-group bounds in parquet's UNSIGNED byte order — the
        // same order Spark's UTF8String min/max uses (java.lang.String
        // compareTo is UTF-16 code-unit order, which DIVERGES above the
        // BMP, so merging rendered strings would be wrong)
        val cmp = org.apache.parquet.schema.PrimitiveComparator
          .UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR
        val bs = stats.map(s => (s.genericGetMin.asInstanceOf[Binary],
          s.genericGetMax.asInstanceOf[Binary]))
        val lo = bs.map(_._1).reduce((a, b) => if (cmp.compare(a, b) <= 0) a else b)
        val hi = bs.map(_._2).reduce((a, b) => if (cmp.compare(a, b) >= 0) a else b)
        entries(lo.toStringUsingUTF8, hi.toStringUsingUTF8)
      case DateType =>
        val vs = stats.map { case s: IntStatistics => (s.getMin, s.getMax) }
        entries(
          java.time.LocalDate.ofEpochDay(vs.map(_._1).min.toLong).toString,
          java.time.LocalDate.ofEpochDay(vs.map(_._2).max.toLong).toString)
      case TimestampType =>
        // only the standard INT64 micros/millis encodings carry
        // ordered stats; INT96 (legacy) and anything else forfeits
        val units = stats.map(_.`type`).map { pt =>
          pt.getLogicalTypeAnnotation match {
            case t: org.apache.parquet.schema.LogicalTypeAnnotation
                .TimestampLogicalTypeAnnotation => Some(t.getUnit)
            case _ => None
          }
        }
        import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
        if (units.exists(_.isEmpty)) Nil
        else {
          def micros(v: Long, u: TimeUnit): Option[Long] = u match {
            case TimeUnit.MICROS => Some(v)
            case TimeUnit.MILLIS => Some(Math.multiplyExact(v, 1000L))
            case _ => None // NANOS would truncate; forfeit
          }
          val vs = stats.zip(units).map { case (s, u) =>
            val ls = s.asInstanceOf[LongStatistics]
            (micros(ls.getMin, u.get), micros(ls.getMax, u.get))
          }
          if (vs.exists(v => v._1.isEmpty || v._2.isEmpty)) Nil
          else entries(
            canonTsStatMicros(vs.map(_._1.get).min, isMin = true),
            canonTsStatMicros(vs.map(_._2.get).max, isMin = false))
        }
      case _ => Nil
    }
  }


  /** Canonical whole-second UTC rendering for timestamp stats — min
    * floors to the second and max CEILS, so the truncation only ever
    * widens the range (conservative). Lives here so both the driver
    * pool and the distributed reader render identically. */
  private[sources] def canonTsStatMicros(us: Long, isMin: Boolean): String = {
    val floor = Math.floorDiv(us, 1000000L) * 1000000L
    val sec = if (isMin || us == floor) floor else floor + 1000000L
    java.time.Instant.EPOCH.plus(sec, java.time.temporal.ChronoUnit.MICROS)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("uuuu-MM-dd HH:mm:ss"))
  }

}
