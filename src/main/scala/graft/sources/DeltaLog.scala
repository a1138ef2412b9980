package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType,
  MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Minimal Delta-protocol-shaped transaction log, implemented from
  * scratch per the Delta Lake VLDB'20 design (PAPERS.md). The reference
  * consumes Delta through an opaque server (`format("delta")` writes at
  * examples/example_lakesail_kerberos.py:166-184, reads at
  * examples/read_deltalake_hdfs.py:57-67); no delta-spark jar exists
  * offline, so the log layer is our own ~200 LoC of pure Scala.
  *
  * On-disk layout (mirrors the real protocol closely enough that the
  * semantics — versioned ACID commits over immutable parquet — match):
  *
  * {{{
  * table/
  *   part-*.parquet                  (immutable data files)
  *   _delta_log/00000000000000000000.json
  *   _delta_log/00000000000000000001.json ...
  * }}}
  *
  * Each version file holds one JSON action per line: `commitInfo`,
  * `metaData` (schema JSON), `add {path, size}`, `remove {path}`.
  *
  * ACID story (single-writer, matching everything the reference
  * demonstrates — it never runs concurrent writers):
  *   - Atomicity/durability: data files are fully written *before* the
  *     commit; the commit point is the atomic create-new of version
  *     N+1's log file (`Files.move` with ATOMIC_MOVE onto a
  *     create-new target). Readers never see a half commit: a crash
  *     before the move leaves only orphan parquet files that no log
  *     references.
  *   - Isolation: optimistic — if version N+1 already exists the
  *     commit fails (caller may re-read and retry).
  *   - On HDFS/S3 the same protocol holds with the store's atomic
  *     rename/put-if-absent; only this file-move shim would change.
  */
object DeltaLog {
  private val V = "%020d"

  /** The lost-race signal of [[commit]]: another writer already claimed
    * the target version. Retry loops catch this type only, so every
    * other IllegalStateException (a refused table, a failed invariant)
    * surfaces on the attempt that raised it. */
  final class CommitConflictException(msg: String)
    extends IllegalStateException(msg)

  /** stats: flat map with keys `n` (row count), `min.<col>`,
    * `max.<col>` — values stringified with toString, which for
    * numerics is the shortest round-trip form, so ordering of the
    * parsed values matches the original ordering (data-skipping per
    * the Delta paper's per-file min/max design). */
  /** `dv` = the file's live deletion vector, when rows have been
    * soft-deleted in place (see [[DeletionVectors]]): readers subtract
    * the marked row indexes; `stats.n` stays the PHYSICAL row count
    * (protocol: tightBounds=false in spirit — skipping stays
    * conservative). */
  /** `baseRowId`/`defaultRowCommitVersion` = ROW TRACKING (the
    * protocol's stable row identity): fresh row id of physical row i
    * in this file = baseRowId + i; the commit version rows in this
    * file default to. Files REWRITTEN from others (compaction) carry
    * the surviving rows' original ids in a materialized column
    * instead — see [[RowTracking]]. */
  final case class AddFile(path: String, size: Long,
      stats: Map[String, String] = Map.empty,
      partitionValues: Map[String, String] = Map.empty,
      dv: Option[DeletionVectors.Descriptor] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None,
      modificationTime: Long = 0L)
  /** `txns` = latest committed streaming-transaction version per
    * application id (the Delta protocol's SetTransaction action) — the
    * idempotence ledger the streaming sink checks before re-applying a
    * replayed micro-batch. */
  /** `configuration` = the protocol metaData's configuration object —
    * carries table properties such as CHECK constraints
    * (`delta.constraints.<name>` → expression). Every writer must
    * CARRY IT FORWARD into the metaData it commits, or the property
    * would silently vanish on the next append. */
  /** `domainMetadata` = the protocol's named-domain key/value state
    * (domain → configuration JSON string): system features park their
    * bookkeeping here (row tracking keeps `rowIdHighWaterMark` under
    * `delta.rowTracking`), replayed last-wins with `removed` acting as
    * a tombstone, checkpointed like any action. */
  final case class Snapshot(version: Long, schemaJson: Option[String],
      files: Seq[AddFile], partitionColumns: Seq[String] = Nil,
      txns: Map[String, Long] = Map.empty,
      configuration: Map[String, String] = Map.empty,
      minReaderVersion: Int = 1, minWriterVersion: Int = 2,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty,
      domainMetadata: Map[String, String] = Map.empty) {
    /** (name, sql expression) of every CHECK constraint on the table. */
    def checkConstraints: Seq[(String, String)] =
      configuration.collect {
        case (k, v) if k.startsWith("delta.constraints.") =>
          k.stripPrefix("delta.constraints.") -> v
      }.toSeq.sortBy(_._1)
  }

  /** Protocol surface this engine implements (public Delta protocol,
    * "Table Features" plus the legacy version ladder). The gates below
    * enforce the protocol's core promise: a reader REFUSES a table
    * demanding reader capabilities it lacks (reading anyway silently
    * returns wrong rows — e.g. resurrecting DV-deleted rows), and a
    * writer REFUSES a table listing writer features it would fail to
    * MAINTAIN (writing anyway breaks the table's contract for every
    * other client — e.g. appending without writing change data). */
  val SupportedReaderVersion = 3
  val SupportedWriterVersion = 7

  /** One protocol table feature this engine implements.
    *   - `readerWriter`: listed in `readerFeatures` too (a reader that
    *     lacks it would return wrong rows), else writer-only.
    *   - `legacyGate`: the legacy (reader, writer) versions graft raises
    *     a table below the features gate to when the feature is added;
    *     without one, adding it raises the table to writer 7.
    *   - `impliedBy`: the legacy writer version from which a table
    *     below the features gate supports the feature unlisted.
    *   - `requires`: features that must be listed with it.
    *   - `active`: whether a snapshot uses the feature, so an upgrade to
    *     writer 7 must list it. */
  final case class TableFeature(name: String, readerWriter: Boolean,
      legacyGate: Option[(Int, Int)] = None, impliedBy: Option[Int] = None,
      requires: Set[String] = Set.empty)(val active: Snapshot => Boolean)

  private def prop(key: String)(snap: Snapshot): Boolean =
    snap.configuration.get(key).contains("true")

  /** The table-feature registry: every protocol decision (the supported
    * sets, what an upgrade lists, what a legacy version implies) derives
    * from these entries. Supporting a new feature means adding one. */
  val Features: Seq[TableFeature] = Seq(
    TableFeature("appendOnly", readerWriter = false, impliedBy = Some(2))(
      prop("delta.appendOnly")),
    TableFeature("checkConstraints", readerWriter = false,
      legacyGate = Some((1, 3)), impliedBy = Some(3))(
      _.checkConstraints.nonEmpty),
    // no legacy implication: graft lists changeDataFeed whenever it
    // writes change files, on legacy writer 4-6 tables too
    TableFeature("changeDataFeed", readerWriter = false)(
      prop("delta.enableChangeDataFeed")),
    TableFeature(GeneratedColumns.Feature, readerWriter = false,
      impliedBy = Some(4))(s => GeneratedColumns.anyIn(s.schemaJson)),
    TableFeature("columnMapping", readerWriter = true,
      legacyGate = Some((2, 5)), impliedBy = Some(5))(ColumnMapping.enabled),
    TableFeature(IdentityColumns.Feature, readerWriter = false,
      impliedBy = Some(6))(s => IdentityColumns.anyIn(s.schemaJson)),
    TableFeature("deletionVectors", readerWriter = true)(
      prop(DeletionVectors.PropKey)),
    TableFeature("v2Checkpoint", readerWriter = true)(
      _.configuration.get("delta.checkpointPolicy").contains("v2")),
    TableFeature("typeWidening", readerWriter = true)(
      prop("delta.enableTypeWidening")),
    TableFeature("inCommitTimestamp", readerWriter = false)(
      prop("delta.enableInCommitTimestamps")),
    TableFeature("rowTracking", readerWriter = false,
      requires = Set("domainMetadata"))(RowTracking.enabled),
    TableFeature("domainMetadata", readerWriter = false)(s =>
      RowTracking.enabled(s) || s.domainMetadata.nonEmpty))

  private val featureByName: Map[String, TableFeature] =
    Features.map(f => f.name -> f).toMap

  val SupportedReaderFeatures: Set[String] =
    Features.filter(_.readerWriter).map(_.name).toSet
  val SupportedWriterFeatures: Set[String] = Features.map(_.name).toSet

  /** The protocol action a commit adding `adding` must carry, if any.
    *   - Nothing when every added feature (and its requirements) is
    *     already listed or implied by the table's legacy versions.
    *   - Below writer 7, when every missing feature has a legacy gate:
    *     the highest of those gates.
    *   - Otherwise writer 7 (reader 3 for a reader-writer feature with
    *     no legacy reader gate), listing the snapshot's features, every
    *     active feature and the added ones — dropping an active feature
    *     on the upgrade would let a feature-unaware writer corrupt the
    *     table. */
  def protocolFor(snap: Snapshot, adding: Set[String]): Option[String] = {
    val added = (adding ++ adding.flatMap(featureByName(_).requires))
      .toSeq.map(featureByName)
    val (r, w) = (snap.minReaderVersion, snap.minWriterVersion)
    def implied(f: TableFeature): Boolean = w < 7 &&
      f.impliedBy.exists(_ <= w) && f.legacyGate.forall(_._1 <= r)
    val missing = added.filterNot(f => snap.writerFeatures(f.name) || implied(f))
    if (missing.isEmpty) None
    else if (w < 7 && missing.forall(_.legacyGate.nonEmpty)) {
      val gates = missing.flatMap(_.legacyGate)
      Some(protocolAction((r +: gates.map(_._1)).max, (w +: gates.map(_._2)).max))
    } else {
      val listed = added ++ Features.filter(_.active(snap))
      val reader = (r +: missing.filter(_.readerWriter)
        .map(_.legacyGate.fold(3)(_._1))).max
      Some(protocolAction(reader, 7,
        (snap.readerFeatures ++ listed.filter(_.readerWriter).map(_.name)).toSeq,
        (snap.writerFeatures ++ listed.map(_.name)).toSeq))
    }
  }

  /** The snapshot's own protocol, restated (checkpoints, clones). */
  def protocolOf(snap: Snapshot): String =
    protocolAction(snap.minReaderVersion, snap.minWriterVersion,
      snap.readerFeatures.toSeq, snap.writerFeatures.toSeq)

  /** Reader-side protocol gate — runs on every snapshot replay, so an
    * unreadable table fails loudly everywhere (read, stream, DML — a
    * writer is a reader first). Legacy minReaderVersion 1/2 and the
    * features gate (3) with only supported features pass. */
  private def assertReadable(table: String, minReader: Int,
      readerFeats: Set[String]): Unit = {
    if (minReader > SupportedReaderVersion) throw new IllegalStateException(
      s"cannot read $table: its protocol demands minReaderVersion=" +
        s"$minReader; this engine implements $SupportedReaderVersion. " +
        "Refusing per the Delta protocol — reading anyway could " +
        "silently return wrong rows")
    val unknown = readerFeats -- SupportedReaderFeatures
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"cannot read $table: it requires reader features " +
        unknown.toSeq.sorted.mkString("[", ", ", "]") +
        " this engine does not implement (supported: " +
        SupportedReaderFeatures.toSeq.sorted.mkString(", ") + "). " +
        "Refusing per the Delta protocol — reading anyway could " +
        "silently return wrong rows")
  }

  /** Writer-side protocol gate, called with the snapshot a commit was
    * derived from plus the commit's own actions. Refuses: writer
    * versions above the features gate; unsupported listed writer
    * features (the full legacy ladder 1-6 passes — generated columns,
    * CDF, column mapping and identity columns are all maintained);
    * and — the one ENFORCED
    * behavioral feature — `delta.appendOnly=true` tables reject any
    * commit carrying a data-changing remove (DELETE/UPDATE/MERGE/
    * overwrite/RESTORE), while appends and layout-only OPTIMIZE/ZORDER
    * commits (`dataChange=false` throughout) pass. */
  def assertWritable(table: String, snap: Snapshot,
      actions: Seq[String]): Unit = {
    if (snap.minWriterVersion > SupportedWriterVersion)
      throw new UnsupportedOperationException(
        s"cannot write $table: its protocol demands minWriterVersion=" +
          s"${snap.minWriterVersion}; this engine implements " +
          s"$SupportedWriterVersion")
    // the whole legacy writer ladder is MAINTAINED since round 9:
    // version 4's generated columns + change data feed (GeneratedColumns
    // + the CDF sidecar path), version 5's column mapping, and version
    // 6's identity columns (IdentityColumns — engine-assigned values,
    // high-water mark advanced with every commit); nothing left to
    // refuse below the features gate
    val unknown = snap.writerFeatures -- SupportedWriterFeatures
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"cannot write $table: it lists writer features " +
        unknown.toSeq.sorted.mkString("[", ", ", "]") +
        " this engine does not implement (supported: " +
        SupportedWriterFeatures.toSeq.sorted.mkString(", ") + ")")
    if (snap.configuration.get("delta.appendOnly").contains("true")) {
      val breaking = actions.exists(a => Json.parse(a) match {
        case ("remove", fields) => !fields.get("dataChange").contains("false")
        case _ => false
      })
      if (breaking) throw new UnsupportedOperationException(
        s"table $table is delta.appendOnly=true: commits that remove " +
          "data (DELETE/UPDATE/MERGE/overwrite/RESTORE) are blocked; " +
          "appends and layout-only OPTIMIZE/ZORDER (dataChange=false) " +
          "remain allowed")
    }
  }

  def logDir(table: String): Path = Paths.get(table, "_delta_log")

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getFileName.toString
    if (n.endsWith(".json")) n.stripSuffix(".json").toLongOption else None
  }

  /** Committed versions in ascending order. */
  def versions(table: String): Seq[Long] = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      // Files.list holds a directory fd until closed; versions() runs
      // multiple times per commit, so leaking it until GC can exhaust
      // fds on a long-lived driver.
      val s = Files.list(d)
      try s.iterator.asScala.flatMap(versionOf).toSeq.sorted
      finally s.close()
    }
  }

  /** The checkpoint: parquet, one action per row — the file a stock
    * delta-spark reader discovers and replays, and the only checkpoint
    * format this engine writes or reads. */
  def parquetCheckpointPath(table: String, version: Long): Path =
    logDir(table).resolve(V.format(version) + ".checkpoint.parquet")

  private val P = "%010d"
  private val MultiPartRe =
    """^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$""".r

  /** Part `k` of `p` of a MULTI-PART classic checkpoint
    * (`N.checkpoint.0000000001.0000000003.parquet` — the protocol's
    * answer to tables whose live-file set outgrows one parquet file:
    * a 100 TB table holds millions of add actions, and writing —
    * then replaying — them through a single file serializes the one
    * part of the log path that has to scale with table size). */
  def multiPartCheckpointPath(table: String, version: Long,
      part: Int, parts: Int): Path =
    logDir(table).resolve(
      s"${V.format(version)}.checkpoint.${P.format(part)}.${P.format(parts)}.parquet")

  /** Existing multi-part files for `version`, as (path, part, parts).
    * Includes incomplete sets — [[completeMultiPart]] decides
    * usability; vacuum cleanup deletes whatever exists. */
  def multiPartCheckpointFiles(table: String,
      version: Long): Seq[(Path, Int, Int)] = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator.asScala.flatMap { p =>
      p.getFileName.toString match {
        case MultiPartRe(v, k, n) if v.toLong == version =>
          Some((p, k.toInt, n.toInt))
        case _ => None
      }
    }.toSeq
    finally s.close()
  }

  /** V2 CHECKPOINTS (the protocol's `v2Checkpoint` reader-writer
    * feature, policy property `delta.checkpointPolicy=v2`): the
    * checkpoint is a MANIFEST (`N.checkpoint.<uuid>.json` — one
    * checkpointMetadata action, the protocol/metaData/txn/domain
    * actions, and `sidecar` references) plus SIDECAR parquet files
    * under `_delta_log/_sidecars/` holding the add actions. The
    * manifest is tiny and rewritten atomically LAST (sidecars first),
    * so a listed manifest implies durable sidecars; file actions
    * split across sidecars by the same per-file action cap the
    * multi-part classic shape uses. */
  private val V2ManifestRe =
    """^(\d{20})\.checkpoint\.([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})\.json$""".r

  def sidecarDir(table: String): Path =
    logDir(table).resolve("_sidecars")

  def v2ManifestPath(table: String, version: Long, uuid: String): Path =
    logDir(table).resolve(s"${V.format(version)}.checkpoint.$uuid.json")

  /** The NEWEST v2 manifest for `version` (uuid order breaks the tie
    * between racing identical checkpointers — both are correct). */
  def v2Manifest(table: String, version: Long): Option[Path] = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) return None
    val s = Files.list(d)
    try s.iterator.asScala.flatMap { p =>
      p.getFileName.toString match {
        case V2ManifestRe(v, _) if v.toLong == version => Some(p)
        case _ => None
      }
    }.toSeq.sortBy(_.getFileName.toString).lastOption
    finally s.close()
  }

  /** All v2 manifest files, as (version, path). */
  def v2Manifests(table: String): Seq[(Long, Path)] = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator.asScala.flatMap { p =>
      p.getFileName.toString match {
        case V2ManifestRe(v, _) => Some((v.toLong, p))
        case _ => None
      }
    }.toSeq
    finally s.close()
  }

  /** The sidecar paths a v2 manifest references (log-relative to
    * `_sidecars/`). */
  def v2SidecarRefs(manifest: Path): Seq[String] =
    Files.readAllLines(manifest, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).flatMap(l => Json.parse(l) match {
        case ("sidecar", f) => f.get("path")
        case _ => None
      }).toSeq

  /** The complete part list of `version`'s multi-part checkpoint in
    * part order, or None when no COMPLETE set exists (a crash mid-write
    * leaves a partial set — the protocol says ignore it; replay then
    * uses an older checkpoint or the raw version files). */
  def completeMultiPart(table: String, version: Long): Option[Seq[Path]] = {
    val files = multiPartCheckpointFiles(table, version)
    files.map(_._3).distinct match {
      case Seq(n) =>
        val byPart = files.map(f => f._2 -> f._1).toMap
        if ((1 to n).forall(byPart.contains))
          Some((1 to n).map(byPart))
        else None
      case _ => None // no files, or conflicting totals: unusable
    }
  }

  /** Stable table id for the metaData action (the protocol requires
    * one): derived from the absolute table path, so every commit of a
    * table carries the same id with no id-registry state. */
  def tableId(table: String): String =
    java.util.UUID.nameUUIDFromBytes(
      Paths.get(table).toAbsolutePath.normalize.toString
        .getBytes(StandardCharsets.UTF_8)).toString

  /** Versions that have a self-contained checkpoint (single-file,
    * complete multi-part or v2), ascending. Discovered by listing —
    * `_last_checkpoint` is written as the protocol's hint file but the
    * listing is truth, so a crash between checkpoint write and hint
    * write changes nothing. */
  def checkpointVersions(table: String): Seq[Long] = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      val (whole, multi, v2) =
        try {
          val names = s.iterator.asScala.map(_.getFileName.toString).toSeq
          (names.flatMap { n =>
            if (n.endsWith(".checkpoint.parquet"))
              n.stripSuffix(".checkpoint.parquet").toLongOption
            else None
          },
            names.collect { case MultiPartRe(v, _, _) => v.toLong }.distinct,
            names.collect { case V2ManifestRe(v, _) => v.toLong }.distinct)
        } finally s.close()
      // a multi-part set only counts when COMPLETE (crash mid-write
      // leaves a partial set the protocol says to ignore); a v2
      // manifest counts when every referenced sidecar survives
      // (manifests land atomically AFTER their sidecars, so a missing
      // sidecar means tampering/partial restore — unusable)
      (whole ++ multi.filter(v =>
        whole.contains(v) || completeMultiPart(table, v).isDefined) ++
        v2.filter(v => whole.contains(v) || v2Manifest(table, v).exists(m =>
          v2SidecarRefs(m).forall(r =>
            Files.exists(sidecarDir(table).resolve(r))))))
        .distinct.sorted
    }
  }

  /** The typed replay events [[snapshot]] folds — one constructor per
    * action kind the fold reacts to (commitInfo/cdc decode to None). */
  private sealed trait ReplayAction
  private final case class AddA(f: AddFile) extends ReplayAction
  private final case class RemoveA(path: String) extends ReplayAction
  private final case class MetaA(schema: Option[String],
      partCols: Seq[String], config: Map[String, String]) extends ReplayAction
  private final case class TxnA(app: String, v: Long) extends ReplayAction
  private final case class DomainA(domain: String, config: String,
      removed: Boolean) extends ReplayAction
  private final case class ProtocolA(minReader: Option[Int],
      minWriter: Option[Int], readerFeats: Set[String],
      writerFeats: Set[String]) extends ReplayAction

  /** One JSON action line as a typed replay event (None for the kinds
    * replay ignores). */
  private def parseActionLine(line: String): Option[ReplayAction] =
    actionOf(Json.parse(line))

  /** One action — its kind and its fields, nested objects and arrays
    * as raw JSON text — as a typed replay event: the one mapping for
    * the JSON log and the parquet checkpoint alike. */
  private def actionOf(action: (String, Map[String, String])): Option[ReplayAction] =
    action match {
      case ("add", fields) => Some(AddA(addFileOf(fields)))
      case ("remove", fields) => Some(RemoveA(fields("path")))
      case ("metaData", fields) => Some(MetaA(
        fields.get("schemaString"),
        fields.get("partitionColumns").map(Json.parseStringArray)
          .getOrElse(Nil),
        fields.get("configuration").map(Json.parseFlat).getOrElse(Map.empty)))
      case ("txn", fields) =>
        for (app <- fields.get("appId");
             v <- fields.get("version").flatMap(_.toLongOption))
          yield TxnA(app, v)
      case ("domainMetadata", fields) =>
        fields.get("domain").map(d => DomainA(d,
          fields.getOrElse("configuration", ""),
          fields.get("removed").contains("true")))
      case ("protocol", fields) => Some(ProtocolA(
        fields.get("minReaderVersion").flatMap(_.toIntOption),
        fields.get("minWriterVersion").flatMap(_.toIntOption),
        fields.get("readerFeatures").map(Json.parseStringArray(_).toSet)
          .getOrElse(Set.empty),
        fields.get("writerFeatures").map(Json.parseStringArray(_).toSet)
          .getOrElse(Set.empty)))
      case _ => None
    }

  /** A checkpoint's content as typed replay events: a v2 manifest's
    * non-file actions plus its sidecars, else the single-file
    * checkpoint, else a complete multi-part set. Every parquet file
    * decodes through [[readCheckpointFile]] — no Spark job. */
  private def checkpointActions(table: String,
      version: Long): Iterator[ReplayAction] = {
    val (head, files): (Iterator[ReplayAction], Seq[Path]) =
      v2Manifest(table, version) match {
        case Some(m) =>
          (Files.readAllLines(m, StandardCharsets.UTF_8).asScala.iterator
            .filter(_.nonEmpty).flatMap(parseActionLine),
            v2SidecarRefs(m).map(r => sidecarDir(table).resolve(r)))
        case None =>
          val pq = parquetCheckpointPath(table, version)
          (Iterator.empty,
            if (Files.exists(pq)) Seq(pq)
            else completeMultiPart(table, version).getOrElse(
              throw new IllegalStateException(
                s"checkpoint $version of $table listed but no readable " +
                  "file exists (parquet missing, multi-part set incomplete)")))
      }
    head ++ decodeCached(files)
  }

  /** The last few checkpoints decoded, keyed by their files'
    * identities (path, size, mtime, inode). A placed checkpoint file
    * never changes (a racer's rewrite is a new file holding the same
    * snapshot), so the snapshots taken between two checkpoints — and
    * time travel to the one before — decode its parquet once: until
    * the JIT has warmed it, parquet-mr takes ~3 ms per file, against
    * ~0.05 ms per JSON version file replayed after it. LRU of 4, so it
    * holds at most four checkpoints' actions. */
  private val decoded = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Seq[(Path, Any)], Seq[ReplayAction]](
      8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          Seq[(Path, Any)], Seq[ReplayAction]]): Boolean = size > 4
    })

  private def decodeCached(files: Seq[Path]): Iterator[ReplayAction] = {
    val key = files.map { p =>
      val a = Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      p.toAbsolutePath -> (a.size, a.lastModifiedTime, a.fileKey)
    }
    Option(decoded.get(key)).getOrElse {
      val actions = files.flatMap(readCheckpointFile)
      decoded.put(key, actions)
      actions
    }.iterator
  }

  private val StrMap = "(MAP) { repeated group key_value { " +
    "required binary key (STRING); optional binary value (STRING); } }"
  private val StrList =
    "(LIST) { repeated group list { optional binary element (STRING); } }"

  /** The checkpoint action row: one parquet row per action, exactly one
    * non-null top-level column — the names, types and nesting Spark's
    * writer gives delta-spark's checkpoint layout, so a stock reader
    * (and `spark.read.parquet`) sees the same schema. `stats` stays a
    * JSON string per the protocol; its flat {n, min.*, max.*} content
    * is this engine's own — a foreign reader that can't parse it loses
    * data skipping, never correctness. */
  private val CheckpointSchema: MessageType =
    MessageTypeParser.parseMessageType(s"""message spark_schema {
      optional group txn {
        optional binary appId (STRING); optional int64 version; }
      optional group add {
        optional binary path (STRING);
        optional group partitionValues $StrMap
        optional int64 size; optional int64 modificationTime;
        optional boolean dataChange; optional binary stats (STRING);
        optional group deletionVector {
          optional binary storageType (STRING);
          optional binary pathOrInlineDv (STRING);
          optional int64 sizeInBytes; optional int64 cardinality; }
        optional int64 baseRowId; optional int64 defaultRowCommitVersion; }
      optional group domainMetadata {
        optional binary domain (STRING);
        optional binary configuration (STRING); optional boolean removed; }
      optional group remove {
        optional binary path (STRING); optional int64 deletionTimestamp;
        optional boolean dataChange; }
      optional group metaData {
        optional binary id (STRING);
        optional group format {
          optional binary provider (STRING); optional group options $StrMap }
        optional binary schemaString (STRING);
        optional group partitionColumns $StrList
        optional group configuration $StrMap }
      optional group protocol {
        optional int32 minReaderVersion; optional int32 minWriterVersion;
        optional group readerFeatures $StrList
        optional group writerFeatures $StrList }
    }""")

  /** V2 sidecars carry file actions only: the add/remove projection. */
  private val SidecarSchema = {
    val all: GroupType = CheckpointSchema
    new MessageType(all.getName, all.getType("add"), all.getType("remove"))
  }

  /** Write checkpoint `actions` (JSON action lines, as the log holds
    * them) as parquet with parquet-mr on the driver: the full schema,
    * or for v2 `sidecars` its add/remove projection; split into files
    * of at most `maxPer` actions, `target(k, n)` naming file k of n.
    * Each file is written to a hidden temp file in `_delta_log` and
    * moved into place with ATOMIC_MOVE, in order — so a crash leaves
    * either no file or a whole one, and an interrupted multi-part set
    * stays incomplete. Returns each written path with its action
    * count. */
  private[sources] def writeCheckpointFiles(table: String,
      actions: Seq[String], sidecars: Boolean, maxPer: Int)(
      target: (Int, Int) => Path): Seq[(Path, Int)] = {
    val schema = if (sidecars) SidecarSchema else CheckpointSchema
    val groups = if (actions.isEmpty) Seq(Nil) else actions.grouped(maxPer).toSeq
    groups.zipWithIndex.map { case (group, k) =>
      val path = target(k + 1, groups.length)
      val tmp = logDir(table).resolve(s".ckpt-${java.util.UUID.randomUUID}.tmp")
      try {
        val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
          .withType(schema).withConf(new PlainParquetConfiguration())
          .withCompressionCodec(CompressionCodecName.SNAPPY).build()
        val rows = new SimpleGroupFactory(schema)
        try group.foreach { line =>
          val row = rows.newGroup()
          val (kind, fields) = Json.parse(line)
          fill(row.addGroup(kind), fields)
          w.write(row)
        } finally w.close()
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp)
      path -> group.length
    }
  }

  /** Fill a checkpoint row group from one action's JSON fields, driven
    * by the group's parquet type: int64/int32/boolean/string values,
    * MAP and LIST groups, nested groups. JSON fields the schema lacks
    * are dropped; absent ones stay null. */
  private def fill(g: Group, fields: Map[String, String]): Unit =
    g.getType.getFields.asScala.foreach { t =>
      val n = t.getName
      fields.get(n).foreach { v =>
        if (t.isPrimitive) t.asPrimitiveType.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT64 => g.append(n, v.toLong)
          case PrimitiveTypeName.INT32 => g.append(n, v.toInt)
          case PrimitiveTypeName.BOOLEAN => g.append(n, v.toBoolean)
          case _ => g.append(n, v)
        } else {
          val sub = g.addGroup(n)
          t.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
              Json.parseFlat(v).toSeq.sortBy(_._1).foreach { case (k, x) =>
                sub.addGroup(0).append("key", k).append("value", x) }
            case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
              Json.parseStringArray(v).foreach(x =>
                sub.addGroup(0).append("element", x))
            case _ => fill(sub, Json.parseFlat(v))
          }
        }
      }
    }

  /** One checkpoint parquet file (single-file, part or v2 sidecar) as
    * typed replay events, read with parquet-mr on the driver through
    * `LocalInputFile` + `PlainParquetConfiguration`: no Spark job and
    * no Hadoop `Path`/`Configuration`, whose per-open set-up costs
    * ~11 ms against ~1 ms here. The file decodes whole: a part holds at
    * most the per-file action cap. */
  private def readCheckpointFile(p: Path): Seq[ReplayAction] = {
    val r = ParquetFileReader.open(new LocalInputFile(p),
      ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(schema)
      val out = Vector.newBuilder[ReplayAction]
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val rows = io.getRecordReader(pages, new GroupRecordConverter(schema))
        for (_ <- 0L until pages.getRowCount) {
          // one non-null top-level column per row: the action
          val row = rows.read()
          out ++= (0 until schema.getFieldCount)
            .find(row.getFieldRepetitionCount(_) > 0)
            .flatMap(i => actionOf(schema.getFieldName(i) -> fieldsOf(row.getGroup(i, 0))))
        }
        pages = r.readNextRowGroup()
      }
      out.result()
    } finally r.close()
  }

  /** A checkpoint row group as JSON fields, the inverse of [[fill]]:
    * values as strings, MAP/LIST/nested groups as raw JSON text. Read
    * by name off the file's own schema, so a foreign writer's extra
    * columns (`tags`, `createdTime`, ...) pass through unused. */
  private def fieldsOf(g: Group): Map[String, String] = {
    def obj(kvs: Iterable[(String, String)]): String = kvs
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    val t = g.getType
    (0 until t.getFieldCount).filter(g.getFieldRepetitionCount(_) > 0).map { i =>
      val f = t.getType(i)
      f.getName -> (
        if (f.isPrimitive) f.asPrimitiveType.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT64 => g.getLong(i, 0).toString
          case PrimitiveTypeName.INT32 => g.getInteger(i, 0).toString
          case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0).toString
          case _ => g.getString(i, 0)
        } else {
          val sub = g.getGroup(i, 0)
          // MAP/LIST: one repeated group of key/value or element
          def items = (0 until sub.getFieldRepetitionCount(0))
            .map(sub.getGroup(0, _))
          f.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
              obj(items.filter(_.getFieldRepetitionCount(1) > 0)
                .map(kv => kv.getString(0, 0) -> kv.getString(1, 0)))
            case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
              items.filter(_.getFieldRepetitionCount(0) > 0)
                .map(e => Json.str(e.getString(0, 0))).mkString("[", ",", "]")
            case _ => obj(fieldsOf(sub))
          }
        })
    }.toMap
  }

  /** Replay the log up to `versionAsOf` (inclusive; latest if None):
    * live files = all `add`s minus later `remove`s; schema = last
    * `metaData` seen. Replay starts from the NEWEST side checkpoint at
    * or below the target (vacuum writes one at its horizon) and walks
    * only the version files after it — committed version files are
    * immutable, and any prefix a crashed vacuum left behind is simply
    * never read. Travel to a version older than every surviving
    * checkpoint/version fails loudly. */
  def snapshot(table: String, versionAsOf: Option[Long] = None): Snapshot = {
    val vs = versions(table)
    val cps = checkpointVersions(table)
    require(vs.nonEmpty || cps.nonEmpty,
      s"not a delta table (no _delta_log versions): $table")
    val target = versionAsOf match {
      case Some(v) =>
        require(vs.contains(v) || cps.contains(v),
          s"version $v not in ${(vs ++ cps).distinct.sorted.mkString(",")}" +
            " (vacuumed or never committed)")
        v
      case None => (vs ++ cps).max
    }
    val base = cps.filter(_ <= target).maxOption
    // the versions we replay must be gap-free: a missing middle
    // version means a torn/corrupted log, and silently merging the
    // survivors would fabricate a state no writer ever committed
    val walked = base match {
      case Some(b) => vs.filter(v => v > b && v <= target)
      case None => vs.filter(_ <= target)
    }
    val expectedFrom = base.map(_ + 1).getOrElse(walked.headOption.getOrElse(0L))
    require(walked == (expectedFrom until expectedFrom + walked.length),
      s"torn _delta_log in $table: versions ${walked.mkString(",")} are not " +
        s"contiguous after ${base.map(b => s"checkpoint $b").getOrElse("start")}")
    require(base.isDefined || walked.headOption.forall(_ == 0L),
      s"torn _delta_log in $table: earliest version ${walked.headOption.orNull} " +
        "has no preceding checkpoint (log prefix pruned without one?)")
    val replay: Iterator[ReplayAction] =
      base.iterator.flatMap(checkpointActions(table, _)) ++
        walked.iterator.flatMap(v => Files.readAllLines(
          logDir(table).resolve(V.format(v) + ".json"),
          StandardCharsets.UTF_8).asScala.iterator
          .filter(_.nonEmpty).flatMap(parseActionLine))
    val snap = foldReplay(Snapshot(target, None, Nil), replay)
    assertReadable(table, snap.minReaderVersion, snap.readerFeatures)
    snap
  }

  /** Fold replay actions over an initial state — the shared core of a
    * full log replay ([[snapshot]], from the empty state) and the
    * INCREMENTAL post-commit derivation ([[commit]]'s checksum path,
    * from the pre-commit snapshot; round 11 — the checksum previously
    * re-replayed the whole log inside every commit, O(versions) work
    * per commit between checkpoints). */
  private def foldReplay(initial: Snapshot,
      replay: Iterator[ReplayAction]): Snapshot = {
    var schema: Option[String] = initial.schemaJson
    var partCols: Seq[String] = initial.partitionColumns
    var config: Map[String, String] = initial.configuration
    var minReader = initial.minReaderVersion
    var minWriter = initial.minWriterVersion
    var readerFeats = initial.readerFeatures
    var writerFeats = initial.writerFeatures
    val txns = scala.collection.mutable.Map[String, Long](
      initial.txns.toSeq: _*)
    val domains = scala.collection.mutable.Map[String, String](
      initial.domainMetadata.toSeq: _*)
    val live = scala.collection.mutable.LinkedHashMap[String, AddFile](
      initial.files.map(f => f.path -> f): _*)
    for (action <- replay) action match {
      case AddA(f) => live(f.path) = f
      case RemoveA(path) => live.remove(path)
      case MetaA(s, pc, cfg) =>
        schema = s; partCols = pc; config = cfg
      case TxnA(app, v) =>
        txns(app) = math.max(v, txns.getOrElse(app, Long.MinValue))
      case DomainA(d, _, true) => domains.remove(d)
      case DomainA(d, cfg, false) => domains(d) = cfg
      case ProtocolA(mr, mw, rf, wf) =>
        // last protocol action wins (an upgrade commit replaces it)
        mr.foreach(minReader = _)
        mw.foreach(minWriter = _)
        readerFeats = rf
        writerFeats = wf
    }
    Snapshot(initial.version, schema, live.values.toSeq, partCols,
      txns.toMap, config, minReader, minWriter, readerFeats, writerFeats,
      domains.toMap)
  }

  /** Atomically commit `actions` as the next version after
    * `readVersion` (-1 for a fresh table). Returns the committed
    * version. Fails if another writer got there first.
    *
    * The commit point is `Files.createLink(target, tmp)`: hard-link
    * creation is atomic AND fails with FileAlreadyExistsException if
    * the version exists. A rename (`Files.move` + ATOMIC_MOVE) would
    * NOT work — Linux rename(2) silently REPLACES an existing target,
    * so two racing writers could both "win" the same version and one
    * commit would vanish (observed: 6 racing appends → 4 rows before
    * this was a link). On HDFS/S3 the equivalent is create-with-
    * overwrite=false / put-if-absent. */
  def commit(table: String, readVersion: Long, actions0: Seq[String],
      preSnap: Option[Snapshot] = None): Long = {
    val next = readVersion + 1
    val actions = stampInCommitTimestamp(table, readVersion, actions0)
    val dir = logDir(table)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".commit-$next-", ".tmp")
    try {
      Files.write(tmp, actions.mkString("\n").getBytes(StandardCharsets.UTF_8))
      val target = dir.resolve(V.format(next) + ".json")
      try Files.createLink(target, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new CommitConflictException(
            s"concurrent commit: version $next already exists in $table")
      }
      // stock Delta's periodic-checkpoint policy: every Nth commit
      // snapshots the table beside the log, bounding replay cost for
      // long-lived tables (a streaming sink commits one version per
      // micro-batch — without this, snapshot() walks an ever-growing
      // JSON prefix). Post-commit and best-effort by construction: the
      // version file IS committed, the checkpoint is derived data.
      DeltaTable.maybeAutoCheckpoint(table, next, actions)
      // VERSION CHECKSUM (the protocol's N.crc sidecar): summary of
      // the post-commit snapshot for integrity cross-checks — also
      // derived data, also best-effort. Derived INCREMENTALLY when the
      // caller supplies the snapshot it committed against (or the
      // table is fresh): pre-state + this commit's actions, O(actions)
      // — a full log replay here made commit latency grow with log
      // length (round 11). The replay fallback covers direct
      // commit() callers that pass no snapshot.
      val postSnap: Option[Snapshot] =
        if (readVersion == -1L)
          Some(foldReplay(Snapshot(next, None, Nil),
            actions.iterator.filter(_.nonEmpty).flatMap(parseActionLine)))
        else preSnap.filter(_.version == readVersion).map(s =>
          foldReplay(s.copy(version = next),
            actions.iterator.filter(_.nonEmpty).flatMap(parseActionLine)))
      postSnap match {
        case Some(s) => try writeChecksumOf(table, s)
          catch { case NonFatal(_) => () }
        case None => writeVersionChecksum(table, next)
      }
      next
    } finally {
      try Files.deleteIfExists(tmp) catch { case NonFatal(_) => () }
    }
  }

  /** VERSION CHECKSUM (the public protocol's `N.crc` file): after each
    * commit, a one-line JSON summary of the POST-commit snapshot —
    * table size, live file count, txn/domain counts, protocol — lands
    * beside the version file via temp + ATOMIC_MOVE. A replay alone
    * cannot detect a torn or bit-rotted log that still parses (a
    * dropped `add` line just means a smaller table); cross-checking
    * the replayed snapshot against the writer's recorded summary can.
    * `tools/delta_validate.py` invariant 20 does exactly that, and
    * DeltaSpec proves a tampered checksum is rejected. Best-effort
    * derived data like the periodic checkpoint: a failed write never
    * fails the commit. */
  def checksumPath(table: String, version: Long): Path =
    logDir(table).resolve(V.format(version) + ".crc")

  def writeVersionChecksum(table: String, version: Long): Unit =
    try writeChecksumOf(table, snapshot(table, Some(version)))
    catch { case NonFatal(_) => () }

  /** Serialize + atomically place a snapshot's checksum sidecar. The
    * snapshot may come from a full replay ([[writeVersionChecksum]])
    * or the incremental post-commit fold ([[commit]]) — identical
    * bytes either way (DeltaSpec pins the equivalence). */
  private def writeChecksumOf(table: String, snap: Snapshot): Unit = {
    val version = snap.version
    val json =
      s"""{"tableSizeBytes":${snap.files.map(_.size).sum},""" +
        s""""numFiles":${snap.files.length},""" +
        s""""numDeletedRecordsOpt":${snap.files
          .flatMap(_.dv.map(_.cardinality)).sum},""" +
        s""""numMetadata":1,"numProtocol":1,""" +
        s""""setTransactions":${snap.txns.size},""" +
        s""""domainMetadata":${snap.domainMetadata.size},""" +
        s""""protocol":{"minReaderVersion":${snap.minReaderVersion},""" +
        s""""minWriterVersion":${snap.minWriterVersion}}}"""
    val dir = logDir(table)
    val tmp = Files.createTempFile(dir, s".crc-$version-", ".tmp")
    try {
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, checksumPath(table, version),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally {
      try Files.deleteIfExists(tmp) catch { case NonFatal(_) => () }
    }
  }

  /** A version's recorded checksum, parsed flat (absent file → None). */
  def versionChecksum(table: String, version: Long)
      : Option[Map[String, String]] = {
    val p = checksumPath(table, version)
    if (!Files.exists(p)) None
    else Some(Json.parseFlat(new String(
      Files.readAllBytes(p), StandardCharsets.UTF_8)))
  }

  /** The `inCommitTimestamp` a committed version's commitInfo carries,
    * if the version file survives and was stamped. */
  def inCommitTimestamp(table: String, v: Long): Option[Long] = {
    val p = logDir(table).resolve(V.format(v) + ".json")
    if (!Files.exists(p)) return None
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).iterator.map(Json.parse).collectFirst {
        case ("commitInfo", f) =>
          f.get("inCommitTimestamp").flatMap(_.toLongOption)
      }.flatten
  }

  /** IN-COMMIT TIMESTAMPS (the protocol's `inCommitTimestamp` writer
    * feature): when the table has opted in, every commit's commitInfo
    * carries an engine-assigned `inCommitTimestamp` that is strictly
    * greater than its predecessor's — `timestampAsOf` then resolves
    * against WRITER-GUARANTEED monotone commit time instead of file
    * mtimes a copy/restore can scramble or wall clocks that skew
    * across writers. Central by design: this runs inside [[commit]],
    * so every commit path (write/DML/OPTIMIZE/ALTER/streaming) is
    * stamped with no per-site code.
    *
    * Enablement is read from the commit's OWN metaData when it carries
    * one (every engine commit does — the carry-forward contract),
    * falling back to "the predecessor was stamped" for raw
    * metaData-less commits, so a mid-race property flip can never
    * leave an unstamped hole. Per the spec the stamped commitInfo
    * moves to the FRONT of the action list. */
  private def stampInCommitTimestamp(table: String, readVersion: Long,
      actions: Seq[String]): Seq[String] = {
    val (infos, rest) = actions.partition(_.startsWith("""{"commitInfo""""))
    // no commitInfo to stamp, or the caller (a foreign writer replaying
    // its own log shape) already stamped one — never double-stamp
    if (infos.isEmpty || infos.head.contains("\"inCommitTimestamp\""))
      return actions
    // prefix match, not a parse of every action: a commit can carry
    // 100k add lines and the metaData (when present) leads the list;
    // a foreign log whose metaData spells differently just falls back
    // to the predecessor-stamp signal below
    val declared: Option[Boolean] =
      actions.find(_.startsWith("""{"metaData"""")).map { a =>
        Json.parse(a)._2.get("configuration").map(Json.parseFlat)
          .exists(_.get("delta.enableInCommitTimestamps").contains("true"))
      }
    val prior =
      if (readVersion < 0) None else inCommitTimestamp(table, readVersion)
    val enabled = declared.getOrElse(prior.isDefined)
    if (!enabled) return actions
    val ict = math.max(System.currentTimeMillis(),
      prior.map(_ + 1L).getOrElse(Long.MinValue))
    val stamped = infos.head.replaceFirst("""\{"commitInfo":\{""",
      java.util.regex.Matcher.quoteReplacement(
        s"""{"commitInfo":{"inCommitTimestamp":$ict,"""))
    (stamped +: infos.tail) ++ rest
  }

  // -- action builders ------------------------------------------------

  /** `stats` serializes as a JSON-STRING-encoded object and
    * `partitionValues` as a real nested object — the same asymmetry the
    * actual Delta protocol specifies (stats are an opaque string to the
    * log schema; partitionValues are first-class). */
  def addAction(path: String, size: Long,
      stats: Map[String, String] = Map.empty,
      partitionValues: Map[String, String] = Map.empty,
      dv: Option[DeletionVectors.Descriptor] = None,
      dataChange: Boolean = true,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None): String =
    addActionOf(AddFile(path, size, stats, partitionValues, dv, baseRowId,
      defaultRowCommitVersion), dataChange)

  /** Serialize an AddFile into an add action with EVERY field carried —
    * the re-add shape (DV re-adds, restore, clone, checkpoints,
    * row-tracking backfill) must never silently drop a field a newer
    * feature added. `modificationTime` is required by the protocol on
    * every add. */
  def addActionOf(f: AddFile, dataChange: Boolean = true): String = {
    val statsField =
      if (f.stats.isEmpty) ""
      else {
        val flat = f.stats.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
          .mkString("{", ",", "}")
        s""","stats":${Json.str(flat)}"""
      }
    val pv = f.partitionValues.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    // protocol shape: storageType "p" = path relative to the table root
    val dvField = f.dv.map(d =>
      s""","deletionVector":{"storageType":"p","pathOrInlineDv":${Json.str(d.path)},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""")
      .getOrElse("")
    val ridField = f.baseRowId.map(b => s""","baseRowId":$b""").getOrElse("") +
      f.defaultRowCommitVersion.map(v => s""","defaultRowCommitVersion":$v""")
        .getOrElse("")
    s"""{"add":{"path":${Json.str(f.path)},"partitionValues":$pv,"size":${f.size},"modificationTime":${f.modificationTime}$statsField$dvField$ridField,"dataChange":$dataChange}}"""
  }

  /** Decode an add action's flat fields back into an AddFile (shared
    * by snapshot replay and versionChanges). */
  private def addFileOf(fields: Map[String, String]): AddFile = {
    val stats = fields.get("stats")
      .map(Json.parseFlat).getOrElse(Map.empty[String, String])
    val pv = fields.get("partitionValues")
      .map(Json.parseFlat).getOrElse(Map.empty[String, String])
    val dv = fields.get("deletionVector").map(Json.parseFlat).map(d =>
      DeletionVectors.Descriptor(d("pathOrInlineDv"),
        d.get("sizeInBytes").flatMap(_.toLongOption).getOrElse(0L),
        d.get("cardinality").flatMap(_.toLongOption).getOrElse(0L)))
    AddFile(fields("path"),
      fields.get("size").map(_.toLong).getOrElse(0L), stats, pv, dv,
      fields.get("baseRowId").flatMap(_.toLongOption),
      fields.get("defaultRowCommitVersion").flatMap(_.toLongOption),
      fields.get("modificationTime").flatMap(_.toLongOption).getOrElse(0L))
  }

  /** `dataChange=false` marks a LAYOUT-ONLY action (compaction/zorder
    * rearranging the same rows) — the protocol bit that lets streams
    * and the change feed skip such versions instead of failing. */
  def removeAction(path: String, dataChange: Boolean = true): String =
    s"""{"remove":{"path":${Json.str(path)},"dataChange":$dataChange}}"""

  /** Protocol action (reader/writer capability gate). Version 1/2 =
    * the base protocol. Emitted in version 0 of every table and in
    * every checkpoint, per the Delta spec. Which versions and feature
    * lists an upgrade carries is decided by [[protocolFor]] from the
    * [[Features]] registry; at the features gate (3 / 7) the lists are
    * written, sorted. */
  def protocolAction(minReaderVersion: Int = 1,
      minWriterVersion: Int = 2,
      readerFeatures: Seq[String] = Nil,
      writerFeatures: Seq[String] = Nil): String = {
    val rf =
      if (minReaderVersion < 3 || readerFeatures.isEmpty) ""
      else s""","readerFeatures":${readerFeatures.sorted
        .map(Json.str).mkString("[", ",", "]")}"""
    val wf =
      if (minWriterVersion < 7 || writerFeatures.isEmpty) ""
      else s""","writerFeatures":${writerFeatures.sorted
        .map(Json.str).mkString("[", ",", "]")}"""
    s"""{"protocol":{"minReaderVersion":$minReaderVersion,"minWriterVersion":$minWriterVersion$rf$wf}}"""
  }

  /** The protocol-complete metaData shape: `id` + `format` are
    * REQUIRED fields for a stock delta reader (our own replay only
    * needs schemaString/partitionColumns and ignores the rest). */
  def metaDataAction(schemaJson: String,
      partitionColumns: Seq[String] = Nil, tableId: String = "",
      configuration: Map[String, String] = Map.empty): String = {
    val pc = partitionColumns.map(Json.str).mkString("[", ",", "]")
    val id = if (tableId.isEmpty) "" else s""""id":${Json.str(tableId)},"""
    val cfg = configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    s"""{"metaData":{$id"format":{"provider":"parquet","options":{}},"schemaString":${Json.str(schemaJson)},"partitionColumns":$pc,"configuration":$cfg}}"""
  }

  def commitInfoAction(op: String): String =
    s"""{"commitInfo":{"operation":${Json.str(op)},"timestamp":${System.currentTimeMillis()}}}"""

  /** Commit wall-clock millis per version (from commitInfo), ascending
    * by version — the index behind `timestampAsOf` time travel. A
    * version without commitInfo (foreign/hand-written log) reports
    * its file's mtime, so the feature degrades instead of failing.
    * Timestamps are MONOTONIZED (stock Delta's rule: each commit's
    * effective timestamp is at least its predecessor's + 1 ms), so
    * wall-clock skew between writers can never make `timestampAsOf`
    * resolve non-causally — without this, a query timestamp falling in
    * a skew window would pick a version whose successor is "older". */
  def commitTimestamps(table: String): Seq[(Long, Long)] = {
    val raw = versions(table).map { v =>
      val p = logDir(table).resolve(V.format(v) + ".json")
      val fromInfo = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty).iterator.map(Json.parse).collectFirst {
          case ("commitInfo", fields) =>
            // the writer-guaranteed in-commit timestamp wins over the
            // advisory wall-clock field when the table stamps one
            fields.get("inCommitTimestamp").orElse(fields.get("timestamp"))
              .flatMap(_.toLongOption)
        }.flatten
      v -> fromInfo.getOrElse(Files.getLastModifiedTime(p).toMillis)
    }
    raw.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (v, t)) =>
      acc :+ (v -> acc.lastOption.map(p => math.max(t, p._2 + 1L))
        .getOrElse(t))
    }
  }

  /** The latest version committed at or before `millis` (Delta's
    * timestampAsOf resolution). Fails loudly when every retained
    * version is newer. */
  def versionAtTimestamp(table: String, millis: Long): Long = {
    val ts = commitTimestamps(table)
    require(ts.nonEmpty, s"not a delta table: $table")
    ts.filter(_._2 <= millis).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"timestampAsOf $millis predates the earliest retained commit " +
          s"(${ts.head._2}) of $table"))
  }

  /** SetTransaction (Delta protocol): marks `version` of streaming app
    * `appId` as applied, making micro-batch replays detectable. */
  def txnAction(appId: String, version: Long): String =
    s"""{"txn":{"appId":${Json.str(appId)},"version":$version}}"""

  /** DomainMetadata (Delta protocol): set — or tombstone — one named
    * domain's configuration. Writers must carry live domains through
    * checkpoints (done in writeCheckpoint); conflicting concurrent
    * updates to one domain surface as ordinary commit conflicts. */
  def domainMetadataAction(domain: String, configuration: String,
      removed: Boolean = false): String =
    s"""{"domainMetadata":{"domain":${Json.str(domain)},"configuration":${
      Json.str(configuration)},"removed":$removed}}"""

  /** `cdc` action (Delta CDF): references a change-data sidecar file
    * under `_change_data/` carrying row-level pre/post images for a DML
    * commit. `dataChange=false` per the protocol — cdc files are NEVER
    * part of the table's data (snapshot replay ignores them); they are
    * read only by the change feed. */
  def cdcAction(path: String, size: Long): String =
    s"""{"cdc":{"path":${Json.str(path)},"size":$size,"partitionValues":{},"dataChange":false}}"""

  /** What ONE committed version did, at file granularity: the files it
    * added, whether it removed any, its change-data sidecars (CDF), and
    * its commitInfo operation name. The unit a streaming source tails
    * and the batch change feed walks. */
  /** `layoutOnly` = every add AND remove in the version carries
    * `dataChange=false` (and there was at least one): the commit moved
    * bytes but changed no rows — compaction/zorder — and row-level
    * consumers (streams, the change feed) skip it. */
  final case class VersionChange(adds: Seq[AddFile], removesFiles: Boolean,
      cdc: Seq[AddFile] = Nil, operation: Option[String] = None,
      layoutOnly: Boolean = false)

  def versionChanges(table: String, v: Long): VersionChange = {
    val p = logDir(table).resolve(V.format(v) + ".json")
    var removes = false
    var op: Option[String] = None
    var fileActions = 0
    var dataChanges = 0
    val adds = Seq.newBuilder[AddFile]
    val cdc = Seq.newBuilder[AddFile]
    for (line <- Files.readAllLines(p, StandardCharsets.UTF_8).asScala
         if line.nonEmpty) {
      Json.parse(line) match {
        case ("add", fields) =>
          adds += addFileOf(fields)
          fileActions += 1
          if (!fields.get("dataChange").contains("false")) dataChanges += 1
        case ("remove", fields) =>
          removes = true
          fileActions += 1
          if (!fields.get("dataChange").contains("false")) dataChanges += 1
        case ("cdc", fields) =>
          cdc += AddFile(fields("path"),
            fields.get("size").map(_.toLong).getOrElse(0L))
        case ("commitInfo", fields) => op = fields.get("operation")
        case _ => ()
      }
    }
    VersionChange(adds.result(), removes, cdc.result(), op,
      layoutOnly = fileActions > 0 && dataChanges == 0)
  }

  /** Tiny single-purpose JSON codec for the action lines this log
    * writes. Handles exactly the shapes above (one top-level key whose
    * value is a flat object of string/number fields) — not a general
    * parser, and deliberately dependency-free. */
  private[sources] object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    /** Returns (actionName, flatFields). */
    def parse(line: String): (String, Map[String, String]) = {
      val t = line.trim
      val nameEnd = t.indexOf('"', 2)
      val name = t.substring(2, nameEnd)
      val inner = t.substring(t.indexOf('{', nameEnd))
      (name, parseFlat(inner))
    }

    private[sources] def parseFlat(obj: String): Map[String, String] = {
      var i = obj.indexOf('{') + 1
      val out = Map.newBuilder[String, String]
      while (i < obj.length) {
        val ks = obj.indexOf('"', i)
        if (ks < 0) return out.result()
        val ke = unescapedEnd(obj, ks + 1)
        val key = unescape(obj.substring(ks + 1, ke))
        var j = obj.indexOf(':', ke) + 1
        while (j < obj.length && obj(j) == ' ') j += 1
        if (j < obj.length && obj(j) == '"') {
          val ve = unescapedEnd(obj, j + 1)
          out += key -> unescape(obj.substring(j + 1, ve))
          i = ve + 1
        } else if (j < obj.length && (obj(j) == '{' || obj(j) == '[')) {
          // nested object/array (add.partitionValues,
          // metaData.partitionColumns): capture the raw balanced
          // substring; the caller re-parses it with parseFlat /
          // parseStringArray
          val e = balancedEnd(obj, j)
          out += key -> obj.substring(j, e)
          i = e
        } else {
          var e = j
          while (e < obj.length && !",}".contains(obj(e))) e += 1
          out += key -> obj.substring(j, e).trim
          i = e
        }
      }
      out.result()
    }

    /** Index just past the bracket that balances the one at `from`
      * ('{' or '['), skipping over quoted strings (escape-aware). */
    private def balancedEnd(s: String, from: Int): Int = {
      var depth = 0
      var i = from
      while (i < s.length) {
        s(i) match {
          case '{' | '[' => depth += 1; i += 1
          case '}' | ']' =>
            depth -= 1; i += 1
            if (depth == 0) return i
          case '"' => i = unescapedEnd(s, i + 1) + 1
          case _ => i += 1
        }
      }
      s.length
    }

    /** Parse a raw `["a","b"]` captured by parseFlat. */
    private[sources] def parseStringArray(raw: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var i = raw.indexOf('"')
      while (i >= 0) {
        val e = unescapedEnd(raw, i + 1)
        out += unescape(raw.substring(i + 1, e))
        i = raw.indexOf('"', e + 1)
      }
      out.result()
    }

    /** Index of the string's closing quote. Scans forward consuming
      * escape pairs, so a value ending in an escaped backslash (…\\")
      * terminates correctly — the old look-behind check miscounted
      * any quote preceded by a backslash as escaped, even when that
      * backslash was itself escaped, and stats min/max are user data
      * that can legally end in '\'. */
    private def unescapedEnd(s: String, from: Int): Int = {
      var i = from
      while (i < s.length && s(i) != '"')
        i += (if (s(i) == '\\') 2 else 1)
      math.min(i, s.length)
    }

    private def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) {
          s(i + 1) match {
            case '"' => sb += '"'; i += 2
            case '\\' => sb += '\\'; i += 2
            case 'n' => sb += '\n'; i += 2
            case 'r' => sb += '\r'; i += 2
            case 't' => sb += '\t'; i += 2
            case 'u' =>
              sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
              i += 6
            case c => sb += c; i += 2
          }
        } else { sb += s(i); i += 1 }
      }
      sb.result()
    }
  }
}
