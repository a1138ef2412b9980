package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** [EXT] Structured Streaming twins of the batch EventOps plans: the
  * same logical shapes (tumbling-window rollup, gap sessionization)
  * expressed over an unbounded source. The reference has no streaming
  * surface at all (SURVEY.md §2.7); this module exists because a
  * 100 TB training-data pipeline ingests continuously and the batch
  * operators must have streaming-equivalent semantics.
  *
  * Scale posture: watermarks bound state; the window aggregate keeps
  * one row of state per (window × type); sessionization keeps one
  * small state object per active user key, dropped on timeout. Both
  * shapes run identically on a 1000-executor cluster — state is
  * hash-partitioned by group key, exactly like the batch shuffles.
  */
object StreamingOps {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  case class SessionState(nEvents: Long, start: Long, lastSeen: Long)

  case class SessionOut(user_id: Long, n_events: Long,
      start_epoch: Long, end_epoch: Long)

  /** Tumbling 1-hour rollup per event type with a 2-hour watermark —
    * the streaming twin of EventOps.q50. Late data beyond the
    * watermark is dropped; everything else lands in its event-time
    * bucket regardless of arrival order. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Gap-based sessionization via typed state (mapGroupsWithState) —
    * the streaming twin of EventOps.q51. Emits the RUNNING session per
    * user on every trigger (Update-mode consumers); the
    * emit-on-finalize production variant is [[sessionizeFinalized]]. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val init = state.getOption
          val s = sorted.foldLeft(init) { (acc, e) =>
            val t = e.ts.getTime / 1000
            acc match {
              case Some(st) if t - st.lastSeen <= 1800 =>
                Some(SessionState(st.nEvents + 1, st.start, t))
              case _ => // gap > 30 min (or first event): new session
                Some(SessionState(1, t, t))
            }
          }
          s.foreach(state.update)
          val st = s.get
          SessionOut(userId, st.nEvents, st.start, st.lastSeen)
      }
  }

  /** End-to-end filesystem pipeline, stateless: watch `srcDir` for
    * parquet event files, filter + enrich, append to a parquet sink
    * with a checkpoint. This is the exact production shape for
    * continuous ingest into a training-data lake: the checkpoint makes
    * delivery exactly-once across restarts (file source tracks
    * processed files; file sink commits atomically via its log), and
    * every transform is the same codegen'd expression a batch run
    * would use. */
  def fileEnrichPipeline(spark: SparkSession, srcDir: String,
      outDir: String, ckptDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.Encoders.product[Event].schema
    spark.readStream.schema(schema).parquet(srcDir)
      .filter(col("value") > 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"),
        when(col("value") >= 5, "high").otherwise("low").as("value_band"))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** End-to-end filesystem pipeline, stateful: the hourly rollup over
    * a parquet file source, appended to a parquet sink. Append mode +
    * watermark means a window's row is emitted exactly once, when the
    * watermark passes its end — the contract a downstream consumer of
    * finalized hourly partitions relies on. */
  def fileRollupPipeline(spark: SparkSession, srcDir: String,
      outDir: String, ckptDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.Encoders.product[Event].schema
    hourlyRollup(spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** End-to-end CONTINUOUS INGEST into the ACID table layer: watch
    * `srcDir` for parquet event files, filter + enrich (same codegen'd
    * expressions as [[fileEnrichPipeline]]), append into a graft-delta
    * table — the production shape for a training-data lake's landing
    * zone. Every micro-batch is one atomic, versioned, idempotent log
    * commit (SetTransaction keyed by checkpoint+batchId), so a
    * kill/restart neither drops nor duplicates rows, and downstream
    * batch readers always see a consistent snapshot mid-stream —
    * the property a plain parquet sink cannot give them. */
  def fileDeltaIngestPipeline(spark: SparkSession, srcDir: String,
      table: String, ckptDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.Encoders.product[Event].schema
    spark.readStream.schema(schema).parquet(srcDir)
      .filter(col("value") > 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"),
        when(col("value") >= 5, "high").otherwise("low").as("value_band"))
      .writeStream.format("graft-delta")
      .option("path", table)
      .option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** STREAMING MATERIALIZED VIEW — the streaming twin of the q83
    * incremental-aggregate pattern: tail a graft-delta table's change
    * feed and keep a downstream per-type (count, sum) delta table
    * current by aggregating ONLY each micro-batch's rows and MERGE-ing
    * combined totals. Additive refreshes are NOT naturally idempotent
    * — a replayed micro-batch would double-count — so the merge
    * commits a SetTransaction keyed by (checkpoint, batchId)
    * atomically with the rewrite ([[graft.sources.DeltaTable.merge]]'s
    * txn): the replay short-circuits against the ledger exactly like
    * the streaming sink's. Totals stay DECIMAL end-to-end (the q83
    * exactness argument, across micro-batches here). foreachBatch is
    * the right tool: the refresh is a multi-step transaction (read
    * downstream, join, merge) no declarative sink expresses. */
  def incrementalViewPipeline(spark: SparkSession, srcTable: String,
      downTable: String, ckptDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.DeltaTable
    val money = org.apache.spark.sql.types.DecimalType(18, 2)
    val sumT = org.apache.spark.sql.types.DecimalType(28, 2)
    spark.readStream.format("graft-delta").load(srcTable)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val deltaAgg = batch.groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(money)).as("total_value"))
        val cur =
          if (graft.sources.DeltaLog.versions(downTable).isEmpty)
            deltaAgg.filter(lit(false)) // empty, same schema
          else DeltaTable.read(spark, downTable)
        val upserts = cur.as("o")
          .join(deltaAgg.as("d"), Seq("event_type"), "right")
          .select(col("event_type"),
            (coalesce(col("o.n_events"), lit(0L)) + col("d.n_events"))
              .as("n_events"),
            (coalesce(col("o.total_value"), lit(0).cast(sumT))
              + col("d.total_value")).cast(sumT).as("total_value"))
        if (graft.sources.DeltaLog.versions(downTable).isEmpty)
          DeltaTable.write(upserts, downTable, "overwrite",
            txn = Some((s"view:$ckptDir", batchId)))
        else
          DeltaTable.merge(spark, downTable, upserts, Seq("event_type"),
            txn = Some((s"view:$ckptDir", batchId)))
        ()
      }
      .outputMode(OutputMode.Update())
      .start()
  }

  /** STREAMING HOST REPUTATION MV (round 17) — the incremental twin
    * of batch q153, maintained over a documents change feed the way a
    * crawl actually arrives. The key design point is the MV's GRAIN:
    * the host report needs COUNT(DISTINCT canonical_url), which is
    * NOT additive across batches — a batch may re-see a URL already
    * counted — so the view is kept one level FINER, at
    * (host, canonical_url), where every measure (n_docs, sum_tok,
    * sum_stop) IS additive and the standard coalesce-add MERGE
    * applies. The host report then falls out of a read-side rollup of
    * the view ([[hostReputationFromMv]]): n_pages = the view's row
    * count per host, everything else a sum — the classic
    * incremental-distinct design (distinct maintained as keys, not as
    * a number). View size is bounded by DISTINCT pages, not corpus
    * rows. Exactly-once exactly like [[incrementalViewPipeline]]:
    * additive merges are non-idempotent, so each batch commits under
    * a (checkpoint, batchId) SetTransaction and replays
    * short-circuit. */
  def hostReputationIngestPipeline(spark: SparkSession, srcTable: String,
      mvTable: String, ckptDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.DeltaTable
    spark.readStream.format("graft-delta").load(srcTable)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val partials = graft.operators.DedupOps.hostUrlMetrics(batch)
          .groupBy("host", "canonical_url")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("sum_tok"),
            sum(col("stop_hits")).as("sum_stop"))
        val empty = graft.sources.DeltaLog.versions(mvTable).isEmpty
        val cur =
          if (empty) partials.filter(lit(false))
          else DeltaTable.read(spark, mvTable)
        val upserts = cur.as("o")
          .join(partials.as("d"), Seq("host", "canonical_url"), "right")
          .select(col("host"), col("canonical_url"),
            (coalesce(col("o.n_docs"), lit(0L)) + col("d.n_docs"))
              .as("n_docs"),
            (coalesce(col("o.sum_tok"), lit(0L)) + col("d.sum_tok"))
              .as("sum_tok"),
            (coalesce(col("o.sum_stop"), lit(0L)) + col("d.sum_stop"))
              .as("sum_stop"))
        if (empty)
          DeltaTable.write(upserts, mvTable, "overwrite",
            txn = Some((s"hostrep:$ckptDir", batchId)))
        else
          DeltaTable.merge(spark, mvTable, upserts,
            Seq("host", "canonical_url"),
            txn = Some((s"hostrep:$ckptDir", batchId)))
        ()
      }
      .outputMode(OutputMode.Update())
      .start()
  }

  /** The host report off the maintained (host, canonical_url) view —
    * shares [[graft.operators.DedupOps.hostVerdict]]'s arithmetic
    * with batch q153, so thresholds/rounding can never drift. */
  def hostReputationFromMv(spark: SparkSession,
      mvTable: String): DataFrame =
    graft.operators.DedupOps.hostVerdict(
      graft.sources.DeltaTable.read(spark, mvTable)
        .groupBy("host")
        .agg(sum(col("n_docs")).as("n_docs"),
          count(lit(1)).as("n_pages"),
          sum(col("sum_tok")).as("sum_tok"),
          sum(col("sum_stop")).as("sum_stop")))

  /** STREAMING INCREMENTAL NEAR-DUP — the whole production ingestion
    * pipeline composed from pieces the batch path already proves: tail
    * a graft-delta documents table's change feed, and for each
    * micro-batch (a) shingle ONLY the batch and stage it under a
    * DETERMINISTIC per-batchId dir, (b) find near-dups of the batch
    * against seed-corpus index ∪ previously staged batches
    * ([[graft.operators.DedupOps.incrementalNearDupsFrom]] — the
    * corpus side streams map-side against the broadcast batch, q75's
    * shape), and (c) append the surviving pairs to a downstream
    * graft-delta table. So each batch is deduped against everything
    * that came before WITHOUT ever re-shingling the corpus — the index
    * grows one staged delta dir per batch, exactly
    * [[graft.operators.DedupOps.refreshShingleIndex]]'s contract at
    * micro-batch grain.
    *
    * Exactly-once: the pairs append commits a SetTransaction keyed by
    * (checkpoint, batchId) — a replayed batch short-circuits against
    * the ledger like the streaming sink's, and its re-staged shingle
    * dir OVERWRITES the same per-batchId path, so replays are
    * idempotent on both the output and the index. Restart-safe with no
    * driver state: prior batches' dirs are rediscovered by LISTING the
    * staging root (ids < current batch only, so a replay never reads
    * its own half-staged attempt as corpus). foreachBatch is right
    * here for the same reason as the materialized view: stage + join +
    * ledgered append is a multi-step transaction no declarative sink
    * expresses.
    *
    * The corpus is read through [[stagedCorpus]]: seed index ∪ one
    * scan whose file list holds every prior staged dir plus this
    * batch's, so the batch plan — and its generated code — is the same
    * at every lineage depth. A long-running pipeline still accumulates
    * one staged dir per batch, and with it files, footers and listing
    * work per scan; [[compactStagedState]] folds the committed batch
    * dirs into one compact dir between restarts — O(staged bytes),
    * results bit-identical, the stream resumes on its original
    * checkpoint (round 16; the former path — rebuild the seed index
    * from a corpus snapshot and clear the staging root wholesale — was
    * O(corpus) and remains legal but is no longer the maintenance
    * default). */
  /** (compact ids, batch ids) currently present under a staging root.
    * Names that don't parse (a compactor's in-flight `compact-N.tmp`,
    * the `_drift` metric dir, the `_graft_checkpoint` stamp) are
    * skipped — the listing degrades to the state it can read. */
  private def stagedIds(root: java.nio.file.Path): (Seq[Long], Seq[Long]) =
    if (!java.nio.file.Files.isDirectory(root)) (Seq.empty, Seq.empty)
    else {
      val s = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        val names = s.iterator.asScala.map(_.getFileName.toString).toSeq
        def ids(prefix: String): Seq[Long] = names
          .filter(_.startsWith(prefix))
          .flatMap(_.stripPrefix(prefix).toLongOption).sorted
        (ids("compact-"), ids("batch-"))
      } finally s.close()
    }

  /** The staged state dirs an ingest batch may read as corpus: the
    * highest compact dir (holding every batch id <= its own — see
    * [[compactStagedState]]) plus the per-batch dirs above it, ids <
    * `before` only (so a replaying batch never reads its own
    * half-staged attempt as corpus), ascending. Batch dirs at or below
    * the compact id are SUBSUMED (a replayed batch re-staging a dir
    * the compactor already folded) and are skipped, never
    * double-counted. A compact dir at or above `before` is a CONTRACT
    * VIOLATION — compaction folded a batch that could still replay
    * (it ran against a live stream, or folded the newest batch) — and
    * fails loudly rather than silently serving the replaying batch a
    * corpus containing its own rows. */
  private def batchDirs(root: java.nio.file.Path, before: Long): Seq[String] = {
    val (compacts, batches) = stagedIds(root)
    val c = compacts.lastOption
    c.filter(_ >= before).foreach { cid =>
      throw new IllegalStateException(
        s"stage root $root holds compact-$cid but batch $before is " +
          "replaying: compaction must only fold batches that can no " +
          "longer replay (run it on a STOPPED stream; it always leaves " +
          "the newest staged batch unfolded)")
    }
    val compactDir = c.map(i => root.resolve(s"compact-$i").toString).toSeq
    compactDir ++ batches
      .filter(i => i > c.getOrElse(-1L) && i < before)
      .map(i => root.resolve(s"batch-$i").toString)
  }

  /** The corpus relation every staged-lineage ingest batch reads: the
    * `seed` index ∪ ONE multi-path scan over the staged `dirs` (`view`
    * narrows that scan before the union). The plan has the same shape
    * however many dirs the lineage holds — only the scan's file list
    * grows — so codegen stage ids, and with them the generated classes
    * Spark's codegen cache keys on, repeat from batch to batch: Janino
    * and the JIT compile a pipeline's stages once, not per
    * micro-batch. One scan per dir would shift every later stage id
    * with the dir count and recompile each batch cold. All dirs under
    * one stage root share one schema, passed explicitly so the scan
    * skips footer inference. */
  private[graft] def stagedCorpus(spark: SparkSession, seed: DataFrame,
      schema: StructType, dirs: Seq[String],
      view: DataFrame => DataFrame = identity): DataFrame =
    seed.unionByName(view(spark.read.schema(schema).parquet(dirs: _*)))

  /** INCREMENTAL STAGED-STATE COMPACTION (round 16) — retires the
    * "clear the staging root wholesale + rebuild the seed index"
    * maintenance path, the last O(corpus) operation in the streaming
    * ingest family. Folds every fully-committed staged batch dir,
    * together with any previous compact dir, into ONE
    * `compact-<maxFoldedId>` dir under the same staging root, in one
    * pass over the STAGED state only: cost is O(bytes staged since
    * the last compaction), never O(seed corpus). The corpus plan's
    * SHAPE never depended on the dir count ([[stagedCorpus]] reads
    * every dir through one scan); what the fold bounds is the scan's
    * file count, the footers it opens and the listing it pays — they
    * stop growing with total batch count.
    *
    * Safety rules, in order of importance:
    *   - The NEWEST staged batch is never folded. It is the only
    *     batch Structured Streaming can replay after a crash/restart
    *     (offsets written, commit missing); a replay of batch M reads
    *     corpus `ids < M`, which after folding M would be
    *     unreconstructable — and reading the compact dir instead
    *     would hand M its own rows as corpus. Leaving it out keeps a
    *     replay's corpus BIT-IDENTICAL to its original run's.
    *   - Run against a STOPPED stream (the restart boundary is the
    *     natural compaction point). [[batchDirs]] fails loudly if a
    *     live batch ever observes a compact id at/above itself.
    *   - Crash-safe: the union is written to `compact-<id>.tmp` and
    *     atomically renamed before the folded dirs are deleted. A
    *     crash in between leaves overlapping state that readers
    *     resolve deterministically (highest compact wins, batch ids
    *     <= it are subsumed) and the next compaction retires.
    *   - The `_graft_checkpoint` identity stamp, the `_drift` metric
    *     log, and the checkpoint itself are untouched — the stream
    *     restarts on its original checkpoint and simply finds fewer,
    *     bigger corpus dirs.
    *
    * The SEED index is deliberately not the merge target (the
    * wholesale path rebuilt it): the staged memos under Scratch are
    * session-lifetime caches keyed on the seed corpus's content
    * fingerprint — folding mutable stream state into them would break
    * the fingerprint contract and corrupt every OTHER consumer of the
    * seed index (the batch q31/q32/q36 family reads the same memo).
    * The compact dir plays the same role durably: the serving corpus
    * is seed ∪ compact ∪ recent batches, associative for every
    * pipeline's staged payload (shingle arrays, SQ8 codes, media
    * fingerprints, window-hash sets, cell assignments — all sets
    * under union; `distinct()` on the fold keeps the hash-set
    * pipelines minimal and is a no-op for the id-keyed ones).
    * Semantic labels need no folding at all: the labels delta table
    * IS the standing index (the staged dirs only carry cell
    * assignments for pairing).
    *
    * Returns the new compact id, or None when fewer than two dirs are
    * foldable (compacting one dir into one dir buys no lineage).
    * Idempotent: a second call with no new batches is a no-op. */
  /** The BETWEEN-restarts compaction cue, the [[sustainedDrift]]
    * pattern applied to lineage: true when the staging root holds
    * more than `maxDirs` corpus dirs a micro-batch would have to read
    * (highest compact + live batches). The operator's play on true:
    * stop the stream at its next natural restart point, run
    * [[compactStagedState]], restart — results are bit-identical
    * (StreamingSpec) and the per-batch corpus scan is back to one
    * compact dir + the recent batches. Kept OUT of foreachBatch
    * on purpose, like the IVF rebuild: a Spark job inside the
    * micro-batch would stall ingest, and the fold needs the stopped-
    * stream replay-safety contract. */
  def shouldCompact(stageRoot: String, maxDirs: Int = 8): Boolean =
    batchDirs(java.nio.file.Paths.get(stageRoot), Long.MaxValue)
      .size > maxDirs

  /** ENGINE-TRIGGERED compaction (round 17, verdict #7): the
    * trigger-then-fold composition an operator would otherwise have to
    * remember to write — at a stopped-stream boundary, fold iff the
    * lineage cue fires. Call it between drains (stream stopped; the
    * stopped-stream contract is [[compactStagedState]]'s, unchanged)
    * and the staged dir count stays bounded at maxDirs+1 forever with
    * ZERO operator-remembered compact calls: the count only grows one
    * dir per batch, the cue fires the first drain after it passes
    * maxDirs, and the fold collapses everything but the newest batch
    * back to 2. Returns Some(newCompactId) when a fold ran, None when
    * the cue said the lineage is still cheap. */
  def maybeCompactStagedState(spark: SparkSession, stageRoot: String,
      maxDirs: Int = 8): Option[Long] =
    if (shouldCompact(stageRoot, maxDirs)) compactStagedState(spark, stageRoot)
    else None

  def compactStagedState(spark: SparkSession, stageRoot: String)
      : Option[Long] = {
    val root = java.nio.file.Paths.get(stageRoot)
    val (compacts, batches) = stagedIds(root)
    def deleteTree(p: java.nio.file.Path): Unit = {
      val w = java.nio.file.Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally w.close()
    }
    // Retire orphaned `compact-*.tmp` dirs up front (round-17 ADVICE):
    // a crash between the tmp write and the rename leaves a .tmp the
    // folded-dir cleanup below never matches (it deletes stale
    // compact-N and subsumed batch-N only), so staged-state disk usage
    // would leak one tmp per crash forever. stagedIds/batchDirs skip
    // non-parsing names, so no reader can hold a .tmp open — deletion
    // is always safe, and this same pass runs whether or not anything
    // is foldable.
    if (java.nio.file.Files.isDirectory(root)) {
      val l = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator.asScala
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("compact-") && n.endsWith(".tmp")
          }
          .toSeq.foreach(deleteTree)
      } finally l.close()
    }
    val cMax = compacts.lastOption.getOrElse(-1L)
    // batches newer than the highest compact, oldest-excluded-last:
    // everything here except the newest is foldable
    val live = batches.filter(_ > cMax).dropRight(1)
    if (live.isEmpty || (compacts.isEmpty && live.size < 2)) {
      // nothing worth a fold pass; still retire crash leftovers (a
      // lower compact or subsumed batch dirs a previous compaction
      // crashed before deleting — the highest compact subsumes them)
      (compacts.dropRight(1).map(i => root.resolve(s"compact-$i")) ++
        batches.filter(_ <= cMax).map(i => root.resolve(s"batch-$i")))
        .foreach(deleteTree)
      return None
    }
    val foldDirs =
      compacts.lastOption.map(i => root.resolve(s"compact-$i").toString).toSeq ++
        live.map(i => root.resolve(s"batch-$i").toString)
    val newId = live.max
    val tmp = root.resolve(s"compact-$newId.tmp")
    val dst = root.resolve(s"compact-$newId")
    val folded = spark.read.parquet(foldDirs: _*).distinct()
    // Two encoding-locality repairs, both measured on the round-16
    // sf1 rehearsal where the naive distinct().write cost sq8 ~2x in
    // compact bytes vs the parts it folded:
    //  - size the output to ~128 MB files (the fold is maintenance,
    //    not a query — 32 shuffle-partition files each pay their own
    //    parquet dictionary/footer, which dominates at MB-scale
    //    staged state and still wastes at TB scale);
    //  - partition-local sort on the leading columns to restore the
    //    key-ordered runs the per-batch writers emit (RLE/dict pages
    //    compress runs, the distinct shuffle scatters them). Neither
    //    adds an exchange.
    val foldBytes = foldDirs.map(d => {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try w.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size).sum
      finally w.close()
    }).sum
    val nFiles = math.max(1L, foldBytes / (128L << 20) + 1L).toInt
    val keys = folded.columns.take(2).map(col)
    folded.coalesce(nFiles).sortWithinPartitions(keys: _*)
      .write.mode("overwrite").parquet(tmp.toString)
    java.nio.file.Files.move(tmp, dst,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // delete the folded dirs (and any stale subsumed ones) only AFTER
    // the rename landed — the only non-atomic window leaves extra
    // subsumed dirs, which readers already ignore
    (compacts.map(i => root.resolve(s"compact-$i")) ++
      batches.filter(_ <= newId).map(i => root.resolve(s"batch-$i")))
      .foreach(deleteTree)
    Some(newId)
  }

  /** Guard the staging root against a checkpoint swap (round-6
    * review): resetting the checkpoint restarts batchIds at 0, so
    * pairing a fresh checkpoint with a stageRoot that still holds
    * batch-* dirs from a previous run would union stale shingles into
    * the corpus — or overwrite them under the reused ids — with no
    * error. The root carries a `_graft_checkpoint` marker holding the
    * owning streaming query's persistent id (== the checkpoint
    * metadata id, stable across restarts); any id mismatch, and any
    * staged batches of unknown provenance, fail loudly BEFORE the
    * stream starts. An EMPTY staging root under a live checkpoint
    * stays legal on purpose — the legacy wholesale-compaction path
    * (seed index rebuilt from the current snapshot, staging cleared)
    * — and is restamped on start; [[compactStagedState]]'s compact
    * dirs carry the SAME stamp and validate like staged batches. */
  private def validateStageRoot(root: java.nio.file.Path,
      ckptDir: String, staged: Boolean): Unit = {
    val marker = root.resolve("_graft_checkpoint")
    val meta = java.nio.file.Paths.get(ckptDir, "metadata")
    val ckptId: Option[String] =
      if (java.nio.file.Files.exists(meta))
        "\"id\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(new String(
            java.nio.file.Files.readAllBytes(meta), "UTF-8")).map(_.group(1))
      else None
    val stamped: Option[String] =
      if (java.nio.file.Files.exists(marker))
        Some(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim)
      else None
    (ckptId, stamped) match {
      case (Some(c), Some(m)) if c != m =>
        throw new IllegalStateException(
          s"stage root $root is stamped for streaming query $m but " +
            s"checkpoint $ckptDir belongs to query $c: a checkpoint " +
            "reset must not reuse a previous run's staging — clear the " +
            "stage root (and rebuild the seed index) or restore the " +
            "original checkpoint")
      case (None, _) if staged =>
        throw new IllegalStateException(
          s"checkpoint $ckptDir is fresh (batchIds will restart at 0) " +
            s"but stage root $root already holds staged batch dirs " +
            "from a previous run: clear the stage root or restore the " +
            "original checkpoint")
      case (Some(_), None) if staged =>
        throw new IllegalStateException(
          s"stage root $root holds staged batch dirs but no " +
            "_graft_checkpoint stamp: refusing staging of unknown " +
            "provenance under a live checkpoint")
      case _ => () // consistent, or both fresh
    }
  }

  def nearDupIngestPipeline(spark: SparkSession, seedDir: String,
      srcTable: String, pairsTable: String, ckptDir: String,
      stageRoot: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.DedupOps
    import graft.sources.{DeltaLog, DeltaTable}
    val root = java.nio.file.Paths.get(stageRoot)
    java.nio.file.Files.createDirectories(root)
    def priorBatchDirs(before: Long): Seq[String] = batchDirs(root, before)
    validateStageRoot(root, ckptDir, priorBatchDirs(Long.MaxValue).nonEmpty)
    val q = spark.readStream.format("graft-delta").load(srcTable)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bdir = root.resolve(s"batch-$batchId").toString
        // read-backs carry the just-written schema (all dirs under one
        // stage root share it): no per-micro-batch footer re-inference
        val sh = DedupOps.shingleArrays(batch.select(col("doc_id"), col("text")))
        sh.write.mode("overwrite").parquet(bdir)
        val newArrays = spark.read.schema(sh.schema).parquet(bdir)
        // the batch's own dir rides the corpus scan: corpus ∪ batch
        val arrays = stagedCorpus(spark,
          DedupOps.stagedShingleArrays(spark, seedDir), sh.schema,
          priorBatchDirs(batchId) :+ bdir)
        val pairs = DedupOps.incrementalNearDupsFrom(arrays, newArrays, 0.5)
        val mode =
          if (DeltaLog.versions(pairsTable).isEmpty) "overwrite" else "append"
        DeltaTable.write(pairs, pairsTable, mode,
          txn = Some((s"neardup:$ckptDir", batchId)))
        ()
      }
      .outputMode(OutputMode.Append())
      .start()
    // stamp AFTER start: q.id is the persistent query id the metadata
    // file records — on a fresh checkpoint it only exists from here
    java.nio.file.Files.write(root.resolve("_graft_checkpoint"),
      q.id.toString.getBytes("UTF-8"))
    q
  }

  /** STREAMING PERCEPTUAL MEDIA NEAR-DUP — the media-side twin of
    * [[nearDupIngestPipeline]] (round 15; q136's aHash family gains
    * the ingest form every other dedup family already has). Tail a
    * graft-delta media table's feed; per micro-batch: (a) fingerprint
    * ONLY the batch with the native 60-bit blocked-mean aHash (one
    * codegen'd projection — the corpus is never re-hashed; items
    * under the 60-char resize floor are dropped at the boundary like
    * q136's gate) and stage (media_id, ahash) under a deterministic
    * per-batchId dir — 8 BYTES of standing state per item; (b) pair
    * the batch against seed-fingerprints ∪ previously staged batches
    * through the q136 pigeonhole band join plus a within-batch pass
    * ([[graft.operators.MultimodalOps.neardupFingerprintPairs]] — the
    * batch side broadcasts, the q75 shape); (c) append surviving
    * (media_a, media_b, hamming) pairs under a (checkpoint, batchId)
    * SetTransaction. Staging, replay idempotence (a replayed batch
    * overwrites its own dir, reads only ids < its own) and the
    * checkpoint-identity stamp follow the other ingest pipelines. */
  def mediaNeardupIngestPipeline(spark: SparkSession, seedDir: String,
      srcTable: String, pairsTable: String, ckptDir: String,
      stageRoot: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.MultimodalOps
    import graft.sources.{DeltaLog, DeltaTable}
    val root = java.nio.file.Paths.get(stageRoot)
    java.nio.file.Files.createDirectories(root)
    def priorBatchDirs(before: Long): Seq[String] = batchDirs(root, before)
    validateStageRoot(root, ckptDir, priorBatchDirs(Long.MaxValue).nonEmpty)
    val q = spark.readStream.format("graft-delta").load(srcTable)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bdir = root.resolve(s"batch-$batchId").toString
        val fp = MultimodalOps.mediaAHash(
            batch.select(col("media_id"), col("text"))
              .filter(length(col("text")) >= 60))
        fp.write.mode("overwrite").parquet(bdir)
        val bfp = spark.read.schema(fp.schema).parquet(bdir)
        val corpusFp = stagedCorpus(spark,
          MultimodalOps.stagedMediaFingerprints(spark, seedDir), fp.schema,
          priorBatchDirs(batchId))
        val pairs = MultimodalOps.neardupFingerprintPairs(
          bfp, corpusFp, selfPairs = true)
        val mode =
          if (DeltaLog.versions(pairsTable).isEmpty) "overwrite" else "append"
        DeltaTable.write(pairs, pairsTable, mode,
          txn = Some((s"mediadup:$ckptDir", batchId)))
        ()
      }
      .outputMode(OutputMode.Append())
      .start()
    java.nio.file.Files.write(root.resolve("_graft_checkpoint"),
      q.id.toString.getBytes("UTF-8"))
    q
  }

  /** STREAMING INCREMENTAL SEMANTIC DEDUP — the embedding-space twin
    * of [[nearDupIngestPipeline]], closing the incremental family
    * (q75 exact text, q78 SQ8 vectors, q131 substrings, q133 cleaned
    * emission — and now q141's semantic clusters). Tail a graft-delta
    * embeddings table's feed; per micro-batch: (a) cell-assign ONLY
    * the batch against the SEED corpus's frozen centroids (never a
    * retrain) and stage (vec_id, cell, embedding) under a
    * deterministic per-batchId dir; (b) pair batch-vs-(seed ∪
    * previously staged batches) and batch-vs-batch through the celled
    * candidate join; (c) contract every standing cluster to its
    * representative and converge the pointer-doubling CC over the
    * contracted sliver — the IDENTICAL kernel batch q141 runs
    * ([[graft.operators.SimilarityOps.absorbSemanticBatch]]); (d)
    * bring the downstream labels table to the updated standing index
    * under a SetTransaction keyed by (checkpoint, batchId) — the
    * first batch writes it whole, every later batch MERGEs only the
    * labels it moved.
    *
    * Not append-only, on purpose: one batch vector can MERGE two
    * standing clusters, relabeling corpus vectors committed long ago
    * — the labels table is a materialized VIEW of the index (the
    * [[incrementalViewPipeline]] stance). Labels never disappear
    * (clusters only grow or merge), so upserting {new rows} ∪ {rows
    * whose cluster changed} reconstructs the full index with write
    * amplification O(batch + touched clusters), not O(index).
    * Exactly-once:
    * replays short-circuit on the txn ledger, a replayed batch
    * re-stages its own per-batchId dir (overwrite) and reads only
    * dirs with id < its own as corpus. The standing min-label
    * invariant is maintained inductively — each overwrite holds the
    * pointer-doubled min labels, which is exactly what the next
    * batch's contraction requires.
    *
    * The staged (vec_id, embedding) rows take ONE `distinct()` over
    * the combined scan of every prior dir, not one per dir. That is
    * the corpus a fold leaves: [[compactStagedState]] folds dirs with
    * a `distinct()` over their union, and [[batchDirs]] never returns
    * two dirs that cover the same batch (batch ids at or below the
    * compact id are subsumed and skipped), so no batch's rows are
    * read twice before or after a fold. */
  def semanticIngestPipeline(spark: SparkSession, seedDir: String,
      srcTable: String, labelsTable: String, ckptDir: String,
      stageRoot: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilarityOps
    import graft.sources.{DeltaLog, DeltaTable}
    val root = java.nio.file.Paths.get(stageRoot)
    java.nio.file.Files.createDirectories(root)
    def priorBatchDirs(before: Long): Seq[String] = batchDirs(root, before)
    validateStageRoot(root, ckptDir, priorBatchDirs(Long.MaxValue).nonEmpty)
    val q = spark.readStream.format("graft-delta").load(srcTable)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val batch = batch0.select(col("vec_id"), col("embedding"))
        val cent = SimilarityOps.frozenCentroids(spark, seedDir)
        val bdir = root.resolve(s"batch-$batchId").toString
        val assigned = SimilarityOps.cellAssign(batch, cent,
          carryEmbedding = true)
        assigned.write.mode("overwrite").parquet(bdir)
        val prior = priorBatchDirs(batchId)
        val corpus = stagedCorpus(spark,
          graft.Tables.load(spark, seedDir, "embeddings")
            .select("vec_id", "embedding"),
          assigned.schema, prior,
          _.select(col("vec_id"), col("embedding")).distinct())
        val corpusCells = stagedCorpus(spark,
          SimilarityOps.stagedCorpusCells(spark, seedDir), assigned.schema,
          prior, _.select(col("vec_id"), col("cell")))
        val labels =
          if (DeltaLog.versions(labelsTable).isEmpty)
            SimilarityOps.stagedSemanticLabels(spark, seedDir)
              .select("id", "label")
          else DeltaTable.read(spark, labelsTable)
            .select(col("vec_id").as("id"), col("cluster_id").as("label"))
        val updated = SimilarityOps.absorbSemanticBatch(spark, labels,
          corpus, corpusCells,
          spark.read.schema(assigned.schema).parquet(bdir), s"ing$batchId")
        if (DeltaLog.versions(labelsTable).isEmpty)
          DeltaTable.write(updated, labelsTable, "overwrite",
            txn = Some((s"semcc:$ckptDir", batchId)))
        else {
          // MERGE only the labels this batch actually moved (round 15
          // closes the scaladoc's "at lake scale this is a MERGE"
          // promise): labels never disappear — clusters only grow or
          // merge — so upserting {new rows} ∪ {rows whose cluster_id
          // changed} reconstructs the full standing index while the
          // write amplification stays O(batch + touched clusters),
          // not O(index). The diff join reads the same label relation
          // the contraction already consumed this batch.
          val changed = updated.as("u")
            .join(labels.select(col("id").as("vec_id"),
              col("label").as("old_label")).as("c"), Seq("vec_id"), "left")
            .filter(col("old_label").isNull ||
              col("old_label") =!= col("cluster_id"))
            .select(col("vec_id"), col("cluster_id"))
          DeltaTable.merge(spark, labelsTable, changed, Seq("vec_id"),
            txn = Some((s"semcc:$ckptDir", batchId)))
        }
        ()
      }
      .outputMode(OutputMode.Update())
      .start()
    java.nio.file.Files.write(root.resolve("_graft_checkpoint"),
      q.id.toString.getBytes("UTF-8"))
    q
  }

  /** STREAMING INCREMENTAL SQ8 — the vector-side twin of
    * [[nearDupIngestPipeline]]: tail a graft-delta embeddings table
    * and, per micro-batch, quantize ONLY the batch against the seed
    * index's FROZEN scale params
    * ([[graft.operators.SimilarityOps.quantizeBatchFrozen]] — the
    * production codebook contract: out-of-range values saturate, the
    * codebook never rescales, every previously served code stays
    * valid), stage the codes under a DETERMINISTIC per-batchId dir,
    * and append them to a downstream graft-delta codes table. The
    * serving index ([[sqServingRecon]]) is seed ∪ staged batches —
    * the corpus is never re-quantized, mirroring
    * [[graft.operators.SimilarityOps.refreshSqIndex]]'s contract at
    * micro-batch grain.
    *
    * Exactly-once: the codes append commits a SetTransaction keyed by
    * (checkpoint, batchId) — a replayed batch short-circuits against
    * the ledger — and its re-staged dir OVERWRITES the same
    * per-batchId path, so replays are idempotent on both the output
    * table and the index. Restart-safe with no driver state (batch
    * dirs rediscovered by listing), and the staging root carries the
    * same checkpoint-identity stamp as the near-dup pipeline: a
    * checkpoint reset cannot silently pair with stale staged codes.
    * Compaction path: [[compactStagedState]] between restarts folds
    * the committed code dirs into one compact dir in O(staged bytes)
    * — [[sqServingRecon]] reads compact ∪ recent batches unchanged. */
  def sqIngestPipeline(spark: SparkSession, seedDir: String,
      srcTable: String, codesTable: String, ckptDir: String,
      stageRoot: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilarityOps
    import graft.sources.{DeltaLog, DeltaTable}
    val root = java.nio.file.Paths.get(stageRoot)
    java.nio.file.Files.createDirectories(root)
    validateStageRoot(root, ckptDir, batchDirs(root, Long.MaxValue).nonEmpty)
    val q = spark.readStream.format("graft-delta").load(srcTable)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bdir = root.resolve(s"batch-$batchId").toString
        val vecs = batch.select(col("vec_id"), col("embedding"))
        val quantized = SimilarityOps.quantizeBatchFrozen(spark, seedDir, vecs)
        quantized.write.mode("overwrite").parquet(bdir)
        val codes = spark.read.schema(quantized.schema).parquet(bdir)
        val mode =
          if (DeltaLog.versions(codesTable).isEmpty) "overwrite" else "append"
        DeltaTable.write(codes, codesTable, mode,
          txn = Some((s"sqcodes:$ckptDir", batchId)))
        // MAINTENANCE METRIC, log-only: score the batch against the
        // seed corpus's IVF quality baseline (one k×dim broadcast
        // argmax — never a corpus pass) and persist it per batch under
        // `_drift/` (a name batchDirs cannot mistake for staged
        // codes). The REBUILD decision stays OUTSIDE the micro-batch
        // by design — an operator (or a scheduled job) watches the
        // metric and calls maybeRebuildIvfIndex between batches; a
        // re-cluster inside foreachBatch would stall the stream and
        // tie index lifetime to micro-batch cadence.
        val drift = SimilarityOps.ivfDriftFraction(spark, seedDir, vecs)
        val ddir = root.resolve("_drift")
        java.nio.file.Files.createDirectories(ddir)
        // temp + atomic move, same discipline as the log paths: a
        // crash mid-write must never leave a half-written metric file
        // for sqIngestDriftLog to choke on
        val tmp = java.nio.file.Files.createTempFile(ddir, ".tmp-", "")
        java.nio.file.Files.write(tmp, drift.toString.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, ddir.resolve(batchId.toString),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        System.err.println(s"[graft] sqIngest batch=$batchId driftFraction=$drift")
        ()
      }
      .outputMode(OutputMode.Append())
      .start()
    java.nio.file.Files.write(root.resolve("_graft_checkpoint"),
      q.id.toString.getBytes("UTF-8"))
    q
  }

  /** STREAMING EXACT-SUBSTRING DEDUP — the ingest twin of the batch
    * q131 ([[graft.operators.DedupOps.substringRemovalSpans]]): tail a
    * graft-delta documents table and, per micro-batch, flag every
    * incoming 30-token window whose hash already exists in the corpus
    * (seed ∪ previously staged batches — the corpus occurrence is the
    * keeper) or that repeats ACROSS documents within the batch
    * (keeper = first (doc_id, pos), the batch-mode rank rule), then
    * merge flagged windows into maximal removal spans and append them
    * to a downstream graft-delta spans table.
    *
    * Semantics vs batch q131: identical whenever ingest order follows
    * doc_id order (the batch keeper is the min (doc_id, pos)
    * occurrence, the streaming keeper the first-arrived —
    * StreamingSpec pins span-set equality on such a fixture). One
    * declared divergence: the boilerplate occurrence cap applies to
    * the BATCH-side occurrence count (a stream cannot know a hash's
    * final global count); the guard still prevents any single
    * micro-batch from going quadratic on a hot hash.
    *
    * Scale shape per batch: batch windows are one codegen'd
    * projection + posexplode (never the corpus); the corpus probe is
    * a LEFT SEMI equi-join on the 60-bit hash against the staged hash
    * set (hash-partitioned, no payloads); the within-batch pass is
    * one rank window over batch-sized rows. The corpus is never
    * re-scanned — its hash set is staged once (seed) plus one small
    * parquet per ingested batch. Exactly-once via SetTransaction
    * keyed by (checkpoint, batchId); staged batch dirs OVERWRITE on
    * replay; the staging root carries the checkpoint-identity stamp
    * shared with the other ingest pipelines. */
  def substrIngestPipeline(spark: SparkSession, seedDir: String,
      srcTable: String, spansTable: String, ckptDir: String,
      stageRoot: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    substrPipeline(spark, seedDir, srcTable, spansTable, None,
      ckptDir, stageRoot)

  /** [[substrIngestPipeline]] PLUS per-batch cleaned-corpus emission —
    * the streaming twin of q133, completing detect → excise → emit
    * parity with the batch family: each micro-batch additionally
    * appends (doc_id, n_kept, cleaned_hash, batch_id) for EVERY batch
    * doc to `cleanTable` via the shared
    * [[graft.operators.DedupOps.cleanedTextOver]] kernel (affected
    * docs rebuilt from kept tokens, clean docs one canonical
    * projection — the batch's spans are already in hand, so emission
    * adds no second detection pass). Exactly-once per table: the
    * spans write and the clean write each carry their own
    * SetTransaction ledger keyed by (checkpoint, batchId), so a crash
    * between the two writes replays idempotently — the spans write
    * no-ops, the clean write completes. */
  def substrCleanIngestPipeline(spark: SparkSession, seedDir: String,
      srcTable: String, spansTable: String, cleanTable: String,
      ckptDir: String, stageRoot: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    substrPipeline(spark, seedDir, srcTable, spansTable, Some(cleanTable),
      ckptDir, stageRoot)

  private def substrPipeline(spark: SparkSession, seedDir: String,
      srcTable: String, spansTable: String, cleanTable: Option[String],
      ckptDir: String, stageRoot: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.DedupOps
    import graft.sources.{DeltaLog, DeltaTable}
    import org.apache.spark.sql.expressions.Window
    val root = java.nio.file.Paths.get(stageRoot)
    java.nio.file.Files.createDirectories(root)
    validateStageRoot(root, ckptDir, batchDirs(root, Long.MaxValue).nonEmpty)
    val q = spark.readStream.format("graft-delta").load(srcTable)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bdir = root.resolve(s"batch-$batchId").toString
        val docs = batch.select(col("doc_id"), col("text"))
        val bw0 = DedupOps.windowHashes(docs)
        // boilerplate guard, batch-grained (see scaladoc): a hash
        // occurring absurdly often in ONE batch is excluded before
        // any join can fan out on it
        val occ = bw0.groupBy("h")
          .agg(count(lit(1)).as("occ"),
            countDistinct(col("doc_id")).as("nd"))
        val bw = bw0.join(
          occ.filter(col("occ") <= DedupOps.substrOccCap)
            .select("h", "nd"), "h")
        // stage this batch's distinct hashes for LATER batches
        // (overwrite -> replay-idempotent)
        val bh = bw.select("h").distinct()
        bh.write.mode("overwrite").parquet(bdir)
        val corpusH = stagedCorpus(spark,
          DedupOps.stagedWindowHashSet(spark, seedDir), bh.schema,
          batchDirs(root, batchId))
        val vsCorpus = bw.join(corpusH, Seq("h"), "left_semi")
          .select("doc_id", "pos")
        // within-batch: cross-document hashes only (nd > 1, the batch
        // q131 rule — a hash repeating inside a single new doc and
        // nowhere else is NOT duplicated text), keeper = rank 1
        val withinBatch = bw.filter(col("nd") > 1)
          .withColumn("rk", row_number().over(
            Window.partitionBy("h").orderBy("doc_id", "pos")))
          .filter(col("rk") > 1)
          .select("doc_id", "pos")
        val spans = DedupOps.mergeRemovalSpans(
          vsCorpus.unionByName(withinBatch).distinct())
          .withColumn("batch_id", lit(batchId))
        // With a clean sink the span relation is consumed FOUR times
        // (the spans write + three subtrees inside cleanedTextOver);
        // persist it so span detection — hashing, occurrence cap,
        // corpus probe — executes once per batch, not per consumer.
        if (cleanTable.isDefined) spans.persist()
        try {
          val mode =
            if (DeltaLog.versions(spansTable).isEmpty) "overwrite"
            else "append"
          DeltaTable.write(spans, spansTable, mode,
            txn = Some((s"substr:$ckptDir", batchId)))
          cleanTable.foreach { ct =>
            val cleaned = DedupOps.cleanedTextOver(docs,
              spans.select("doc_id", "span_start", "span_end"))
              .withColumn("batch_id", lit(batchId))
            val cmode =
              if (DeltaLog.versions(ct).isEmpty) "overwrite" else "append"
            DeltaTable.write(cleaned, ct, cmode,
              txn = Some((s"substrclean:$ckptDir", batchId)))
          }
        } finally {
          if (cleanTable.isDefined) spans.unpersist()
        }
        ()
      }
      .outputMode(OutputMode.Append())
      .start()
    java.nio.file.Files.write(root.resolve("_graft_checkpoint"),
      q.id.toString.getBytes("UTF-8"))
    q
  }

  /** The live SQ8 serving relation a [[sqIngestPipeline]] maintains:
    * the seed corpus's staged reconstruction rows ∪ every staged
    * batch's — the same (vec_id, pos, r) shape q46/q47/q78 search
    * over. */
  def sqServingRecon(spark: SparkSession, seedDir: String,
      stageRoot: String): DataFrame = {
    val seed = graft.operators.SimilarityOps.stagedSqRecon(spark, seedDir)
    stagedCorpus(spark, seed, seed.schema,
      batchDirs(java.nio.file.Paths.get(stageRoot), Long.MaxValue))
  }

  /** The per-batch drift metrics a [[sqIngestPipeline]] persists under
    * `_drift/` — batchId → drift fraction. This is the production
    * trigger surface for [[graft.operators.SimilarityOps.maybeRebuildIvfIndex]]:
    * an operator polls it BETWEEN batches and rebuilds when sustained
    * drift crosses the policy threshold. */
  /** The BETWEEN-batches rebuild cue the drift log exists for: true
    * when the trailing `window` batches ALL scored past `threshold` —
    * sustained distribution shift, not one noisy batch. The operator's
    * play on true: durably append the staged batches to the corpus and
    * run [[graft.operators.SimilarityOps.maybeRebuildIvfIndex]] while
    * the stream keeps serving (the rebuild swaps atomically and never
    * deletes the old staged dirs). Kept OUT of the micro-batch on
    * purpose — a re-cluster inside foreachBatch would stall ingest. */
  def sustainedDrift(stageRoot: String, threshold: Double = 0.5,
      window: Int = 3): Boolean = {
    val recent = sqIngestDriftLog(stageRoot).toSeq.sortBy(_._1)
      .takeRight(window)
    recent.size >= window && recent.forall(_._2 > threshold)
  }

  def sqIngestDriftLog(stageRoot: String): Map[Long, Double] = {
    val d = java.nio.file.Paths.get(stageRoot).resolve("_drift")
    if (!java.nio.file.Files.isDirectory(d)) Map.empty
    else {
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        // entries that don't parse (stray files, a writer's in-flight
        // temp) are SKIPPED, not thrown on — the log degrades to the
        // batches it can read
        s.iterator.asScala.flatMap { f =>
          for {
            id <- f.getFileName.toString.toLongOption
            v <- scala.util.Try(new String(
              java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toDouble)
              .toOption
          } yield id -> v
        }.toMap
      } finally s.close()
    }
  }

  /** STREAMING BURST ALERTS — the online twin of the batch q150
    * ([[graft.operators.EventOps.q150BurstDetection]]): tail a
    * graft-delta events table, roll it into watermark-FINALIZED daily
    * per-type counts (append-mode day windows — each day emits exactly
    * once, when the watermark passes its end), and score every
    * finalized day against the running per-type Welford state of all
    * PRIOR days: z = (n − mean_prior)/std_prior, |z| > 2 alerts. The
    * one semantic divergence from batch q150 is deliberate and
    * documented: the batch form normalizes against GLOBAL stats (it
    * can see the whole history), the stream against the PREFIX — the
    * only stats an online monitor can possess; a type's first two
    * days score z = 0 (std undefined). StreamingSpec pins alerts ==
    * a driver-side prefix-Welford recompute in day order, plus
    * exactly-once across a kill/restart.
    *
    * Shapes: the ONLY event-scale work is the windowed rollup (state
    * = one row per open day×type, bounded by the watermark). The
    * foreachBatch fold collects aggregate-scale rows by construction
    * — the finalized day×type windows of this trigger plus one state
    * row per event type (a monitoring taxonomy, not a data column) —
    * the q137 bounded-collect license. Writes: alerts APPEND then
    * state MERGE, each under its own (checkpoint, batchId)
    * SetTransaction — a crash between them replays idempotently
    * (alerts no-op on the ledger; the state merge recomputes from the
    * unchanged prior state and completes). Days of one type finalize
    * in day order because the watermark is monotonic, so the prefix
    * fold is deterministic; multiple days finalizing in ONE trigger
    * fold in (type, day) order. */
  def burstAlertPipeline(spark: SparkSession, srcTable: String,
      alertsTable: String, stateTable: String, ckptDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.{DeltaLog, DeltaTable}
    spark.readStream.format("graft-delta").load(srcTable)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("day_epoch"),
        col("event_type"), col("n_events"))
      .writeStream
      .option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import spark.implicits._
        val newDays = batch
          .select(col("event_type"), col("day_epoch"), col("n_events"))
          .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2))
        if (newDays.nonEmpty) {
          var st: Map[String, (Long, Double, Double)] =
            if (DeltaLog.versions(stateTable).isEmpty) Map.empty
            else DeltaTable.read(spark, stateTable)
              .select(col("event_type"), col("n"), col("mean"), col("m2"))
              .as[(String, Long, Double, Double)]
              .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
          val alerts = newDays.map { case (t, day, n) =>
            val (cn, mean, m2) = st.getOrElse(t, (0L, 0.0, 0.0))
            val std = if (cn >= 2) math.sqrt(m2 / (cn - 1)) else 0.0
            val z =
              if (std == 0.0) 0.0
              else BigDecimal((n - mean) / std)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            val n1 = cn + 1
            val d = n - mean
            val mean1 = mean + d / n1
            st += t -> ((n1, mean1, m2 + d * (n - mean1)))
            (t, day, n, z, math.abs(z) > 2.0)
          }.toSeq
          val adf = alerts.toDF("event_type", "day_epoch", "n_events",
            "z_score", "is_burst")
          val amode =
            if (DeltaLog.versions(alertsTable).isEmpty) "overwrite"
            else "append"
          DeltaTable.write(adf, alertsTable, amode,
            txn = Some((s"burst:$ckptDir", batchId)))
          val sdf = alerts.map(_._1).distinct
            .map(t => (t, st(t)._1, st(t)._2, st(t)._3))
            .toDF("event_type", "n", "mean", "m2")
          if (DeltaLog.versions(stateTable).isEmpty)
            DeltaTable.write(sdf, stateTable, "overwrite",
              txn = Some((s"burststate:$ckptDir", batchId)))
          else
            DeltaTable.merge(spark, stateTable, sdf, Seq("event_type"),
              txn = Some((s"burststate:$ckptDir", batchId)))
        }
        ()
      }
      .start()
  }

  /** Emit-on-finalize sessionization: `flatMapGroupsWithState` with an
    * EVENT-TIME timeout — a session row is emitted exactly once, when
    * the watermark passes its gap horizon (start + events + 30-min gap
    * closed), which is the contract an append-mode downstream (a lake
    * table, a billing job) needs: rows never revise. State per active
    * user is one small SessionState, dropped at timeout — the same
    * bounded-state story as the windowed aggregates. Mid-batch gap
    * splits emit the closed session immediately; the open one rides
    * in state until its own timeout. */
  def sessionizeFinalized(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val closed = Seq.newBuilder[SessionOut]
          if (sorted.isEmpty) {
            // no new data: we are here because the event-time timeout
            // fired — the gap horizon passed, the session is final
            if (state.hasTimedOut && state.exists) {
              val st = state.get
              closed += SessionOut(userId, st.nEvents, st.start, st.lastSeen)
              state.remove()
            }
          } else {
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime / 1000
              cur match {
                case Some(st) if t - st.lastSeen <= 1800 =>
                  cur = Some(SessionState(st.nEvents + 1, st.start, t))
                case Some(st) => // gap crossed within the batch: finalize
                  closed += SessionOut(userId, st.nEvents, st.start, st.lastSeen)
                  cur = Some(SessionState(1, t, t))
                case None =>
                  cur = Some(SessionState(1, t, t))
              }
            }
            state.update(cur.get)
            // finalize when the watermark passes lastSeen + the gap
            state.setTimeoutTimestamp((cur.get.lastSeen + 1800) * 1000)
          }
          closed.result().iterator
      }
  }

  /** Watermarked STREAM-STREAM JOIN: clicks × purchases of the same
    * user within 30 minutes — q54's attribution semantics, computed
    * continuously over two unbounded inputs. Both sides carry
    * watermarks and the join condition bounds the event-time distance,
    * which is exactly what lets Spark expire each side's join state
    * once the watermark passes its horizon — bounded memory at any
    * throughput, the requirement that separates a production
    * stream-stream join from an unbounded-state one. State is
    * hash-partitioned on the join key like every batch shuffle. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    c.join(p,
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Streaming twin of the batch exact-dedup (q30): continuous
    * document ingest that emits each distinct content fingerprint
    * (md5 of whitespace-normalized text) exactly once across ALL
    * micro-batches — `dropDuplicates` keeps one state entry per seen
    * fingerprint in the checkpointed state store, so duplicates
    * arriving in later batches (or after a restart) are suppressed,
    * not re-emitted. State is per-fingerprint and hash-partitioned,
    * the same scaling story as the batch groupBy; a deployment whose
    * dedup horizon is bounded in time would use
    * `dropDuplicatesWithinWatermark` on an event-time column to cap
    * state instead of keeping it forever. */
  def dedupIngestPipeline(spark: SparkSession, srcDir: String,
      outDir: String, ckptDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.Encoders.product[Doc].schema
    spark.readStream.schema(schema).parquet(srcDir)
      .withColumn("fingerprint",
        md5(graft.operators.TextOps.normText(col("text"))))
      .dropDuplicates("fingerprint")
      .select("doc_id", "fingerprint", "lang", "source")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Convenience: run `hourlyRollup` over a bounded events DataFrame
    * through an in-memory sink and return the completed result — used
    * by tests to prove batch/stream agreement on the same input. */
  def runRollupOnce(spark: SparkSession, events: DataFrame,
      sinkName: String): DataFrame = {
    val q = hourlyRollup(events)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    q.stop()
    spark.table(sinkName)
  }

  /** NATIVE session windows over the stream: the EXACT batch q57 plan
    * (`session_window(ts, 30 min)` — EventOps.q57SessionWindow) run
    * under a watermark, which is the whole point of preferring the
    * native operator over hand-rolled state: one formulation serves
    * batch and streaming, with state bounded by the watermark and a
    * session's single finalized row emitted in Append mode once the
    * watermark passes its end. Gap semantics are the ones EventTextSpec
    * pins for batch (touching windows merge, exact-micros gap);
    * StreamingSpec asserts stream == batch q57 on the same rows. */
  def sessionWindowRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("session_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("session_value"))
}
