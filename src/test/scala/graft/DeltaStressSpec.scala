package graft

import org.apache.spark.sql.functions._
import graft.sources.{DeltaLog, DeltaTable}

/** Randomized N-writer torture for the delta layer: appends, DML,
  * compaction, constraint/mapping/CDF/DV upgrades interleaved from
  * concurrent threads across many seeds. Singleton races (two appends,
  * append×compact, …) are each spec'd in DeltaSpec; this suite hunts
  * the COMPOSITIONS no one thought to write down. The assertions are
  * deliberately schedule-independent (outcomes depend on race winners):
  *
  *   1. every surviving version file replays into a snapshot and reads;
  *   2. `tools/delta_validate.py` (independent python, full-history
  *      replay) accepts the table — wire format, add/remove
  *      consistency, constraint/mapping/DV/CDF invariants;
  *   3. appended rows that were never targeted by a delete survive to
  *      the final snapshot (no commit clobbers another's data);
  *   4. versions are gap-free 0..latest — optimistic commits may
  *      retry, but a won version is never overwritten;
  *   5. (the first torture) no orphans: every on-disk file outside
  *      `_delta_log` is referenced by some version — an op that loses
  *      a race, or gives up, deletes what it staged.
  */
class DeltaStressSpec extends SparkSpec {
  import spark.implicits._

  private def runValidator(t: String): Unit = {
    import scala.sys.process._
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code === 0, s"delta_validate.py rejected the tortured table:\n$out")
  }

  test("concurrent-writer torture: randomized interleavings of append/" +
      "delete/update/merge/compact/upgrades validate at every seed") {
    val seeds = 0 until 20
    for (seed <- seeds) {
      val t = java.nio.file.Files
        .createTempDirectory(s"graft-stress-$seed").resolve("t").toString
      // v0: ids 0-9, v = id (every writer's appends use ids >= 1000
      // so deletes targeting >= 1000 cannot hit the base rows)
      DeltaTable.write((0L until 10L).map(i => (i, i)).toDF("id", "v")
        .coalesce(1), t, "overwrite")
      val nWriters = 3
      val opsPerWriter = 4
      // deterministic per-writer schedules drawn up front: the RACE is
      // the random part; the op mix replays identically per seed
      val schedules = (0 until nWriters).map { w =>
        val rnd = new scala.util.Random(seed * 97 + w)
        (0 until opsPerWriter).map(_ => rnd.nextInt(8)).toList
      }
      val appended = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val deletedTargets = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = (0 until nWriters).map { w =>
        Future {
          val rnd = new scala.util.Random(seed * 1009 + w)
          for ((op, i) <- schedules(w).zipWithIndex) {
            val idBase = 1000L + (seed.toLong * 100 + w * 25 + i * 5)
            try op match {
              case 0 | 1 | 2 => // append dominates, like real ingest
                DeltaTable.write(
                  (idBase until idBase + 3).map(id => (id, id))
                    .toDF("id", "v"), t, "append")
                (idBase until idBase + 3).foreach(appended.add)
              case 3 =>
                val victim = 1000L + rnd.nextInt(2000)
                // record the TARGET RANGE before the delete so the
                // conservation check never counts a deleted row
                (victim until victim + 50).foreach(deletedTargets.add)
                DeltaTable.delete(spark, t,
                  col("id").between(victim, victim + 49))
              case 4 =>
                val victim = 1000L + rnd.nextInt(2000)
                (victim until victim + 50).foreach(deletedTargets.add)
                DeltaTable.update(spark, t,
                  col("id").between(victim, victim + 49),
                  Map("v" -> (col("v") + 1000000L)))
              case 5 =>
                DeltaTable.merge(spark, t,
                  (idBase until idBase + 2).map(id => (id, id))
                    .toDF("id", "v"), Seq("id"))
                (idBase until idBase + 2).foreach(appended.add)
              case 6 => DeltaTable.compact(spark, t, maxFileBytes = 1L << 20)
              case 7 => (seed + w + i) % 4 match {
                case 0 => DeltaTable.addCheckConstraint(
                  spark, t, s"nonneg_${w}_$i", "id >= 0")
                case 1 => DeltaTable.enableColumnMapping(t)
                case 2 => DeltaTable.setTableProperty(
                  t, "delta.enableChangeDataFeed", "true")
                case 3 => DeltaTable.enableDeletionVectors(t)
              }
            } catch {
              // an op may exhaust its optimistic-retry budget under
              // contention, or re-add an existing constraint name —
              // losing is fine, CORRUPTING is not (the assertions below)
              case _: IllegalStateException => aborted.incrementAndGet()
              case _: IllegalArgumentException => aborted.incrementAndGet()
            }
          }
        }
      }
      Await.result(Future.sequence(writers), 300.seconds)
      // 4. gap-free versions: optimistic commits never overwrite a win
      val vs = DeltaLog.versions(t)
      assert(vs === (0L until vs.length.toLong),
        s"seed $seed: torn version sequence $vs")
      // 1. every version replays and reads
      for (v <- vs) {
        val snap = DeltaLog.snapshot(t, Some(v))
        assert(snap.version === v)
        DeltaTable.read(spark, t, Some(v)).count() // must not throw
      }
      // 3. conservation: base rows + appends outside any delete/update
      // target range all survive with their original v (updates add
      // 1e6 — untargeted rows must keep v == id)
      import scala.jdk.CollectionConverters._
      val mustSurvive = (0L until 10L).toSet ++
        appended.asScala.toSet -- deletedTargets.asScala.toSet
      val finalRows = DeltaTable.read(spark, t)
        .select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lost = mustSurvive.filterNot(id => finalRows.get(id).contains(id))
      assert(lost.isEmpty,
        s"seed $seed: rows lost or mutated outside any DML target: " +
          s"${lost.toSeq.sorted.take(10)} (aborted ops: ${aborted.get()})")
      // 2. independent wire-format validation of the whole history
      runValidator(t)
      // 5. no orphans: data files, `_change_data/` and deletion-vector
      // sidecars on disk are each referenced by some version's actions
      val pathRef = "\"(?:path|pathOrInlineDv)\":\"([^\"]+)\"".r
      val referenced = vs.flatMap { v =>
        java.nio.file.Files.readAllLines(
          DeltaLog.logDir(t).resolve(f"$v%020d.json")).asScala
          .flatMap(l => pathRef.findAllMatchIn(l).map(_.group(1)))
      }.toSet
      val tableDir = java.nio.file.Paths.get(t)
      val w = java.nio.file.Files.walk(tableDir)
      val onDisk =
        try w.iterator.asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(p => tableDir.relativize(p).toString)
          .filterNot(r => r.startsWith("_delta_log") ||
            r.startsWith(".staging-")).toSet
        finally w.close()
      val orphans = onDisk -- referenced
      assert(orphans.isEmpty,
        s"seed $seed: files no version references: " +
          s"${orphans.toSeq.sorted.take(10)} (aborted ops: ${aborted.get()})")
    }
  }

  /** Generated-partition composition torture: appends that never name
    * the partition column x a partition-MIGRATING update (the SET moves
    * ts, the engine recomputes event_date and relocates the rows) x
    * partition-scoped OPTIMIZE WHERE x shallow clones taken mid-race x
    * feature upgrades. The schedule-independent invariants:
    *
    *   1. versions gap-free, every version replays and reads;
    *   2. the GENERATION invariant holds at EVERY version — no
    *      committed snapshot ever contains a row whose event_date
    *      diverges from CAST(ts AS DATE);
    *   3. no append is ever lost (updates move rows, never drop them);
    *   4. the independent validator (invariant 15 included) accepts
    *      the final history, and every mid-race clone still reads.
    */
  test("generated-partition torture: appends x migrating update x " +
      "compactWhere x clone validate at every seed") {
    import org.apache.spark.sql.sources.EqualTo
    for (seed <- 0 until 10) {
      val base = java.nio.file.Files.createTempDirectory(s"graft-genstress-$seed")
      val t = base.resolve("t").toString
      def mkTs(day: Int, id: Long) = new java.sql.Timestamp(
        java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00").getTime +
          (id % 86400L) * 1000L)
      DeltaTable.write(
        (0L until 10L).map(i => (i, mkTs(1 + (i % 3).toInt, i)))
          .toDF("id", "ts").coalesce(1),
        t, "overwrite", partitionBy = Seq("event_date"),
        generatedColumns = Map("event_date" -> "CAST(ts AS DATE)"))
      val schedules = (0 until 3).map { w =>
        val rnd = new scala.util.Random(seed * 577 + w)
        (0 until 4).map(_ => rnd.nextInt(6)).toList
      }
      val appended = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val clones = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = (0 until 3).map { w =>
        Future {
          val rnd = new scala.util.Random(seed * 7919 + w)
          for ((op, i) <- schedules(w).zipWithIndex) {
            val idBase = 1000L + (seed.toLong * 100 + w * 25 + i * 5)
            try op match {
              case 0 | 1 => // append WITHOUT the generated column
                DeltaTable.write(
                  (idBase until idBase + 3)
                    .map(id => (id, mkTs(1 + rnd.nextInt(5), id)))
                    .toDF("id", "ts"), t, "append")
                (idBase until idBase + 3).foreach(appended.add)
              case 2 => // partition-migrating update: +2 days
                val victim = 1000L + rnd.nextInt(2000)
                DeltaTable.update(spark, t,
                  col("id").between(victim, victim + 49),
                  Map("ts" -> (col("ts") + expr("INTERVAL 2 DAYS"))))
              case 3 =>
                DeltaTable.compactWhere(spark, t, Seq(EqualTo("event_date",
                  f"2024-01-${1 + rnd.nextInt(5)}%02d")))
              case 4 =>
                val c = base.resolve(s"clone-$w-$i").toString
                DeltaTable.shallowClone(t, c)
                clones.add(c)
              case 5 => if ((seed + w + i) % 2 == 0)
                DeltaTable.setTableProperty(
                  t, "delta.enableChangeDataFeed", "true")
                else DeltaTable.enableDeletionVectors(t)
            } catch {
              case _: IllegalStateException => aborted.incrementAndGet()
              case _: IllegalArgumentException => aborted.incrementAndGet()
            }
          }
        }
      }
      Await.result(Future.sequence(writers), 300.seconds)
      val vs = DeltaLog.versions(t)
      assert(vs === (0L until vs.length.toLong),
        s"seed $seed: torn version sequence $vs")
      for (v <- vs) {
        val snap = DeltaLog.snapshot(t, Some(v))
        assert(snap.version === v)
        // the generation invariant holds at EVERY committed version
        val bad = DeltaTable.read(spark, t, Some(v))
          .filter(!($"event_date" <=>
            org.apache.spark.sql.functions.to_date($"ts"))).count()
        assert(bad === 0L,
          s"seed $seed v$v: $bad rows diverge from the generation expr")
      }
      // no append lost (updates migrate rows, never drop them)
      import scala.jdk.CollectionConverters._
      val finalIds = DeltaTable.read(spark, t)
        .select("id").as[Long].collect().toSet
      val lost = appended.asScala.toSet -- finalIds
      assert(lost.isEmpty,
        s"seed $seed: appended rows lost: ${lost.toSeq.sorted.take(10)} " +
          s"(aborted ops: ${aborted.get()})")
      // every mid-race clone still reads (its snapshot is immutable)
      clones.asScala.foreach(c =>
        assert(DeltaTable.read(spark, c).count() >= 10))
      runValidator(t)
    }
  }

  /** The append-only gate under contention: writers toggle
    * `delta.appendOnly` while others delete/update/append/compact.
    * Enforcement is race-safe through the optimistic commit — a DML
    * that derived its commit before the property landed LOSES the
    * version race, re-snapshots, and the gate fires on the retry — so
    * the wire-format invariant holds schedule-independently: no
    * version whose PREDECESSOR config says appendOnly=true may carry a
    * data-changing remove (delta_validate.py invariant 14, asserted by
    * the validator run below for every seed). */
  test("append-only toggling races DML: the gate holds at every seed") {
    for (seed <- 0 until 10) {
      val t = java.nio.file.Files
        .createTempDirectory(s"graft-aostress-$seed").resolve("t").toString
      DeltaTable.write((0L until 10L).map(i => (i, i)).toDF("id", "v")
        .coalesce(1), t, "overwrite")
      val schedules = (0 until 3).map { w =>
        val rnd = new scala.util.Random(seed * 131 + w)
        (0 until 4).map(_ => rnd.nextInt(8)).toList
      }
      val appended = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val dmlTargets = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val refused = new java.util.concurrent.atomic.AtomicInteger(0)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = (0 until 3).map { w =>
        Future {
          val rnd = new scala.util.Random(seed * 2017 + w)
          for ((op, i) <- schedules(w).zipWithIndex) {
            val idBase = 1000L + (seed.toLong * 100 + w * 25 + i * 5)
            try op match {
              case 0 | 1 | 2 =>
                DeltaTable.write(
                  (idBase until idBase + 3).map(id => (id, id))
                    .toDF("id", "v"), t, "append")
                (idBase until idBase + 3).foreach(appended.add)
              case 3 =>
                val victim = 1000L + rnd.nextInt(2000)
                (victim until victim + 50).foreach(dmlTargets.add)
                DeltaTable.delete(spark, t,
                  col("id").between(victim, victim + 49))
              case 4 =>
                val victim = 1000L + rnd.nextInt(2000)
                (victim until victim + 50).foreach(dmlTargets.add)
                DeltaTable.update(spark, t,
                  col("id").between(victim, victim + 49),
                  Map("v" -> (col("v") + 1000000L)))
              case 5 => DeltaTable.setTableProperty(t, "delta.appendOnly", "true")
              case 6 => DeltaTable.setTableProperty(t, "delta.appendOnly", "false")
              case 7 => DeltaTable.compact(spark, t, maxFileBytes = 1L << 20)
            } catch {
              case _: IllegalStateException => ()
              // the append-only refusal — losing is the contract;
              // corrupting (caught by the validator below) is not
              case _: UnsupportedOperationException => refused.incrementAndGet()
            }
          }
        }
      }
      Await.result(Future.sequence(writers), 300.seconds)
      val vs = DeltaLog.versions(t)
      assert(vs === (0L until vs.length.toLong),
        s"seed $seed: torn version sequence $vs")
      for (v <- vs) DeltaTable.read(spark, t, Some(v)).count()
      import scala.jdk.CollectionConverters._
      val mustSurvive = (0L until 10L).toSet ++
        appended.asScala.toSet -- dmlTargets.asScala.toSet
      val finalRows = DeltaTable.read(spark, t)
        .select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lost = mustSurvive.filterNot(id => finalRows.get(id).contains(id))
      assert(lost.isEmpty,
        s"seed $seed: rows lost outside any DML target: " +
          s"${lost.toSeq.sorted.take(10)} (refused ops: ${refused.get()})")
      runValidator(t)
    }
  }

  /** Round-9 third-wave composition torture: ROW TRACKING × in-commit
    * timestamps × deletion vectors × type widening under 3 racing
    * writers. Ops: appends, vectored range-deletes, compactions (which
    * must MATERIALIZE ids), and a widening ALTER. Schedule-independent
    * invariants:
    *
    *   1. versions gap-free, every version replays and reads;
    *   2. at EVERY committed version, no two live rows share a row id
    *      (racing allocators must never collide, compaction must never
    *      duplicate);
    *   3. a surviving row's id is CONSTANT across every version it
    *      appears in (appends/deletes/compacts never renumber — the
    *      identity promise under maintenance);
    *   4. in-commit timestamps strictly increase across the whole
    *      version sequence;
    *   5. the independent validator (invariants 17/18/19 included)
    *      accepts the final history.
    */
  test("row-tracking torture: appends x vectored deletes x compact x " +
      "widen under racing writers keep ids unique and stable") {
    for (seed <- 0 until 10) {
      val t = java.nio.file.Files
        .createTempDirectory(s"graft-rtstress-$seed").resolve("t").toString
      DeltaTable.write((0L until 10L).map(i => (i, i.toInt)).toDF("id", "v")
        .coalesce(1), t, "overwrite")
      DeltaTable.enableRowTracking(t)
      DeltaTable.enableInCommitTimestamps(t)
      DeltaTable.enableDeletionVectors(t)
      val schedules = (0 until 3).map { w =>
        val rnd = new scala.util.Random(seed * 131 + w)
        (0 until 4).map(_ => rnd.nextInt(5)).toList
      }
      // NO exemptions (round 10): even when a half-dead file falls to
      // the DELETE's REWRITE heuristic, the surviving rows are merely
      // copied and keep their ids (materialized into the new file) —
      // every live row's id must be stable at every version
      val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = (0 until 3).map { w =>
        Future {
          val rnd = new scala.util.Random(seed * 4241 + w)
          for ((op, i) <- schedules(w).zipWithIndex) {
            val idBase = 1000L + (seed.toLong * 100 + w * 25 + i * 5)
            try op match {
              case 0 | 1 =>
                DeltaTable.write((idBase until idBase + 3)
                  .map(id => (id, id.toInt)).toDF("id", "v")
                  .coalesce(1), t, "append")
              case 2 =>
                val victim = 1000L + rnd.nextInt(2000)
                DeltaTable.delete(spark, t,
                  col("id").between(victim, victim + 20))
              case 3 => DeltaTable.compact(spark, t, maxFileBytes = 1L << 20)
              case 4 => DeltaTable.alterColumnType(t, "v",
                org.apache.spark.sql.types.LongType)
            } catch {
              case _: IllegalStateException => aborted.incrementAndGet()
              case _: IllegalArgumentException => aborted.incrementAndGet()
              // alterColumnType after a racer already widened: typed
              // rejection (long->long is not a widening) — losing is fine
              case _: graft.sources.SchemaEvolutionException =>
                aborted.incrementAndGet()
            }
          }
        }
      }
      Await.result(Future.sequence(writers), 300.seconds)
      val vs = DeltaLog.versions(t)
      assert(vs === (0L until vs.length.toLong),
        s"seed $seed: torn version sequence $vs")
      // 2+3: per-version id uniqueness, and id stability per business key
      val seen = scala.collection.mutable.Map[Long, Long]() // id -> _row_id
      for (v <- vs.drop(1)) { // v0 predates enablement
        val rows = DeltaTable.readWithRowIds(spark, t, Some(v))
          .select($"id", $"_row_id").as[(Long, Long)].collect()
        assert(rows.map(_._2).distinct.length === rows.length,
          s"seed $seed v$v: duplicate row ids: ${rows.sortBy(_._2).toSeq}")
        for ((bk, rid) <- rows)
          seen.get(bk) match {
            case Some(prev) => assert(prev === rid,
              s"seed $seed v$v: row $bk renumbered $prev -> $rid")
            case None => seen(bk) = rid
          }
      }
      // 4: ICT strictly monotone over the stamped suffix
      val icts = vs.flatMap(v => DeltaLog.inCommitTimestamp(t, v))
      assert(icts.length >= vs.length - 2,
        s"seed $seed: unstamped post-enablement commits")
      assert(icts.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
        s"seed $seed: non-monotone ICTs $icts")
      runValidator(t)
    }
  }

  test("COPY INTO race: concurrent loads of one landing zone land " +
      "every file exactly once") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    for (seed <- 1 to 3) {
      val t = java.nio.file.Files
        .createTempDirectory(s"graft-copy-race-$seed").resolve("t").toString
      val src = java.nio.file.Files
        .createTempDirectory(s"graft-copy-race-src-$seed").toString
      DeltaTable.write(Seq.empty[(Long, Long)].toDF("id", "v"),
        t, "overwrite")
      // 4 source files x 5 rows, distinct id ranges
      for (f <- 0 until 4)
        (f * 5L until f * 5L + 5).map(id => (id, id)).toDF("id", "v")
          .coalesce(1).write.parquet(s"$src/b$f")
      // 4 racers copy the SAME zone concurrently; the ledger + commit
      // conflict detection must make the union land exactly once
      val loaded = Await.result(Future.sequence((0 until 4).map(_ =>
        Future(DeltaTable.copyInto(spark, t, src)._2))), 300.seconds).sum
      val rows = DeltaTable.read(spark, t).orderBy("id")
        .select("id").as[Long].collect().toSeq
      assert(rows === (0L until 20L),
        s"seed $seed: every row exactly once, got ${rows.length}: $rows")
      assert(loaded === 4,
        s"seed $seed: the 4 files must load exactly 4 times total " +
          s"across all racers, got $loaded")
      // ledger complete; a later re-run is a no-op
      assert(DeltaLog.snapshot(t).domainMetadata.keys
        .count(_.startsWith("graft.copyInto.")) === 4)
      assert(DeltaTable.copyInto(spark, t, src)._2 === 0)
      // no orphaned staged bytes beyond the committed adds (losers
      // must clean up): every on-disk parquet is a committed add
      val tableDir = java.nio.file.Paths.get(t)
      val w = java.nio.file.Files.walk(tableDir)
      val onDisk =
        try {
          import scala.jdk.CollectionConverters._
          w.iterator.asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(p => tableDir.relativize(p).toString)
            .filterNot(r => r.startsWith("_delta_log") ||
              r.startsWith(".staging-")).toSet
        } finally w.close()
      assert(onDisk === DeltaLog.snapshot(t).files.map(_.path).toSet,
        s"seed $seed: orphaned staged files left behind")
    }
  }
}
