package graft.perfbench

import graft.sources.{DeltaLog, DeltaTable}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

private object Inputs {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  def json(path: String): AnyRef =
    mapper.readValue(Paths.get(path).toFile, classOf[AnyRef])

  def copyFiles(from: String, to: Path, names: Seq[String]): Unit = {
    Files.createDirectories(to)
    names.foreach(n => Files.copy(Paths.get(from, n), to.resolve(n)))
  }

  def bytesUnder(root: String): Long = Main.files(Paths.get(root)).values.sum
}

/** Tracks the bytes written under a set of directories: after each op,
  * files that are new or changed size since the last look. */
private final class WriteMeter(roots: => Seq[String]) {
  private var seen = Map.empty[String, Long]
  def reset(): Unit = seen = snapshot
  private def snapshot: Map[String, Long] =
    roots.flatMap(r => Main.files(Paths.get(r)).map { case (p, s) =>
      s"$r/$p" -> s }).toMap
  /** Bytes written since the last call, by kind of file. */
  def delta(): Map[String, Long] = {
    val now = snapshot
    val fresh = now.filter { case (p, s) => !seen.get(p).contains(s) }
    seen = now
    fresh.toSeq.groupMapReduce { case (p, _) =>
      if (!p.contains("/_delta_log/")) "data_bytes"
      else if (p.contains(".checkpoint")) "checkpoint_bytes"
      else if (p.endsWith(".crc")) "crc_bytes"
      else "log_bytes"
    }(_._2)(_ + _)
  }
}

/** query_mix: a seeded order of read-only queries over the generated
  * fixtures, each fully materialized through the noop sink. */
final class QueryMix(spark: SparkSession, inputs: String, work: Path,
    tr: Tracer) extends Workload {
  private val names: IndexedSeq[String] =
    Inputs.json(s"$inputs/queries.json").asInstanceOf[java.util.List[String]]
      .asScala.toIndexedSeq
  private val all = graft.SparkEntry.queries
  require(names.forall(all.contains),
    s"unknown queries: ${names.filterNot(all.contains).mkString(",")}")
  private val module: Map[String, String] = {
    import graft.operators._
    Seq("Relational" -> Relational.queries, "EventOps" -> EventOps.queries,
      "TextOps" -> TextOps.queries, "DedupOps" -> DedupOps.queries,
      "SimilarityOps" -> SimilarityOps.queries,
      "MultimodalOps" -> MultimodalOps.queries)
      .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  }
  private val tables = graft.Tables.names.map(_ + ".parquet")
  private var dir: String = _

  def cycle: Int = names.size
  def maxOps: Int = Int.MaxValue
  def name(i: Int): String = names(i % names.size)
  def kind(i: Int): String = "read"

  /** A fresh copy of the fixtures, their footers read. */
  def prepare(rep: Int): Unit = {
    val d = work.resolve(s"fixtures-$rep")
    Inputs.copyFiles(inputs, d, tables)
    dir = d.toString
    graft.Tables.names.foreach(graft.Tables.rowCount(spark, dir, _))
  }

  /** Every query once: codegen compiled, staged indexes built. */
  def warm(): Unit = for (n <- names)
    all(n)(spark, dir).write.format("noop").mode("overwrite").save()

  def run(i: Int): Map[String, Any] = {
    val n = name(i)
    val df = tr.span("operators.build")(all(n)(spark, dir))
    tr.span("operators.exec")(
      df.write.format("noop").mode("overwrite").save())
    Map("module" -> module.getOrElse(n, "other"))
  }

  def verify(i: Int): (Boolean, Map[String, Any]) = (true, Map.empty)

  /** Every query's result once more, as parquet, plus its oracle SQL:
    * run.py compares them in DuckDB. */
  def finish(): Map[String, Any] = {
    val out = work.resolve("check")
    names.foreach(n => all(n)(spark, dir).coalesce(1).write
      .mode("overwrite").parquet(out.resolve(n).toString))
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      Json(names.flatMap(n => oracles.get(n).map(n -> _)).toMap))
    Map("check_dir" -> out.toString, "check_failures" -> Seq.empty[String])
  }
}

/** delta_txn: one Delta table and a seeded script of appends, MERGE
  * upserts, UPDATEs, DELETEs, compactions and reads of the latest or an
  * earlier version. The benchmark keeps an exact key -> row model of
  * every version and checks each read against it. */
final class DeltaTxn(spark: SparkSession, inputs: String, work: Path,
    tr: Tracer) extends Workload {
  private type R = (Int, Double, Long, String) // g, v, c, s
  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("g", IntegerType), StructField("v", DoubleType),
    StructField("c", LongType), StructField("s", StringType)))
  private val script: IndexedSeq[Map[String, Any]] =
    Inputs.json(s"$inputs/ops.json")
      .asInstanceOf[java.util.List[java.util.Map[String, Any]]]
      .asScala.map(_.asScala.toMap).toIndexedSeq
  private def rowsOf(df: DataFrame): Array[Row] =
    df.select("k", "g", "v", "c", "s").collect()
  private val initial = rowsOf(spark.read.parquet(s"$inputs/initial.parquet"))
  private val opRows: Map[Int, Array[Row]] = {
    val df = spark.read.parquet(s"$inputs/op_rows.parquet")
    df.select("op", "k", "g", "v", "c", "s").collect()
      .groupBy(_.getInt(0)).map { case (k, rs) =>
        k -> rs.map(r => Row(r.getLong(1), r.getInt(2), r.getDouble(3),
          r.getLong(4), r.getString(5))) }
  }
  /** Ops in one block of the script: the full mix. */
  private val Block = 10
  /** Script ops run during set-up: two blocks, so the table writes its
    * first checkpoint before the timed ops. */
  private val Warm = 2 * Block

  private var table: String = _
  private var model = Map.empty[Long, R]
  private var firstVersion = 0L
  private var version = 0L
  private var lastVersion = 0L
  private val history = mutable.Map.empty[Long, Map[Long, R]]
  private val readResult = mutable.Map.empty[Int, (Long, Array[Row])]
  private val changed = mutable.Map.empty[Int, Long]
  private val meter = new WriteMeter(Seq(table))

  def cycle: Int = Block
  def maxOps: Int = script.size - Warm
  def name(i: Int): String = script(Warm + i)("kind").toString
  def kind(i: Int): String =
    if (Set("read", "timetravel")(name(i))) "read" else "write"

  private def df(rows: Array[Row]): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, schema)
  private def toModel(rows: Array[Row]): Map[Long, R] = rows.map(r =>
    r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getLong(3),
      r.getString(4)))).toMap
  /** Bytes of a row's values: k, g, v, c (28) and s. */
  private def rowBytes(r: R): Long = 28L + r._4.length
  private def int(op: Map[String, Any], k: String): Int =
    op(k).asInstanceOf[Number].intValue

  def prepare(rep: Int): Unit = {
    table = work.resolve(s"txn-$rep").toString
    version = DeltaTable.write(df(initial), table, "overwrite")
    firstVersion = version
    model = toModel(initial)
    history.clear()
    history(version) = model
  }

  /** The first blocks of the script. */
  def warm(): Unit = {
    (0 until Warm).foreach { j =>
      exec(j, -1)
      require(check(j), s"warm-up op $j returned a wrong result")
    }
    meter.reset()
    lastVersion = version
  }

  def run(i: Int): Map[String, Any] = {
    exec(Warm + i, i)
    Map.empty
  }

  /** Run script op `j` (loop op `i`, -1 in set-up) on table and model. */
  private def exec(j: Int, i: Int): Unit = {
    val op = script(j)
    op("kind") match {
      case "append" =>
        val rows = opRows(j)
        version = tr.span("delta.append")(
          DeltaTable.write(df(rows), table, "append"))
        val in = toModel(rows)
        model ++= in
        changed(j) = in.values.map(rowBytes).sum
      case "merge" =>
        val rows = opRows(j)
        version = tr.span("delta.merge")(
          DeltaTable.merge(spark, table, df(rows), Seq("k")))
        val in = toModel(rows)
        model ++= in
        changed(j) = in.values.map(rowBytes).sum
      case "update" =>
        val (m, r) = (int(op, "m"), int(op, "r"))
        val dv = op("dv").asInstanceOf[Number].doubleValue
        version = tr.span("delta.update")(DeltaTable.update(spark, table,
          pmod(col("k"), lit(m.toLong)) === lit(r.toLong),
          Map("v" -> (col("v") + lit(dv)), "c" -> (col("c") + lit(1L)))))
        val hit = model.filter(_._1 % m == r).map { case (k, (g, v, c, s)) =>
          k -> ((g, v + dv, c + 1, s)) }
        model ++= hit
        changed(j) = hit.values.map(rowBytes).sum
      case "delete" =>
        val (m, r) = (int(op, "m"), int(op, "r"))
        version = tr.span("delta.delete")(DeltaTable.delete(spark, table,
          pmod(col("k"), lit(m.toLong)) === lit(r.toLong)))
        val gone = model.filter(_._1 % m == r)
        model --= gone.keys
        changed(j) = gone.values.map(rowBytes).sum
      case "compact" =>
        version = tr.span("delta.compact")(DeltaTable.compact(spark, table))
      case k @ ("read" | "timetravel") =>
        val (lo, hi) = (int(op, "lo").toLong, int(op, "hi").toLong)
        val at =
          if (k == "read") None
          else Some(math.max(firstVersion, version - int(op, "back")))
        val rows = tr.span(s"delta.$k") {
          val d = DeltaTable.read(spark, table, at,
            Seq(GreaterThanOrEqual("k", lo), LessThan("k", hi)))
            .where(col("k") >= lo && col("k") < hi)
            .select("k", "g", "v", "c", "s")
          if (i >= 0) tr.watch(d.queryExecution, i)
          d.collect()
        }
        readResult(j) = (at.getOrElse(version), rows)
    }
    history(version) = model
  }

  /** A read's rows equal the model of the version it read. */
  private def check(j: Int): Boolean = readResult.remove(j) match {
    case None => true
    case Some((v, rows)) =>
      val op = script(j)
      val (lo, hi) = (int(op, "lo").toLong, int(op, "hi").toLong)
      val want = history(v).filter { case (k, _) => k >= lo && k < hi }
      rows.length == want.size && toModel(rows) == want
  }

  def verify(i: Int): (Boolean, Map[String, Any]) = {
    val j = Warm + i
    val committed = version > lastVersion
    lastVersion = version
    val readV = readResult.get(j).map(_._1)
    val rowsOut = readResult.get(j).map(_._2.length).getOrElse(0)
    val ok = check(j)
    val attrs = mutable.Map[String, Any]("committed" -> committed,
      "changed_bytes" -> changed.getOrElse(j, 0L)) ++ meter.delta()
    if (tr.enabled) {
      val t0 = System.nanoTime()
      DeltaLog.snapshot(table)
      attrs("deltalog_snapshot_s") = (System.nanoTime() - t0) / 1e9
      val cp = DeltaLog.checkpointVersions(table).filter(_ <= version)
      attrs("versions_replayed") = version - cp.maxOption.getOrElse(-1L)
      attrs("checkpoint") = cp.contains(version)
      readV.foreach { v =>
        attrs("live_files") = DeltaLog.snapshot(table, Some(v)).files.size
        attrs("rows_out") = rowsOut
      }
      if (committed) {
        val log = DeltaLog.logDir(table).resolve(f"$version%020d.json")
        val lines = Files.readAllLines(log).asScala
        val adds = lines.filter(_.startsWith("{\"add\""))
        attrs("files_added") = adds.size
        attrs("files_removed") = lines.count(_.startsWith("{\"remove\""))
        attrs("added_bytes") = adds.map(l => "\"size\":(\\d+)".r
          .findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(0L)).sum
      }
    }
    (ok, attrs.toMap)
  }

  def finish(): Map[String, Any] = {
    val rows = rowsOf(DeltaTable.read(spark, table))
    val fails = if (toModel(rows) == model && rows.length == model.size)
      Nil else Seq(s"final table differs from the model " +
        s"(${rows.length} rows, model ${model.size})")
    val snap = DeltaLog.snapshot(table)
    val logBytes = Main.files(DeltaLog.logDir(table))
    Map("check_failures" -> fails, "table" -> table,
      "disk_bytes" -> Inputs.bytesUnder(table),
      "live_data_bytes" -> snap.files.map(_.size).sum,
      "checkpoint_bytes" -> logBytes.collect {
        case (p, s) if p.contains(".checkpoint") => s }.sum,
      "rows" -> rows.length)
  }
}

/** dedup_ingest: StreamingOps.nearDupIngestPipeline, driven as
  * StreamRehearsal drives it. Before each op the loop asks the engine's
  * lineage cue (StreamingOps.shouldCompact at its default maxDirs). When
  * the cue fires, the op stops the stream, folds the staged state with
  * StreamingOps.maybeCompactStagedState (default maxDirs) and restarts
  * it; otherwise it appends the next seeded batch to the source table
  * and drains the stream. */
final class DedupIngest(spark: SparkSession, inputs: String, work: Path,
    tr: Tracer) extends Workload {
  private val batches: Map[Int, Array[Row]] =
    spark.read.parquet(s"$inputs/batches.parquet")
      .select("batch", "doc_id", "text").collect()
      .groupBy(_.getInt(0)).map { case (b, rs) =>
        b -> rs.map(r => Row(r.getLong(1), r.getString(2))) }
  private val planted: Seq[(Long, Long)] =
    Inputs.json(s"$inputs/planted.json")
      .asInstanceOf[java.util.List[java.util.List[Number]]].asScala
      .map(p => (p.get(0).longValue, p.get(1).longValue)).toSeq
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  /** One fold and the batches between two folds. A fold leaves two
    * staged dirs (the compact dir and the newest batch); each batch adds
    * one, and the default cue (more than 8 dirs) fires after 7 batches. */
  private val Cycle = 8
  /** Batches the warm-up ingests before its fold. */
  private val Warm = 2
  /** Text that shares no token with any document: a version 0 for the
    * stream source that can never pair. */
  private val sentinel = (0 until 35).map(i => s"sentineltok$i").mkString(" ")

  private var base: Path = _
  private def p(s: String): String = base.resolve(s).toString
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var nextBatch = 0
  private var lastBatch = -1
  private var pairVersion = -1L
  private val names = mutable.Map.empty[Int, String]
  private val meter = new WriteMeter(Seq(p("src"), p("pairs")))

  def cycle: Int = Cycle
  def maxOps: Int = (batches.size - Warm) / (Cycle - 1) * Cycle
  def name(i: Int): String = names.getOrElse(i, "batch")
  def kind(i: Int): String = "write"

  private def start(): Unit =
    query = StreamingOps.nearDupIngestPipeline(spark, p("seed"), p("src"),
      p("pairs"), p("ckpt"), p("stage"))

  /** Seed corpus and its staged shingle index, and the source table. */
  def prepare(rep: Int): Unit = {
    base = work.resolve(s"dedup-$rep")
    Inputs.copyFiles(inputs, base.resolve("seed"), Seq("documents.parquet"))
    graft.operators.DedupOps.stagedShingleArrays(spark, p("seed")).count()
    DeltaTable.write(spark.createDataFrame(
      Seq(Row(-1L, sentinel)).asJava, schema), p("src"), "overwrite")
  }

  /** The stream started, the first batches, then one fold: the staged
    * state is then where every fold of the timed loop leaves it (a
    * compact dir and the newest batch), and the fold's code paths are
    * compiled. */
  def warm(): Unit = {
    start()
    query.processAllAvailable()
    (0 until Warm).foreach(_ => ingest())
    val folded = fold(StreamingOps.compactStagedState(spark, p("stage")))
    require(folded("compacted") == true, "warm-up fold did not fold")
    pairVersion = DeltaLog.versions(p("pairs")).max
    meter.reset()
  }

  /** Stop the stream, run `f` on the staged state, restart and drain. */
  private def fold(f: => Option[Long]): Map[String, Any] =
    tr.span("stream.compact") {
      query.stop()
      val folded = f
      start()
      query.processAllAvailable()
      Map("compacted" -> folded.isDefined)
    }

  private def ingest(): Map[String, Any] = {
    val b = nextBatch
    nextBatch += 1
    tr.span("stream.append")(DeltaTable.write(
      spark.createDataFrame(batches(b).toSeq.asJava, schema), p("src"),
      "append"))
    val t0 = System.nanoTime()
    tr.span("stream.drain")(query.processAllAvailable())
    lastBatch = b
    Map("drain_s" -> (System.nanoTime() - t0) / 1e9,
      "changed_bytes" -> batches(b).map(r => 8L + r.getString(1).length).sum)
  }

  def run(i: Int): Map[String, Any] =
    if (StreamingOps.shouldCompact(p("stage"))) {
      names(i) = "compact"
      fold(StreamingOps.maybeCompactStagedState(spark, p("stage")))
    } else {
      names(i) = "batch"
      ingest()
    }

  /** Exactly one sink commit per batch, none per compaction. */
  def verify(i: Int): (Boolean, Map[String, Any]) = {
    val v = DeltaLog.versions(p("pairs")).max
    val commits = v - pairVersion
    pairVersion = v
    if (name(i) == "compact")
      return (commits == 0, Map("sink_commits_compact" -> commits,
        "staged_dirs" -> stagedDirs))
    val pairsAdded = DeltaLog.versionChanges(p("pairs"), v).adds
      .map(_.stats.get("n").map(_.toLong).getOrElse(0L)).sum
    (commits == 1, Map[String, Any]("sink_commits" -> commits,
      "pairs_added" -> pairsAdded,
      "pair_bytes" -> pairsAdded * 24L,
      "staged_bytes" -> Inputs.bytesUnder(p("stage")),
      "staged_dirs" -> stagedDirs) ++ meter.delta())
  }

  /** Staged batch and compact dirs: the lineage a micro-batch reads. */
  private def stagedDirs: Int = {
    val l = Files.list(Paths.get(p("stage")))
    try l.iterator.asScala.map(_.getFileName.toString).count(n =>
      (n.startsWith("batch-") || n.startsWith("compact-")) &&
        !n.endsWith(".tmp"))
    finally l.close()
  }

  /** No duplicate pairs, and every planted near-copy of the ingested
    * batches paired with its original. */
  def finish(): Map[String, Any] = {
    query.stop()
    val pairs = DeltaTable.read(spark, p("pairs"))
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dups = pairs.length - pairs.distinct.length
    val found = pairs.toSet
    val due = planted.filter { case (copy, _) =>
      copy / 10000000L - 1 <= lastBatch }
    val missed = due.filterNot { case (c, o) =>
      found((math.min(c, o), math.max(c, o))) }
    val fails =
      (if (dups > 0) Seq(s"$dups duplicate pairs") else Nil) ++
        (if (missed.nonEmpty) Seq(s"${missed.size} of ${due.size} planted " +
          s"near-copies not paired, e.g. ${missed.take(3).mkString(",")}")
        else Nil)
    val tables = Seq(p("src"), p("pairs"))
    Map("check_failures" -> fails, "pairs" -> pairs.length,
      "batches_ingested" -> (lastBatch + 1),
      "planted_checked" -> due.size,
      "disk_bytes" -> tables.map(Inputs.bytesUnder).sum,
      "live_data_bytes" -> tables.map(t =>
        DeltaLog.snapshot(t).files.map(_.size).sum).sum,
      "staged_bytes" -> Inputs.bytesUnder(p("stage")))
  }
}
