package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A workload of the closed loop: one client thread runs op 0, 1, 2, ...
  * each only after the previous one returned. */
trait Workload {
  /** Ops per cycle: the loop stops only at a cycle boundary, so every
    * run measures whole cycles of the same mix. */
  def cycle: Int
  /** Ops the generated inputs support. */
  def maxOps: Int
  /** Build a fresh instance from the inputs (tables, indexes, streams);
    * called several times, the last instance is the one measured. */
  def prepare(rep: Int): Unit
  /** Warm the last instance: compile codegen, fill caches. */
  def warm(): Unit
  def name(i: Int): String
  def kind(i: Int): String
  /** The timed op; throws if the engine fails. Returns attributes. */
  def run(i: Int): Map[String, Any]
  /** Untimed, after the op: false if its result was wrong, and the
    * op's counters read from outside (bytes written, log state). */
  def verify(i: Int): (Boolean, Map[String, Any])
  /** Untimed end-of-run checks and workload metrics. The key
    * "check_failures" holds a Seq[String] of failed checks. */
  def finish(): Map[String, Any]
}

/** Benchmark JVM: runs one workload and writes raw results (ops, spans,
  * counters, set-up times) as JSON to `--out`. `run.py` turns them
  * into metrics.
  *
  * Args: --workload W --inputs DIR --work DIR --out FILE --seconds S
  *   --trace 0|1 --cpus N --reps R */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val work = Paths.get(a("work"))
    val cpus = a("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    val sessionReadyMs = System.currentTimeMillis()

    val tr = new Tracer(trace)
    if (trace) {
      spark.sparkContext.addSparkListener(tr.listener)
      spark.listenerManager.register(tr.qeListener)
    }
    val inputs = a("inputs")
    val w: Workload = a("workload") match {
      case "query_mix" => new QueryMix(spark, inputs, work, tr)
      case "delta_txn" => new DeltaTxn(spark, inputs, work, tr)
      case "dedup_ingest" => new DedupIngest(spark, inputs, work, tr)
    }
    val prepareSecs = (1 to a("reps").toInt).map(r => secsOf(w.prepare(r)))
    val warmSecs = secsOf(w.warm())

    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ops = mutable.ArrayBuffer.empty[Op]
    var busy = 0.0
    var i = 0
    while ((busy < seconds || i % w.cycle != 0) && i < w.maxOps) {
      val b0 = graft.operators.StagedCache.buildCount
      val c0 = codegenClasses
      val g0 = gcMs
      val cpuOp0 = os.getProcessCpuTime
      val steal0 = stealTicks
      tr.beginOp(i)
      if (trace) spark.sparkContext.setLocalProperty(tr.OpProperty, i.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (ok, attrs) =
        try (true, tr.span("op")(w.run(i)))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] op $i ${w.name(i)} failed: $e")
            (false, Map.empty[String, Any])
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpuOp = (os.getProcessCpuTime - cpuOp0) / 1e9
      val steal = stealTicks - steal0
      tr.endOp()
      if (trace) {
        spark.sparkContext.setLocalProperty(tr.OpProperty, null)
        tr.recordInterval(i, startMs, System.currentTimeMillis())
      }
      busy += secs
      val (right, seen) = if (ok) w.verify(i) else (false, Map.empty)
      ops += Op(i, w.name(i), w.kind(i), startMs, secs, right,
        attrs ++ seen ++ Map(
          "staged_builds" -> (graft.operators.StagedCache.buildCount - b0),
          "codegen_classes" -> (codegenClasses - c0),
          "gc_s" -> (gcMs - g0) / 1e3, "cpu_s" -> cpuOp,
          "steal_ticks" -> steal))
      i += 1
    }
    val peakRssMb = vmHwmKb / 1024.0
    val retainedHeapMb = retainedHeapBytes / (1024.0 * 1024.0)
    if (trace) awaitListeners(tr)
    var fin = Map.empty[String, Any]
    val finishSecs = secsOf { fin = w.finish() }

    val out = Map[String, Any](
      "session_ready_ms" -> sessionReadyMs,
      "prepare_s" -> prepareSecs,
      "warm_s" -> warmSecs,
      "finish_s" -> finishSecs,
      "busy_s" -> busy,
      "cycle" -> w.cycle,
      "peak_rss_mb" -> peakRssMb,
      "retained_heap_mb" -> retainedHeapMb,
      "ops" -> ops.map(o => Map[String, Any]("id" -> o.id, "name" -> o.name,
        "kind" -> o.kind, "start_ms" -> o.startMs, "secs" -> o.secs,
        "ok" -> o.ok) ++ o.attrs),
      "workload" -> fin) ++
      (if (!trace) Map.empty else {
        val spark1 = tr.sparkByOp
        val jobIv = tr.jobIntervals
        val scans = tr.scanByOp
        Map[String, Any](
          "spans" -> tr.allSpans.map(s => Seq(s.id, s.name, s.op, s.parent,
            s.startNs, s.endNs)),
          "spark" -> ops.map(o => o.id.toString ->
            spark1.getOrElse(o.id, Map.empty[String, Double])).toMap,
          "job_intervals" -> ops.map(o => o.id.toString ->
            jobIv.getOrElse(o.id, Nil).map(p => Seq(p._1, p._2))).toMap,
          "scans" -> scans.map { case (k, (f, r)) =>
            k.toString -> Seq(f, r) }.toMap)
      })
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
    graft.Scratch.purge()
  }

  def secsOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Spark's whole-stage-codegen compile counter (classes so far). */
  private def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount

  /** Heap still reachable once the timed ops are done: what the engine
    * keeps (caches, staged state, plans, listeners' state). The least
    * heap in use right after each of three full collections: between
    * them Spark's ContextCleaner frees, on its own thread, the blocks of
    * broadcasts and shuffles the previous collection found unreachable,
    * and in-flight objects of the running stream come and go. */
  private def retainedHeapBytes: Long = (1 to 3).map { _ =>
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    Thread.sleep(300)
    used
  }.min

  /** The host's cumulative steal time (`/proc/stat`, clock ticks): CPU
    * time the hypervisor gave to other guests. */
  private def stealTicks: Long =
    Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu "))
      .map(_.trim.split(" +")(8).toLong).getOrElse(0L)

  private def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** Listener events arrive on Spark's bus thread after the action
    * returns; wait (bounded) until every job end and query callback of
    * the timed ops has been seen. */
  private def awaitListeners(tr: Tracer): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((tr.openJobs > 0 || tr.openQueries > 0) &&
        System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Every regular file under `root` with its size. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
}

/** Minimal JSON writer for the result file (maps, seqs, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}
