package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed operation of the closed loop: `kind` is "read" or "write";
  * `ok` is false if it threw or its result was wrong. */
final case class Op(id: Int, name: String, kind: String, startMs: Long,
    secs: Double, ok: Boolean, attrs: Map[String, Any])

/** A span at a layer boundary: the benchmark opens one around each call
  * into a layer's public functions. `parent` is -1 for an op's root. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long)

/** Spans, per-op counters and the Spark listeners of a traced run. All
  * of it stays in memory and is written out when the run ends. With
  * `enabled` false every call is a pass-through: the untraced run pays
  * for nothing but the closure. */
final class Tracer(val enabled: Boolean) {
  val OpProperty = "perfbench.op"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextSpan = 0
  /** The op whose spans are being recorded, or -1. */
  @volatile private var current = -1

  def beginOp(op: Int): Unit = if (enabled) current = op

  def endOp(): Unit = current = -1

  def span[A](name: String)(f: => A): A =
    if (!enabled || current < 0) f
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      val op = current
      stack.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        stack.pop()
        spans += Span(id, name, op, parent, t0, System.nanoTime())
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  // ---- Spark listener: jobs, stages and task metrics by op ----------

  final class JobRec(val id: Int, val op: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var schedMs = 0L; var shuffleBytes = 0L
    var spillBytes = 0L; var inputBytes = 0L; var completed = 0
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[Int, StageAgg]
  private var opIntervals = Vector.empty[(Int, Long, Long)]

  /** Ops' wall-clock intervals, for jobs started off the client thread
    * (a streaming micro-batch) that carry no op property. */
  def recordInterval(op: Int, startMs: Long, endMs: Long): Unit =
    synchronized { opIntervals :+= ((op, startMs, endMs)) }

  private def opAt(ms: Long): Int =
    opIntervals.find { case (_, s, e) => ms >= s && ms <= e }
      .map(_._1).getOrElse(-1)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val tagged = Option(e.properties)
          .flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt)
        val op = tagged.getOrElse(-1)
        jobs(e.jobId) = new JobRec(e.jobId, op, e.time)
        e.stageIds.foreach(s => stageOp(s) = e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageAgg.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
          .completed += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
        a.tasks += 1
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          // Spark UI's scheduler delay: task wall time not spent
          // deserializing, running, serializing or fetching the result
          if (info != null && info.finishTime > 0)
            a.schedMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              info.gettingResultTime)
        }
      }
  }

  /** Per-op Spark counts. Jobs untagged by property fall to the op
    * whose interval holds the job's start. */
  def sparkByOp: Map[Int, Map[String, Double]] = synchronized {
    val byOp = mutable.Map.empty[Int, mutable.Map[String, Double]]
    def add(op: Int, k: String, v: Double): Unit =
      byOp.getOrElseUpdate(op, mutable.Map.empty.withDefaultValue(0.0))(k) += v
    val jobOp = jobs.values.map(j =>
      j.id -> (if (j.op >= 0) j.op else opAt(j.startMs))).toMap
    jobs.values.foreach { j =>
      val op = jobOp(j.id)
      if (op >= 0) add(op, "jobs", 1)
    }
    stageAgg.foreach { case (s, a) =>
      stageOp.get(s).map(jobOp).filter(_ >= 0).foreach { op =>
        add(op, "stages", a.completed)
        add(op, "tasks", a.tasks)
        add(op, "executor_cpu_s", a.cpuNs / 1e9)
        add(op, "scheduler_delay_s", a.schedMs / 1e3)
        add(op, "shuffle_bytes", a.shuffleBytes)
        add(op, "spill_bytes", a.spillBytes)
        add(op, "input_bytes", a.inputBytes)
      }
    }
    byOp.map { case (k, v) => k -> v.toMap }.toMap
  }

  /** Job intervals (ms) per op, for the time an op ran no Spark job. */
  def jobIntervals: Map[Int, Seq[(Long, Long)]] = synchronized {
    jobs.values.toSeq.flatMap { j =>
      val op = if (j.op >= 0) j.op else opAt(j.startMs)
      if (op >= 0 && j.endMs >= j.startMs) Some(op -> ((j.startMs, j.endMs)))
      else None
    }.groupMap(_._1)(_._2)
  }

  /** Jobs that started but whose end the listener has not seen yet. */
  def openJobs: Int = synchronized(jobs.values.count(_.endMs < 0))

  // ---- QueryExecutionListener: scan counts of read ops -------------

  private val qeOp = new java.util.IdentityHashMap[QueryExecution, Integer]
  private val scans = mutable.Map.empty[Int, (Long, Long)]
  private var seenQe = 0

  /** Remember which op `qe` belongs to, before its action runs. */
  def watch(qe: QueryExecution, op: Int): Unit =
    if (enabled && current >= 0) synchronized { qeOp.put(qe, op); () }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val op = Tracer.this.synchronized(Option(qeOp.get(qe)))
      op.foreach { o =>
        val (files, rows) = scanCounts(qe.executedPlan)
        Tracer.this.synchronized {
          val (f0, r0) = scans.getOrElse(o, (0L, 0L))
          scans(o) = (f0 + files, r0 + rows)
          seenQe += 1
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** (files scanned, rows scanned) over every file scan in the final
    * physical plan, adaptive stages included. */
  private def scanCounts(plan: org.apache.spark.sql.execution.SparkPlan)
      : (Long, Long) = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    var files = 0L; var rows = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec =>
        files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    (files, rows)
  }

  def scanByOp: Map[Int, (Long, Long)] = synchronized(scans.toMap)
  /** Watched query executions whose callback has not arrived yet. */
  def openQueries: Int = synchronized(qeOp.size - seenQe)
}
