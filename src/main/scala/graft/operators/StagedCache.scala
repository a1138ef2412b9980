package graft.operators

import java.util.concurrent.ConcurrentHashMap

/** The staged indexes' shared state: the build counter, the staged
  * read-back and the source fingerprint every [[StagedIndex]] keys
  * validity on. */
private[graft] object StagedCache {

  /** Count of index BUILDS actually executed (not cache hits) — the
    * bench harness snapshots this around each timed query to tell a
    * first-toucher's build-vs-serve retime asymmetry (expected,
    * classified `warm_asymmetry`) apart from genuine throttle noise
    * (`unreliable`). */
  private val built = new java.util.concurrent.atomic.AtomicLong(0L)

  def buildCount: Long = built.get()

  private[operators] def countBuild(): Unit = built.incrementAndGet()

  /** A fixture table's parquet path under `dir` — the source most
    * indexes key on. */
  def source(dir: String, table: String): java.nio.file.Path =
    java.nio.file.Paths.get(s"$dir/$table.parquet")

  /** The single long scalar of an [[org.apache.spark.sql.Observation]]
    * riding a just-completed SYNCHRONOUS action, with a BOUNDED wait
    * (round-17 ADVICE): `Observation.get` blocks with no timeout, so a
    * dropped observed-metrics event (the listener bus sheds events
    * under load) would hang the caller forever. The action has already
    * finished when this is called, so the event is either in flight
    * (ms away) or lost for good — wait up to 2 s on the observation's
    * future, and let the caller fall back (e.g. to a count job over
    * the relation the action just wrote). A NULL metric (an aggregate
    * over zero rows) reads as 0. */
  def observedScalar(obs: org.apache.spark.sql.Observation,
      waitMillis: Long = 2000L): Option[Long] =
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(waitMillis,
          java.util.concurrent.TimeUnit.MILLISECONDS))
      Some(if (row.isNullAt(0)) 0L else row.getLong(0))
    } catch {
      case _: java.util.concurrent.TimeoutException => None
      case _: InterruptedException =>
        Thread.currentThread().interrupt(); None
    }

  /** Read-back of a staged scratch/index dir with its schema memoized
    * per process (round 17): staged dirs are write-once — fresh
    * UUID-suffixed Scratch dirs, or fingerprint-keyed rebuild dirs
    * whose refresh paths only ADD part files of the same schema — so
    * the first read's inferred schema is exact for every later read.
    * Bare `spark.read.parquet` re-opens footers on the DRIVER for
    * schema inference on every call (~10-40 ms each measured at
    * fixture scale, and the engine's staged indexes are served per
    * query invocation); with the schema supplied the reader skips
    * inference and plans the identical scan. */
  private val stagedSchemas = new ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]

  def readStaged(spark: org.apache.spark.sql.SparkSession,
      dirs: String*): org.apache.spark.sql.DataFrame = {
    val key = schemaKey(dirs)
    val s = stagedSchemas.get(key)
    if (s != null) spark.read.schema(s).parquet(dirs: _*)
    else {
      val df = spark.read.parquet(dirs: _*)
      stagedSchemas.putIfAbsent(key, df.schema)
      df
    }
  }

  /** Register `schema` as the read schema of staged `dirs`, for a
    * writer that knows it: [[readStaged]] then never infers it, and an
    * empty staged dir reads as an empty relation. */
  def registerSchema(schema: org.apache.spark.sql.types.StructType,
      dirs: String*): Unit = stagedSchemas.put(schemaKey(dirs), schema)

  private def schemaKey(dirs: Seq[String]): String = dirs.mkString("\u0000")

  /** Content fingerprint of a source dataset path (a parquet file OR a
    * directory of part files) for cache-validity keying. The previous
    * idiom keyed on the top-level path's mtime alone, which misses an
    * in-place rewrite that lands in the same millisecond or replaces
    * part files without touching the directory entry (round-14 review:
    * q141 stacks three such caches, so one stale layer silently
    * changes results). This walks the dataset: file count + total
    * bytes + max per-file mtime — any part-file add, drop, resize, or
    * rewrite changes at least one component. Bounded by the dataset's
    * file count (a directory listing, no data read), the same
    * traversal every parquet scan's file listing already pays. */
  def fingerprint(src: java.nio.file.Path): String = {
    import java.nio.file.Files
    if (!Files.exists(src)) "absent"
    else {
      var n = 0L; var bytes = 0L; var maxM = 0L
      val it = Files.walk(src)
      try {
        it.filter(p => Files.isRegularFile(p)).forEach { p =>
          n += 1; bytes += Files.size(p)
          maxM = math.max(maxM, Files.getLastModifiedTime(p).toMillis)
        }
      } finally it.close()
      s"$n:$bytes:$maxM"
    }
  }
}

/** The dirs of an index that grows by appends: `frozen` dirs hold
  * parameters trained once at build time (centroids, scale params,
  * codebooks), `parts` the staged rows — the build's dir plus one delta
  * dir per registered append — and `rows` the corpus row count they
  * cover, which [[StagedIndex.extend]] reconciles. */
private[graft] final case class StagedParts(frozen: Seq[String],
    parts: Seq[String], rows: Long) {
  def dirs: Seq[String] = frozen ++ parts
}

/** One staged-index memo: a value derived from a source dataset (staged
  * scratch dirs, or a scalar of the source's bytes), keyed by (index,
  * `params`, absolute source path) with the source's
  * [[StagedCache.fingerprint]] stored in the entry. An entry serves only
  * while its fingerprint matches and every dir in `dirsOf` exists.
  * Keyed by path, a rewritten source overwrites its entry, so the map
  * is bounded by the number of distinct sources. The key carries no
  * session: every value is write-once scratch dirs or a scalar of the
  * source bytes, and no build reads session conf.
  *
  * A build runs OUTSIDE any lock — corpus counts, Lloyd/BPE training,
  * parquet writes — and registers with a brief `compute` that
  * re-validates: if a racing builder won in the meantime, its valid
  * entry wins and the loser's freshly staged dirs are orphaned (Scratch
  * dirs are deleted on exit; duplicate builds are idempotent by
  * construction). Readers of a valid entry never block behind a build,
  * and a build that re-enters the same index cannot deadlock. Only
  * [[extend]] works under `compute`: append registrations are ordered
  * ledger mutations that must exclude each other, and their delta work
  * is batch-sized, not corpus-sized. */
private[graft] final class StagedIndex[V](val name: String,
    dirsOf: V => Seq[String]) {
  import java.nio.file.{Files, Path, Paths}

  private final class Entry(val fp: String, val value: V)

  private val entries = new ConcurrentHashMap[(Any, String), Entry]
  private val built = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Builds this index executed (cache hits excluded). */
  def builds: Long = built.get()

  private def keyOf(src: Path, params: Any) =
    (params, src.toAbsolutePath.toString)

  private def staged(v: V): Boolean =
    dirsOf(v).forall(d => Files.exists(Paths.get(d)))

  private def serves(e: Entry, fp: String): Boolean =
    e != null && e.fp == fp && staged(e.value)

  /** The entry for `src` under `params`, built (and counted in
    * [[StagedCache.buildCount]]) when missing, stale or purged. */
  def get(src: Path, params: Any = ())(build: => V): V = {
    val key = keyOf(src, params)
    val fp = StagedCache.fingerprint(src)
    val cur = entries.get(key)
    if (serves(cur, fp)) cur.value
    else {
      val b = build
      built.incrementAndGet()
      StagedCache.countBuild()
      entries.compute(key, (_, c) => if (serves(c, fp)) c else new Entry(fp, b))
        .value
    }
  }

  /** Register `v` as the entry for the source's current state — a
    * swap staged beside the serving entry, which readers holding the
    * old dirs keep reading. */
  def put(src: Path, params: Any = ())(v: V): Unit =
    entries.put(keyOf(src, params), new Entry(StagedCache.fingerprint(src), v))

  def invalidate(src: Path, params: Any = ()): Unit =
    entries.remove(keyOf(src, params))

  /** Append-refresh: after a batch of `batchRows` rows was appended to
    * `src`, register the batch's delta dir (staged by `stage` from the
    * current entry) under the source's new state. Every registration
    * is RECONCILED by row count, and any doubt clears the entry so the
    * next [[get]] full-rebuilds — never a silent drop:
    *   - nothing registered → no-op;
    *   - staging purged → clear;
    *   - same state → keep when the row count still matches (a
    *     replay), else clear (a change without a fingerprint advance);
    *   - registered + batch ≠ corpus → clear (unregistered appends
    *     beyond this batch);
    *   - otherwise stage the delta and append its dir; a `stage` that
    *     declines (None) clears.
    * Returns the delta dir iff one was registered. */
  def extend(src: Path, params: Any = ())(corpusRows: => Long,
      batchRows: => Long)(stage: V => Option[String])(
      implicit parts: V =:= StagedParts): Option[String] = {
    val fp = StagedCache.fingerprint(src)
    var delta: Option[String] = None
    entries.compute(keyOf(src, params), (_, cur) =>
      if (cur == null) cur
      else if (!staged(cur.value)) null
      else {
        val p = parts(cur.value)
        val n = corpusRows
        if (cur.fp == fp) { if (p.rows == n) cur else null }
        else if (p.rows + batchRows != n) null
        else stage(cur.value) match {
          case None => null
          case Some(d) =>
            delta = Some(d)
            new Entry(fp, parts.flip(p.copy(parts = p.parts :+ d, rows = n)))
        }
      })
    delta
  }
}
