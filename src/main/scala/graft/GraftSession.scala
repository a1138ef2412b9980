package graft

import org.apache.spark.sql.SparkSession

/** The engine's local session: Spark `local[cpus]` with one shuffle
  * partition per core, the UTC session zone [[Tables]] requires, the
  * [[GraftExtensions]] rules and functions, and no UI.
  *
  * The codegen cache is sized to the query surface: the default 100
  * entries thrash across 140+ queries × ~30-150 generated classes each
  * (measured: q109's retime re-compiled 26 of its 30 classes after the
  * cache churned through the delta-lifecycle queries), so a retime
  * re-paid janino instead of measuring the plan. A long-lived session
  * serving repeated plans runs cache-warm; 10k entries keeps it so. It
  * is a static conf, so only the builder can set it. */
object GraftSession {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
}
