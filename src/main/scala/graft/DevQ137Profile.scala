package graft

import org.apache.spark.sql.functions._

/** Dev-only stage-cost profile for q137's model-score stage (round-17
  * verdict #4: "prove the short-circuit claim with a stage-cost
  * profile or route stage 10 through the staged explode-kernel
  * scores"). Times the SAME labeled projection q137 aggregates
  * ([[graft.operators.DedupOps.q137Labeled]]) in three forms:
  *
  *   - `no_model`  — stage 10 removed (ColumnPruning drops the fold
  *                   entirely): the baseline the others subtract.
  *   - `fold_case` — PRODUCTION: the interpreted row-local fold
  *                   inlined inside the verdict CASE, evaluated only
  *                   for rows that survive the nine prior bars
  *                   (CaseWhen's sequential branch evaluation).
  *   - `fold_all`  — the fold FORCED for every corpus row (summed as
  *                   a second aggregate beside the histogram): what
  *                   the stage would cost with no short-circuit.
  *
  * If fold_case ≈ no_model while fold_all pays the full
  * interpreted-lambda cost, the short-circuit is proven and the fold
  * stays; if fold_case tracks fold_all, stage 10 must move to the
  * staged explode-kernel scores. Results go to BASELINE.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/graft-sf1 runMain graft.DevQ137Profile
  * (reps via SPARK_GRAFT_PROFILE_REPS, default 3; per-variant MIN is
  * the reported number — the bench harness's interference rejection).
  */
object DevQ137Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft-sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.get("SPARK_GRAFT_PROFILE_REPS")
      .flatMap(_.toIntOption).getOrElse(3)
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{DedupOps, TextOps}

    // stage the shared indexes once (clusters + decon grams) so every
    // variant times the projection, not a first-toucher's index build
    DedupOps.q137Labeled(spark, sfDir).groupBy("verdict").count().collect()

    def time(name: String, body: () => Unit): Double = {
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body()
        (System.nanoTime() - t0) / 1e9
      }
      val lo = secs.min
      println(f"""{"variant":"$name","min_sec":$lo%.2f,"samples":[${
        secs.map(s => f"$s%.2f").mkString(",")}]}""")
      lo
    }

    val base = time("no_model", () =>
      DedupOps.q137Labeled(spark, sfDir, withModelGate = false)
        .groupBy("verdict").count().collect())
    val prod = time("fold_case", () =>
      DedupOps.q137Labeled(spark, sfDir)
        .groupBy("verdict").count().collect())
    // force the fold on EVERY row: aggregate the fold itself beside
    // the histogram, so it is computed unconditionally per row on the
    // same scan — what the stage costs with no CASE short-circuit
    val all = time("fold_all", () =>
      DedupOps.q137Labeled(spark, sfDir)
        .groupBy("verdict")
        .agg(count(lit(1)), sum(TextOps.modelScore(col("text"))))
        .collect())
    println(f"""{"summary":"q137 model stage","no_model":$base%.2f,""" +
      f""""fold_case":$prod%.2f,"fold_all":$all%.2f,""" +
      f""""fold_case_overhead_sec":${prod - base}%.2f,""" +
      f""""fold_all_overhead_sec":${all - base}%.2f}""")
    spark.stop()
    Scratch.purge()
  }
}
