package graft

import org.apache.spark.sql.functions._

/** Dev-only stage-cost profile for the round-18 targets (round-17
  * verdict #2/#3/#6): q31's candidate/verify split, q75's absorb-path
  * job count, q137's labeled projection. Each region reports its MIN
  * wall seconds over SPARK_GRAFT_PROFILE_REPS (default 3) AND the
  * number of Spark jobs it launched (fixed per-job overhead is the
  * suspected cost on the sub-second paths — the q141 lesson).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.DevQ31Profile"
  */
object DevQ31Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.get("SPARK_GRAFT_PROFILE_REPS")
      .flatMap(_.toIntOption).getOrElse(3)
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.DedupOps

    val jobCount = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
      })

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def time(name: String, body: () => Unit): Double = {
      val runs = (1 to reps).map { _ =>
        val j0 = jobCount.get()
        val t0 = System.nanoTime()
        body()
        ((System.nanoTime() - t0) / 1e9, jobCount.get() - j0)
      }
      val lo = runs.map(_._1).min
      println(f"""{"region":"$name","min_sec":$lo%.3f,"jobs":${
        runs.last._2},"samples":[${
        runs.map(r => f"${r._1}%.3f").mkString(",")}]}""")
      lo
    }

    // warm: full q31/q75/q137 once each (index + prefix + cluster +
    // gram builds land in the memos; codegen compiles)
    noop(DedupOps.q31NgramJaccard(spark, sfDir))
    noop(DedupOps.q75IncrementalDedup(spark, sfDir))
    noop(DedupOps.q137CurationPipeline(spark, sfDir))

    // ---- q31 ----
    time("q31_candidates_only", () =>
      noop(DedupOps.prefixCandidates(spark, sfDir, 0.5)))
    time("q31_full", () => noop(DedupOps.q31NgramJaccard(spark, sfDir)))
    // isolate the verify: stage the candidate pairs once, then time
    // jaccardFor alone — serial vs repartitioned probe
    val candDir = Scratch.dir("prof-cand").resolve("c").toString
    val cand0 = DedupOps.prefixCandidates(spark, sfDir, 0.5)
    cand0.write.parquet(candDir)
    println(s"""{"cand_rows":${spark.read.parquet(candDir).count()}}""")
    val candStaged = spark.read.parquet(candDir)
    val arrays = DedupOps.stagedShingleArrays(spark, sfDir)
    time("q31_verify_staged_cand", () =>
      noop(DedupOps.jaccardFor(candStaged, arrays)
        .filter(col("jaccard") >= 0.5).orderBy("doc_a", "doc_b")))
    time("q31_verify_repart_cand", () =>
      noop(DedupOps.jaccardFor(
          candStaged.repartition(spark.sparkContext.defaultParallelism),
          arrays)
        .filter(col("jaccard") >= 0.5).orderBy("doc_a", "doc_b")))
    time("q31_full_repart_verify", () => {
      val c = DedupOps.prefixCandidates(spark, sfDir, 0.5)
        .repartition(spark.sparkContext.defaultParallelism)
      noop(DedupOps.jaccardFor(c, arrays)
        .filter(col("jaccard") >= 0.5).orderBy("doc_a", "doc_b"))
    })
    // variant B: hash-repartition BEFORE the dedup — the aggregate
    // reuses the exchange, so no extra shuffle vs the distinct
    time("q31_full_repart_before_distinct", () => {
      val np = spark.sessionState.conf.numShufflePartitions
      val c = DedupOps.prefixCandidatesRaw(spark, sfDir, 0.5)
        .repartition(np, col("doc_a"), col("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      noop(DedupOps.jaccardFor(c, arrays)
        .filter(col("jaccard") >= 0.5).orderBy("doc_a", "doc_b"))
    })

    // ---- q75 ----
    time("q75_batch_arrays_only", () => {
      val newDocs = Tables.load(spark, sfDir, "documents")
        .filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" zz9 qq8")).as("text"))
      noop(DedupOps.shingleArrays(newDocs))
    })
    time("q75_full", () => noop(DedupOps.q75IncrementalDedup(spark, sfDir)))

    // ---- q137 ----
    time("q137_labeled_hist", () =>
      DedupOps.q137Labeled(spark, sfDir).groupBy("verdict").count()
        .collect())
    time("q137_full", () => noop(DedupOps.q137CurationPipeline(spark, sfDir)))

    spark.stop()
    Scratch.purge()
  }
}
