package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-conditioned broadcast hint for the dedup/ANN verify joins.
  *
  * An unconditional `broadcast()` hint forces the build side onto the
  * driver and every executor regardless of
  * `spark.sql.autoBroadcastJoinThreshold` — correct and fast while the
  * relation is MBs (every sf0.1 verify-side index is), a forced OOM
  * once the corpus grows 100×. Conditioning the hint on the
  * optimizer's own size estimate keeps the measured local plan (the
  * hint still fires, so the plan guards in DedupSpec/PlanSpec still
  * see a BroadcastHashJoin) while letting the join degrade to a
  * shuffle on the same equi keys at scale — graceful, not fatal.
  * Flagged as the last scale-killer family by the round-6 review. */
private[graft] object Hints {

  /** 64 MiB estimated build side: comfortably inside executor memory
    * under any realistic configuration, ~100× above every verify-side
    * relation at sf0.1 (embeddings: 780 KiB on disk). */
  val BroadcastCap: Long = 64L << 20

  def broadcastIfSmall(df: DataFrame,
      capBytes: Long = BroadcastCap): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes
        <= BigInt(capBytes)) broadcast(df)
    else df

  /** Dedup candidate pairs on an EXPLICIT hash repartition over the
    * session's shuffle parallelism (round 18). The plain `.distinct()`
    * let AQE coalesce its exchange to 1-2 partitions at fixture scale
    * (pairs of longs compress to ~KBs), so every downstream verify
    * kernel — the sorted-overlap/cosine joins, the most expensive
    * per-row work in the dedup/ANN families — ran near-serially
    * (measured: q31's verify 1.53 s on 1 task vs 0.44 s spread, and
    * the flat 8-vs-32-core ratios the round-17 driver flagged). The
    * aggregate's required distribution is exactly the repartition's
    * hash partitioning, so the dedup rides the SAME exchange — no
    * added shuffle vs `.distinct()`, only a pinned partition count.
    * The trade: no map-side partial dedup, so duplicate match rows
    * (a pair sharing several candidate keys, typically low single
    * digits) cross the exchange raw — a few extra bytes per pair
    * against a parallel verify. `numShufflePartitions` tracks
    * SPARK_GRAFT_CPUS locally and the cluster's setting at scale, so
    * the spread is scale-adaptive, not a local[32] constant.
    *
    * Users: q31's candidate verify, and q43's (with q140's) and q45's
    * candidate verifies in SimilarityOps. q75 and the streaming
    * near-dup ingest left it: their kernel
    * ([[DedupOps.incrementalNearDupsFrom]]) emits each pair once in a
    * narrow pass and has nothing to dedup. */
  def spreadDedupPairs(df: DataFrame, keys: Seq[String]): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      keys.map(org.apache.spark.sql.functions.col): _*)
      .dropDuplicates(keys)

  /** Round-robin spread of a SMALL relation ahead of heavy per-row
    * kernels (round 18). Fixture-scale parquet is one row group per
    * file, so a scan cannot split below one task per file no matter
    * the split size, and openCost floors small scans at 1-2 partitions
    * — every downstream row-local kernel (regex scrubs, shingling,
    * fold scores) then runs near-serially on a 32-core session. When
    * the optimizer's size estimate is under `capBytes` the relation is
    * explicitly exchanged across the session's shuffle parallelism:
    * the exchange moves a few MBs once and the kernel runs wide. A
    * relation past the cap already scans wide — no-op, so at scale
    * this never degenerates into shuffling a corpus for parallelism
    * (the §2.3 rule: big inputs get their parallelism from the scan). */
  def spreadIfCompact(df: DataFrame,
      capBytes: Long = BroadcastCap): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes
        <= BigInt(capBytes))
      df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
    else df
}
