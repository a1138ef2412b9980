package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** Write-path semantics: Hive-partition layout on disk, partition
  * pruning visible in the physical plan (the efficiency the reference's
  * demo depends on, examples/read_deltalake_hdfs.py:77-84), parquet
  * filter pushdown, and overwrite semantics. */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  test("partitionBy writes Hive-style dirs and the scan prunes to one") {
    val t = tempDir("graft-prune").resolve("t").toString
    Tables.load(spark, sf, "customer")
      .write.partitionBy("c_mktsegment").parquet(t)
    // on-disk layout: one dir per segment
    val dirs = new java.io.File(t).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("c_mktsegment=")).sorted
    assert(dirs.length === 5, s"expected 5 segment dirs, got ${dirs.toSeq}")

    val pruned = spark.read.parquet(t).filter($"c_mktsegment" === "BUILDING")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    // partition filter reached the scan node…
    assert(scan.partitionFilters.exists(_.toString.contains("c_mktsegment")),
      s"no partition filter on scan: ${scan.partitionFilters}")
    // …and only the BUILDING directory's files are actually read
    val readFiles = scan.inputRDDs().head.partitions.length
    val prunedCount = pruned.count()
    val fullCount = spark.read.parquet(t).count()
    assert(prunedCount < fullCount)
    assert(scan.metrics("numFiles").value <=
      new java.io.File(s"$t/c_mktsegment=BUILDING").listFiles()
        .count(_.getName.endsWith(".parquet")))
  }

  test("predicate pushdown reaches the parquet scan (PushedFilters)") {
    val df = Tables.load(spark, sf, "customer").filter($"c_acctbal" > 8000)
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(c_acctbal,8000"),
      s"filter not pushed: $pushed")
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    val df = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.requiredSchema.fieldNames.toSet === Set("l_orderkey", "l_quantity"),
      s"scan reads too much: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("parquet overwrite replaces, append accumulates") {
    val t = tempDir("graft-modes").resolve("t").toString
    spark.range(10).write.mode("overwrite").parquet(t)
    spark.range(5).write.mode("overwrite").parquet(t)
    assert(spark.read.parquet(t).count() === 5)
    spark.range(7).write.mode("append").parquet(t)
    assert(spark.read.parquet(t).count() === 12)
  }

  test("roundtrip preserves values and schema exactly (range write/read)") {
    val t = tempDir("graft-rt").resolve("t").toString
    spark.range(100).selectExpr("id", "id * 2 AS doubled",
      "concat('item_', cast(id AS string)) AS name")
      .write.parquet(t)
    val back = spark.read.parquet(t)
    assert(back.count() === 100) // verify_complete_setup.py:201-212 shape
    assert(back.schema.fieldNames.toSet === Set("id", "doubled", "name"))
    assert(back.agg(sum($"doubled")).head().getLong(0) === (0L until 100L).map(_ * 2).sum)
  }
}
