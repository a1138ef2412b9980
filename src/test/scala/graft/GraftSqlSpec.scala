package graft

import org.apache.spark.sql.functions.{col, lit}
import graft.sources.{DeltaLog, DeltaTable}
import scala.jdk.CollectionConverters._

/** The round-10 SQL DDL surface (GraftSqlParser via GraftExtensions):
  * every path-addressed maintenance statement must hit the same
  * DeltaTable API the Scala surface uses, and everything else must
  * delegate to Spark's parser untouched. */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = tempDir("graft-sql-spec").resolve("t").toString

  private def threeRows = Seq(
    (1, "Alice", 75000L), (2, "Bob", 65000L), (3, "Carol", 80000L))
    .toDF("id", "name", "salary")

  test("OPTIMIZE compacts; the statement returns the committed version") {
    val t = freshTable()
    DeltaTable.write(threeRows.repartition(3), t, "overwrite")
    assert(DeltaLog.snapshot(t).files.length === 3)
    val out = spark.sql(s"OPTIMIZE delta.`$t`").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    assert(DeltaLog.snapshot(t).files.length === 1)
    // content unchanged
    assert(spark.read.format("graft-delta").load(t).count() === 3)
  }

  test("OPTIMIZE WHERE compacts only the matching partition") {
    val t = freshTable()
    // two appends of one file per partition value -> 2 files per seg
    val df = Seq((1, "a"), (3, "b")).toDF("id", "seg").coalesce(1)
    DeltaTable.write(df, t, "overwrite", partitionBy = Seq("seg"))
    DeltaTable.write(Seq((2, "a"), (4, "b")).toDF("id", "seg").coalesce(1),
      t, "append")
    val before = DeltaLog.snapshot(t).files
      .groupBy(_.partitionValues("seg")).view.mapValues(_.length).toMap
    assert(before("a") === 2 && before("b") === 2)
    spark.sql(s"OPTIMIZE '$t' WHERE seg = 'a'").collect()
    val after = DeltaLog.snapshot(t).files
      .groupBy(_.partitionValues("seg")).view.mapValues(_.length).toMap
    assert(after("a") === 1, s"partition a must compact: $after")
    assert(after("b") === 2, s"partition b must be untouched: $after")
  }

  test("OPTIMIZE ZORDER BY clusters; WHERE+ZORDER refuses") {
    val t = freshTable()
    DeltaTable.write((0 until 64).map(i => (i, i % 8, i / 8))
      .toDF("id", "x", "y").repartition(8), t, "overwrite")
    spark.sql(s"OPTIMIZE delta.`$t` ZORDER BY (x, y)").collect()
    assert(spark.read.format("graft-delta").load(t).count() === 64)
    // commitInfo records the zorder operation
    val ops = DeltaTable.history(spark, t).select("operation")
      .as[String].collect()
    assert(ops.contains("ZORDER"), s"history: ${ops.toSeq}")
    intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE delta.`$t` WHERE x = 1 ZORDER BY (x, y)")
    }
  }

  test("VACUUM collects unreferenced files; RETAIN n HOURS keeps " +
      "recent versions; the bare form defaults to 7-day retention") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")      // v0
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")      // v1
    // everything is recent: a 168-hour retention deletes nothing
    assert(spark.sql(s"VACUUM delta.`$t` RETAIN 168 HOURS").collect()
      .isEmpty)
    // BARE VACUUM = the reference's safe default (7-day retention),
    // NOT a full history prune: on an all-recent table it deletes
    // nothing and time travel stays intact (round 11 — it previously
    // mapped to keepVersions=1 and silently destroyed history)
    assert(spark.sql(s"VACUUM delta.`$t`").collect().isEmpty)
    assert(DeltaTable.read(spark, t, Some(0L)).count() === 3,
      "time travel must survive a bare VACUUM")
    // the destructive prune now requires saying so explicitly
    val deleted = spark.sql(s"VACUUM delta.`$t` RETAIN 0 HOURS").collect()
      .map(_.getString(0))
    assert(deleted.nonEmpty, "v0's file must be collected at RETAIN 0")
    assert(spark.read.format("graft-delta").load(t).count() === 3)
  }

  test("DESCRIBE HISTORY / DETAIL match the Scala DataFrames exactly") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")
    DeltaTable.write(threeRows.coalesce(1), t, "append")
    val viaSql = spark.sql(s"DESCRIBE HISTORY delta.`$t`").collect().toSeq
    val viaApi = DeltaTable.history(spark, t).collect().toSeq
    assert(viaSql === viaApi)
    assert(viaSql.map(_.getLong(0)) === Seq(1L, 0L))
    val dSql = spark.sql(s"DESCRIBE DETAIL delta.`$t`").collect().toSeq
    val dApi = DeltaTable.detail(spark, t).collect().toSeq
    assert(dSql === dApi)
    assert(dSql.head.getLong(1) === 2L) // num_files
  }

  test("RESTORE TO VERSION AS OF rolls the table back") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")      // v0
    DeltaTable.delete(spark, t, col("id") === 2)                 // v1
    assert(spark.read.format("graft-delta").load(t).count() === 2)
    spark.sql(s"RESTORE delta.`$t` TO VERSION AS OF 0").collect()
    assert(spark.read.format("graft-delta").load(t).count() === 3)
  }

  test("ALTER TABLE ADD CONSTRAINT enforces on later appends; SET " +
      "TBLPROPERTIES lands in the configuration") {
    val t = freshTable()
    DeltaTable.write(threeRows, t, "overwrite")
    spark.sql(s"ALTER TABLE delta.`$t` ADD CONSTRAINT pos_salary " +
      "CHECK (salary > 0)").collect()
    intercept[IllegalArgumentException] {
      DeltaTable.write(Seq((9, "Z", -5L)).toDF("id", "name", "salary"),
        t, "append")
    }
    spark.sql(s"ALTER TABLE delta.`$t` SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')").collect()
    assert(DeltaLog.snapshot(t).configuration
      .get("delta.enableChangeDataFeed").contains("true"))
    // a multi-key SET is ONE atomic version (round 11): both keys land
    // and the log grows by exactly one commit
    val before = DeltaTable.latestVersion(t)
    spark.sql(s"ALTER TABLE delta.`$t` SET TBLPROPERTIES " +
      "('graft.owner' = 'team-a', 'graft.tier' = 'gold')").collect()
    val snap = DeltaLog.snapshot(t)
    assert(snap.version === before + 1,
      "multi-key SET TBLPROPERTIES must commit exactly one version")
    assert(snap.configuration.get("graft.owner").contains("team-a") &&
      snap.configuration.get("graft.tier").contains("gold"))
  }

  test("ALTER TABLE RENAME/DROP/ALTER COLUMN map onto mapping and " +
      "type widening") {
    val t = freshTable()
    DeltaTable.write(threeRows, t, "overwrite")
    DeltaTable.enableColumnMapping(t)
    spark.sql(s"ALTER TABLE delta.`$t` RENAME COLUMN salary TO base_pay")
      .collect()
    assert(spark.read.format("graft-delta").load(t).columns
      .contains("base_pay"))
    spark.sql(s"ALTER TABLE delta.`$t` DROP COLUMN name").collect()
    assert(!spark.read.format("graft-delta").load(t).columns
      .contains("name"))
    val t2 = freshTable()
    DeltaTable.write(threeRows, t2, "overwrite")
    spark.sql(s"ALTER TABLE delta.`$t2` ALTER COLUMN id TYPE bigint")
      .collect()
    assert(spark.read.format("graft-delta").load(t2).schema("id").dataType
      === org.apache.spark.sql.types.LongType)
  }

  test("SELECT FROM delta.`path` resolves the graft-delta relation — " +
      "including joins, subqueries, and time-travel-free reads") {
    val t = freshTable()
    DeltaTable.write(threeRows, t, "overwrite")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM delta.`$t`")
      .as[Long].head() === 3L)
    assert(spark.sql(
      s"SELECT name FROM delta.`$t` WHERE salary > 70000 ORDER BY name")
      .as[String].collect().toSeq === Seq("Alice", "Carol"))
    // a self-join through the path idiom
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM delta.`$t` a JOIN graft.`$t` b " +
        "ON a.id = b.id").as[Long].head() === 3L)
    // subquery position
    assert(spark.sql(
      s"SELECT id FROM delta.`$t` WHERE salary > " +
        s"(SELECT AVG(salary) FROM delta.`$t`) ORDER BY id")
      .as[Int].collect().toSeq === Seq(1, 3))
  }

  test("DELETE FROM / UPDATE on a path table commit through the " +
      "DeltaTable DML engine; bare forms touch every row") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")      // v0
    val v1 = spark.sql(s"DELETE FROM delta.`$t` WHERE id = 2")
      .as[Long].head()
    assert(v1 === 1L)
    assert(spark.sql(s"SELECT id FROM delta.`$t` ORDER BY id")
      .as[Int].collect().toSeq === Seq(1, 3))
    val v2 = spark.sql(
      s"UPDATE delta.`$t` SET salary = salary + 1000, " +
        s"name = concat(name, '!') WHERE id = 1").as[Long].head()
    assert(v2 === 2L)
    assert(spark.sql(s"SELECT name, salary FROM delta.`$t` WHERE id = 1")
      .as[(String, Long)].head() === ("Alice!", 76000L))
    // un-WHERE'd UPDATE touches every row; un-WHERE'd DELETE empties
    spark.sql(s"UPDATE delta.`$t` SET salary = 0")
    assert(spark.sql(s"SELECT SUM(salary) AS s FROM delta.`$t`")
      .as[Long].head() === 0L)
    spark.sql(s"DELETE FROM delta.`$t`")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM delta.`$t`")
      .as[Long].head() === 0L)
    // history records one version per statement
    assert(DeltaTable.latestVersion(t) === 4L)
  }

  test("MERGE INTO upserts from a view, a subquery, and another path " +
      "table; non-upsert WHEN shapes refuse at parse time") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")
    // view source: update Bob, insert Dave
    Seq((2, "Bob2", 1L), (4, "Dave", 2L)).toDF("id", "name", "salary")
      .createOrReplaceTempView("sqlspec_merge_src")
    spark.sql(s"MERGE INTO delta.`$t` AS tgt USING sqlspec_merge_src " +
      "AS src ON tgt.id = src.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT name FROM delta.`$t` ORDER BY id")
      .as[String].collect().toSeq === Seq("Alice", "Bob2", "Carol", "Dave"))
    // subquery source (no aliases, bare column equality)
    spark.sql(s"MERGE INTO delta.`$t` USING " +
      "(SELECT 5 AS id, 'Eve' AS name, CAST(9 AS BIGINT) AS salary) s " +
      "ON id = id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM delta.`$t`")
      .as[Long].head() === 5L)
    // path-table source
    val s2 = freshTable()
    DeltaTable.write(Seq((6, "Frank", 1L)).toDF("id", "name", "salary"),
      s2, "overwrite")
    spark.sql(s"MERGE INTO delta.`$t` USING delta.`$s2` ON id = id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM delta.`$t`")
      .as[Long].head() === 6L)
    // finer WHEN control is not the upsert form: refuse loudly
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO delta.`$t` USING sqlspec_merge_src AS src " +
        "ON id = id WHEN MATCHED THEN DELETE")
    }
    assert(e.getMessage.contains("key-upsert"), e.getMessage)
    // a non-equi ON refuses too
    val e2 = intercept[Exception] {
      spark.sql(s"MERGE INTO delta.`$t` USING sqlspec_merge_src AS src " +
        "ON tgt.id > src.id WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e2.getMessage.contains("conjunction of"), e2.getMessage)
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF resolve on " +
      "path tables — including mapped and DV'd tables") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")      // v0
    DeltaTable.write(Seq((4, "Dave", 1L)).toDF("id", "name", "salary"),
      t, "append")                                               // v1
    DeltaTable.enableDeletionVectors(t)                          // v2
    DeltaTable.delete(spark, t, col("id") === 1)                 // v3 (DV)
    DeltaTable.enableColumnMapping(t)                            // v4
    DeltaTable.renameColumn(t, "salary", "base_pay")             // v5
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM delta.`$t` " +
      "VERSION AS OF 0").as[Long].head() === 3L)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM delta.`$t` " +
      "VERSION AS OF 1").as[Long].head() === 4L)
    // v3 subtracts the DV'd row; v5 serves the renamed schema
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM delta.`$t` " +
      "VERSION AS OF 3").as[Long].head() === 3L)
    assert(spark.sql(s"SELECT base_pay FROM delta.`$t` VERSION AS OF 5 " +
      "WHERE id = 4").as[Long].head() === 1L)
    // the pre-rename column name is what version 1 serves
    assert(spark.sql(s"SELECT salary FROM delta.`$t` VERSION AS OF 1 " +
      "WHERE id = 4").as[Long].head() === 1L)
    // TIMESTAMP AS OF through the same index the options API uses
    val ts1 = new java.sql.Timestamp(
      DeltaLog.commitTimestamps(t).find(_._1 == 1L).get._2)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM delta.`$t` " +
      s"TIMESTAMP AS OF '$ts1'").as[Long].head() === 4L)
    // SQL and the options API resolve identically
    val viaSql = spark.sql(
      s"SELECT id FROM delta.`$t` VERSION AS OF 3 ORDER BY id")
      .as[Int].collect().toSeq
    val viaOpt = spark.read.format("graft-delta").option("versionAsOf", 3)
      .load(t).select("id").as[Int].collect().toSeq.sorted
    assert(viaSql === viaOpt)
    // a non-integer version refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM delta.`$t` VERSION AS OF 'abc'").collect()
    }
    assert(e.getMessage.contains("integer version"), e.getMessage)
  }

  test("everything else delegates: plain SQL and catalog-identifier " +
      "DDL reach Spark's parser untouched") {
    threeRows.createOrReplaceTempView("sqlspec_emp")
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM sqlspec_emp WHERE salary > 70000")
      .as[Long].head() === 2L)
    // a catalog-identifier ALTER TABLE is NOT ours: Spark must raise
    // its own error (table not found), not our unrecognized-clause one
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE no_such_table ADD CONSTRAINT c CHECK (1=1)")
    }
    assert(!e.getMessage.contains("unrecognized clause"),
      s"catalog identifiers must delegate: ${e.getMessage}")
    // catalog-identifier DML is NOT ours either: Spark's own
    // resolution error (unsupported/not-found), never a graft one
    for (dml <- Seq(
        "DELETE FROM sqlspec_emp WHERE id = 1",
        "UPDATE sqlspec_emp SET salary = 0",
        "MERGE INTO sqlspec_emp USING sqlspec_emp s ON 1=1 " +
          "WHEN MATCHED THEN UPDATE SET *")) {
      val ex = intercept[Exception](spark.sql(dml))
      assert(!ex.getMessage.contains("graft") &&
        !ex.getMessage.contains("key-upsert"),
        s"catalog DML must delegate to Spark: $dml -> ${ex.getMessage}")
    }
  }

  test("CONVERT TO DELTA adopts a partitioned parquet dir in place; " +
      "refuses re-convert and a mismatched PARTITIONED BY") {
    val t = freshTable()
    threeRows.withColumn("seg", col("id") % 2)
      .write.partitionBy("seg").parquet(t)
    val dataFilesBefore = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      try w.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p -> java.nio.file.Files.getLastModifiedTime(p)).toList
      finally w.close()
    }
    spark.sql(s"CONVERT TO DELTA parquet.`$t` PARTITIONED BY (seg BIGINT)")
      .collect()
    // version 0, one add per file, partition values decoded
    val snap = DeltaLog.snapshot(t)
    assert(snap.version === 0L)
    assert(snap.files.length === dataFilesBefore.length)
    assert(snap.partitionColumns === Seq("seg"))
    assert(snap.files.forall(f => Set("0", "1")(f.partitionValues("seg"))))
    // zero data movement: every pre-existing file still in place, unmodified
    dataFilesBefore.foreach { case (p, mtime) =>
      assert(java.nio.file.Files.getLastModifiedTime(p) === mtime,
        s"convert must not rewrite $p")
    }
    // the converted table reads identically to the parquet original
    assert(DeltaTable.read(spark, t).orderBy("id")
      .select("id", "name", "salary", "seg").collect().toSeq ===
      spark.read.parquet(t).orderBy("id")
        .select("id", "name", "salary", "seg").collect().toSeq)
    // full citizen: DML works post-convert
    spark.sql(s"DELETE FROM delta.`$t` WHERE id = 1").collect()
    assert(DeltaTable.read(spark, t).count() === 2)
    // refusals: re-convert, and a declared layout that contradicts disk
    intercept[IllegalArgumentException](
      spark.sql(s"CONVERT TO DELTA parquet.`$t`"))
    val t2 = freshTable()
    threeRows.write.parquet(t2)
    intercept[IllegalArgumentException](
      spark.sql(s"CONVERT TO DELTA parquet.`$t2` PARTITIONED BY (seg INT)"))
  }

  test("CONVERT TO DELTA on an unpartitioned dir; stats support skipping") {
    val t = freshTable()
    threeRows.coalesce(1).write.parquet(t)
    spark.sql(s"CONVERT TO DELTA '$t'").collect()
    val snap = DeltaLog.snapshot(t)
    assert(snap.partitionColumns.isEmpty)
    // the convert-time stats job recorded per-file min/max + n
    assert(snap.files.forall(_.stats.get("n").contains("3")),
      snap.files.map(_.stats).toString)
    assert(snap.files.head.stats.get("min.id").contains("1"))
    assert(snap.files.head.stats.get("max.salary").contains("80000"))
  }

  test("CREATE TABLE AS SELECT routes to a delta sink; plain CREATE " +
      "refuses an existing target; OR REPLACE overwrites") {
    val t = freshTable()
    threeRows.createOrReplaceTempView("sqlspec_ctas_src")
    spark.sql(s"CREATE TABLE delta.`$t` USING DELTA PARTITIONED BY (name) " +
      "AS SELECT id, name, salary FROM sqlspec_ctas_src").collect()
    assert(DeltaLog.snapshot(t).partitionColumns === Seq("name"))
    assert(DeltaTable.read(spark, t).count() === 3)
    val ex = intercept[IllegalArgumentException](
      spark.sql(s"CREATE TABLE delta.`$t` AS " +
        "SELECT * FROM sqlspec_ctas_src"))
    assert(ex.getMessage.contains("already exists"))
    spark.sql(s"CREATE OR REPLACE TABLE delta.`$t` AS " +
      "SELECT id FROM sqlspec_ctas_src WHERE id <= 2").collect()
    assert(DeltaTable.read(spark, t).columns.toSeq === Seq("id"))
    assert(DeltaTable.read(spark, t).count() === 2)
    // the replaced version stays time-travelable
    assert(DeltaTable.read(spark, t, versionAsOf = Some(0L)).count() === 3)
    // catalog CTAS delegates to Spark untouched
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE sqlspec_nodb.t AS SELECT 1"))
    assert(!e2.getMessage.contains("graft"), e2.getMessage)
  }

  test("CREATE TABLE SHALLOW CLONE via SQL, with VERSION AS OF") {
    val src = freshTable()
    DeltaTable.write(threeRows, src, "overwrite")          // v0
    DeltaTable.write(threeRows.filter(col("id") === 1), src, "append") // v1
    val clone0 = freshTable()
    val cloneHead = freshTable()
    spark.sql(s"CREATE TABLE delta.`$clone0` SHALLOW CLONE delta.`$src` " +
      "VERSION AS OF 0").collect()
    spark.sql(s"CREATE TABLE delta.`$cloneHead` SHALLOW CLONE " +
      s"delta.`$src`").collect()
    assert(DeltaTable.read(spark, clone0).count() === 3)
    assert(DeltaTable.read(spark, cloneHead).count() === 4)
    // zero-copy: the clone's adds reference the source's bytes
    assert(DeltaLog.snapshot(clone0).files.forall(_.path.startsWith("/")))
  }

  test("COPY INTO loads each source file exactly once; a rewritten " +
      "source file counts as new; schema mismatch refuses") {
    val t = freshTable()
    val src = tempDir("graft-sql-copyinto").toString
    DeltaTable.write(threeRows.limit(0), t, "overwrite") // empty shell
    threeRows.filter(col("id") <= 2).coalesce(1)
      .write.parquet(s"$src/b1")
    val r1 = spark.sql(s"COPY INTO delta.`$t` FROM '$src'").head
    assert(r1.getLong(1) === 1L, "one staged part file loaded")
    assert(DeltaTable.read(spark, t).count() === 2)
    // exact re-run: nothing loads, no commit
    val vBefore = DeltaLog.snapshot(t).version
    val r2 = spark.sql(s"COPY INTO delta.`$t` FROM '$src'").head
    assert(r2.getLong(1) === 0L && r2.getLong(0) === vBefore)
    assert(DeltaTable.read(spark, t).count() === 2)
    // the zone grows: only the gain loads
    threeRows.filter(col("id") === 3).coalesce(1)
      .write.parquet(s"$src/b2")
    assert(spark.sql(s"COPY INTO delta.`$t` FROM '$src'")
      .head.getLong(1) === 1L)
    assert(DeltaTable.read(spark, t).orderBy("id")
      .select("id").as[Int].collect().toSeq === Seq(1, 2, 3))
    // rewriting a source file (same path, new mtime/size) = new file
    threeRows.filter(col("id") === 3).coalesce(1)
      .write.mode("overwrite").parquet(s"$src/b2")
    assert(spark.sql(s"COPY INTO delta.`$t` FROM '$src'")
      .head.getLong(1) === 1L)
    assert(DeltaTable.read(spark, t).count() === 4)
    // the ledger rides the log: one domain per loaded file
    assert(DeltaLog.snapshot(t).domainMetadata.keys
      .count(_.startsWith("graft.copyInto.")) === 3)
    // schema mismatch refuses loudly
    val badSrc = tempDir("graft-sql-copyinto-bad").toString
    threeRows.withColumnRenamed("salary", "wage").coalesce(1)
      .write.parquet(s"$badSrc/b")
    val ex = intercept[IllegalArgumentException](
      spark.sql(s"COPY INTO delta.`$t` FROM '$badSrc'").collect())
    assert(ex.getMessage.contains("does not match"))
    // a missing target refuses (stock contract: CREATE first)
    intercept[IllegalArgumentException](
      spark.sql(s"COPY INTO delta.`${freshTable()}` FROM '$src'").collect())
  }

  test("COPY INTO enforces CHECK constraints and respects partitioning") {
    val t = freshTable()
    DeltaTable.write(threeRows.withColumn("seg", col("id") % 2),
      t, "overwrite", partitionBy = Seq("seg"))
    spark.sql(s"ALTER TABLE delta.`$t` ADD CONSTRAINT pos " +
      "CHECK (salary > 0)")
    val src = tempDir("graft-sql-copyinto-c").toString
    Seq((9, "Niner", 1000L, 1)).toDF("id", "name", "salary", "seg")
      .coalesce(1).write.parquet(s"$src/ok")
    spark.sql(s"COPY INTO delta.`$t` FROM '$src'").collect()
    // the ingested rows landed under the table's partition layout
    val f9 = DeltaLog.snapshot(t).files
      .filter(_.partitionValues.get("seg").contains("1"))
    assert(f9.nonEmpty)
    assert(DeltaTable.read(spark, t).count() === 4)
    Seq((10, "Bad", -5L, 0)).toDF("id", "name", "salary", "seg")
      .coalesce(1).write.parquet(s"$src/bad")
    val ex = intercept[IllegalArgumentException](
      spark.sql(s"COPY INTO delta.`$t` FROM '$src'").collect())
    assert(ex.getMessage.contains("CHECK constraint"))
    assert(DeltaTable.read(spark, t).count() === 4, "aborted load adds nothing")
  }

  test("VACUUM DRY RUN lists without deleting; the real run deletes " +
      "exactly the listed files") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")      // v0
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")      // v1
    val listed = spark.sql(s"VACUUM delta.`$t` RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(listed.nonEmpty, "v0's file must be listed at RETAIN 0")
    // nothing moved: files still on disk, full history still readable
    listed.foreach(f => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(t).resolve(f)), s"dry run must not delete $f"))
    assert(DeltaTable.read(spark, t, Some(0L)).count() === 3,
      "time travel must survive a dry run")
    // the destructive run deletes exactly what the dry run predicted
    val deleted = spark.sql(s"VACUUM delta.`$t` RETAIN 0 HOURS")
      .collect().map(_.getString(0)).toSeq
    assert(deleted.sorted === listed.sorted)
    listed.foreach(f => assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t).resolve(f))))
  }

  test("ALTER TABLE DROP CONSTRAINT lifts enforcement; unknown name " +
      "refuses") {
    val t = freshTable()
    DeltaTable.write(threeRows, t, "overwrite")
    spark.sql(s"ALTER TABLE delta.`$t` ADD CONSTRAINT pos " +
      "CHECK (salary > 0)").collect()
    val bad = Seq((9, "Z", -5L)).toDF("id", "name", "salary")
    intercept[IllegalArgumentException](DeltaTable.write(bad, t, "append"))
    spark.sql(s"ALTER TABLE delta.`$t` DROP CONSTRAINT pos").collect()
    DeltaTable.write(bad, t, "append") // enforcement lifted
    assert(DeltaTable.read(spark, t).count() === 4)
    assert(!DeltaLog.snapshot(t).configuration.contains(
      "delta.constraints.pos"))
    val ex = intercept[IllegalArgumentException](
      spark.sql(s"ALTER TABLE delta.`$t` DROP CONSTRAINT nope").collect())
    assert(ex.getMessage.contains("no CHECK constraint"))
  }

  test("table_changes TVF serves the change feed through pure SQL") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")      // v0
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true") // v1
    DeltaTable.write(threeRows.filter(col("id") === 1).coalesce(1),
      t, "append")                                               // v2
    DeltaTable.delete(spark, t, col("id") === 2)                 // v3
    val viaSql = spark.sql(
      s"SELECT * FROM table_changes('$t', 2, 3) ORDER BY id, _change_type")
      .collect().toSeq
    val viaApi = DeltaTable.changes(spark, t, 2, 3)
      .orderBy("id", "_change_type").collect().toSeq
    assert(viaSql === viaApi)
    assert(viaSql.nonEmpty)
    // two-arg form defaults to the latest version
    val openEnded = spark.sql(
      s"SELECT COUNT(*) AS n FROM table_changes('$t', 2)").head.getLong(0)
    assert(openEnded === viaApi.length)
    // a non-literal path refuses loudly at resolution
    val ex = intercept[Exception](
      spark.sql("SELECT * FROM table_changes(1, 2)").collect())
    assert(ex.getMessage.contains("string literal"))
  }

  test("COPY INTO ledger survives checkpoint + vacuum; convert/copy " +
      "walks never adopt log or staging internals") {
    val t = freshTable()
    val src = tempDir("graft-sql-copyinto-ck").toString
    DeltaTable.write(threeRows.limit(0), t, "overwrite")
    threeRows.coalesce(1).write.parquet(s"$src/b1")
    spark.sql(s"COPY INTO delta.`$t` FROM '$src'").collect()
    // checkpoint the horizon and prune the log prefix: the per-file
    // ledger domains must replay from the checkpoint
    DeltaTable.write(threeRows.filter(col("id") === 1).coalesce(1),
      t, "append")
    DeltaTable.vacuum(t, 1)
    assert(spark.sql(s"COPY INTO delta.`$t` FROM '$src'")
      .head.getLong(1) === 0L,
      "re-run after checkpoint+vacuum must still be a no-op")
    assert(DeltaTable.read(spark, t).count() === 4)
    // a landing zone polluted with delta/staging internals loads only
    // the real files
    val src2 = tempDir("graft-sql-copyinto-dirty").toString
    threeRows.filter(col("id") === 2).coalesce(1)
      .write.parquet(s"$src2/real")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$src2/_delta_log"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$src2/.staging-zz"))
    threeRows.coalesce(1).write.parquet(s"$src2/_delta_log/cp")
    threeRows.coalesce(1).write.parquet(s"$src2/.staging-zz/s")
    assert(spark.sql(s"COPY INTO delta.`$t` FROM '$src2'")
      .head.getLong(1) === 1L, "only the real file loads")
    assert(DeltaTable.read(spark, t).count() === 5)
    // CONVERT refuses to adopt internals too: a parquet dir whose only
    // extra content is staging/log internals converts to just its data
    val t2 = freshTable()
    threeRows.coalesce(1).write.parquet(t2)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$t2/.staging-ab"))
    threeRows.coalesce(1).write.parquet(s"$t2/.staging-ab/x")
    spark.sql(s"CONVERT TO DELTA parquet.`$t2`").collect()
    assert(DeltaTable.read(spark, t2).count() === 3)
  }

  test("RESTORE / SHALLOW CLONE accept TIMESTAMP AS OF; SHOW " +
      "TBLPROPERTIES lists the configuration") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")      // v0
    DeltaTable.write(threeRows.filter(col("id") === 1).coalesce(1),
      t, "append")                                               // v1
    val v0Ts = new java.sql.Timestamp(
      DeltaLog.commitTimestamps(t).find(_._1 == 0L).get._2)
    // timestamp-addressed clone resolves against the SAME index the
    // read path uses
    val clone = freshTable()
    spark.sql(s"CREATE TABLE delta.`$clone` SHALLOW CLONE delta.`$t` " +
      s"TIMESTAMP AS OF '$v0Ts'").collect()
    assert(DeltaTable.read(spark, clone).count() === 3)
    // timestamp-addressed restore rolls back to v0
    spark.sql(s"RESTORE delta.`$t` TO TIMESTAMP AS OF '$v0Ts'").collect()
    assert(DeltaTable.read(spark, t).count() === 3)
    // SHOW TBLPROPERTIES reflects the committed configuration
    spark.sql(s"ALTER TABLE delta.`$t` SET TBLPROPERTIES " +
      "('graft.tier' = 'gold', 'graft.owner' = 'a-team')").collect()
    val props = spark.sql(s"SHOW TBLPROPERTIES delta.`$t`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.tier") === "gold" &&
      props("graft.owner") === "a-team")
    // catalog SHOW TBLPROPERTIES delegates untouched
    val ex = intercept[Exception](
      spark.sql("SHOW TBLPROPERTIES sqlspec_no_such_table").collect())
    assert(!ex.getMessage.contains("graft"), ex.getMessage)
  }

  test("INSERT INTO / OVERWRITE on path tables: positional casts, " +
      "layout preserved, every byte enters through the log") {
    val t = freshTable()
    DeltaTable.write(threeRows.withColumn("seg", col("id") % 2),
      t, "overwrite", partitionBy = Seq("seg"))
    // VALUES insert, positional store-assignment (string -> bigint
    // salary cast, int -> int seg)
    spark.sql(s"INSERT INTO delta.`$t` VALUES (9, 'Dee', '90000', 1)")
      .collect()
    assert(DeltaTable.read(spark, t).count() === 4)
    assert(DeltaTable.read(spark, t).filter(col("id") === 9)
      .head.getLong(2) === 90000L)
    // SELECT insert
    threeRows.createOrReplaceTempView("sqlspec_ins_src")
    spark.sql(s"INSERT INTO delta.`$t` SELECT id + 10, name, salary, " +
      "id % 2 FROM sqlspec_ins_src").collect()
    assert(DeltaTable.read(spark, t).count() === 7)
    // INSERT OVERWRITE replaces data, KEEPS the partition layout, and
    // the pre-overwrite state stays time-travelable
    val vPre = DeltaLog.snapshot(t).version
    spark.sql(s"INSERT OVERWRITE delta.`$t` " +
      "SELECT id, name, salary, id % 2 FROM sqlspec_ins_src").collect()
    assert(DeltaTable.read(spark, t).count() === 3)
    assert(DeltaLog.snapshot(t).partitionColumns === Seq("seg"),
      "INSERT OVERWRITE must keep the committed partition layout")
    assert(DeltaTable.read(spark, t, Some(vPre)).count() === 7)
    // EVERY on-disk parquet is a committed add at some version (no
    // stock InsertIntoHadoopFsRelation bytes past the log)
    val committed = (0L to DeltaLog.snapshot(t).version)
      .flatMap(v => DeltaLog.snapshot(t, Some(v)).files.map(_.path)).toSet
    val tableDir = java.nio.file.Paths.get(t)
    val w = java.nio.file.Files.walk(tableDir)
    val onDisk =
      try w.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => tableDir.relativize(p).toString)
        .filterNot(r => r.startsWith("_delta_log") ||
          r.startsWith(".staging-")).toSet
      finally w.close()
    assert(onDisk.subsetOf(committed), s"unlogged bytes: ${onDisk -- committed}")
    // catalog-identifier INSERT delegates to Spark untouched
    val ex = intercept[Exception](
      spark.sql("INSERT INTO sqlspec_no_table VALUES (1)").collect())
    assert(!ex.getMessage.contains("graft"), ex.getMessage)
  }

  test("INSERT with a column list binds positionally to the LISTED " +
      "names; unrouteable INSERT forms refuse instead of writing " +
      "past the log") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")
    // full-width list in NON-table order: values must land under the
    // listed names, reordered + cast into the table layout
    spark.sql(s"INSERT INTO delta.`$t` (salary, id, name) " +
      "VALUES ('90000', 9, 'Dee')").collect()
    val dee = DeltaTable.read(spark, t).filter(col("id") === 9).head
    assert(dee.getString(1) === "Dee" && dee.getLong(2) === 90000L)
    // column-list count mismatch refuses
    val eMismatch = intercept[Exception](
      spark.sql(s"INSERT INTO delta.`$t` (id, name) VALUES (1, 'x', 2)")
        .collect())
    assert(eMismatch.getMessage.contains("column list"),
      eMismatch.getMessage)
    // an INSERT form the graft parser can't route (PARTITION spec)
    // must refuse LOUDLY — before this guard, Spark planned its own
    // InsertIntoHadoopFsRelationCommand over the substituted relation
    // and wrote parquet past the delta log (orphan bytes; a static-
    // partition OVERWRITE could even delete live committed files)
    val vBefore = DeltaLog.snapshot(t).version
    val ePart = intercept[Exception](
      spark.sql(s"INSERT OVERWRITE delta.`$t` PARTITION (id=1) " +
        "SELECT 'x' AS name, CAST(1 AS BIGINT) AS salary").collect())
    assert(ePart.getMessage.contains("delta path table"), ePart.getMessage)
    assert(DeltaLog.snapshot(t).version === vBefore,
      "a refused INSERT must not commit")
    // ... and no unlogged parquet appeared on disk
    val committed = (0L to vBefore)
      .flatMap(v => DeltaLog.snapshot(t, Some(v)).files.map(_.path)).toSet
    val tableDir = java.nio.file.Paths.get(t)
    val w = java.nio.file.Files.walk(tableDir)
    val onDisk =
      try w.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => tableDir.relativize(p).toString)
        .filterNot(r => r.startsWith("_delta_log") ||
          r.startsWith(".staging-")).toSet
      finally w.close()
    assert(onDisk.subsetOf(committed),
      s"refused INSERT left unlogged bytes: ${onDisk -- committed}")
  }

  test("UPDATE SET/WHERE split is quote-aware: a ' where ' inside a " +
      "string literal neither truncates the assignment nor fakes a " +
      "predicate") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")
    // literal containing ' where ' + a real WHERE (the lazy-regex
    // split used to break the assignment at the literal's ' where ')
    spark.sql(s"UPDATE delta.`$t` SET name = 'as where x' WHERE id = 1")
      .collect()
    assert(DeltaTable.read(spark, t).filter(col("id") === 1)
      .select("name").as[String].head() === "as where x")
    assert(DeltaTable.read(spark, t).filter(col("id") === 2)
      .select("name").as[String].head() === "Bob",
      "rows outside the WHERE must be untouched")
    // same literal with NO where clause: applies to every row
    spark.sql(s"UPDATE delta.`$t` SET name = 'a where b'").collect()
    assert(DeltaTable.read(spark, t).select("name").as[String]
      .collect().toSet === Set("a where b"))
    // DELETE: an unrecognized clause refuses instead of silently
    // delegating to Spark's parser
    val e = intercept[Exception](
      spark.sql(s"DELETE FROM delta.`$t` LIMIT 1"))
    assert(e.getMessage.contains("unrecognized clause"), e.getMessage)
  }

  test("statement scanners honor backslash-escaped quotes: a literal " +
      "containing \\' with keyword-lookalike text still splits at the " +
      "real clause boundaries") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")
    // the escaped quote used to INVERT the scanner's in-string state,
    // so the literal's ' where ' read as a real WHERE and the split
    // refused a perfectly valid statement
    spark.sql(s"UPDATE delta.`$t` " +
      "SET name = 'don\\'t stop where x = 1' WHERE id = 1").collect()
    assert(DeltaTable.read(spark, t).filter(col("id") === 1)
      .select("name").as[String].head() === "don't stop where x = 1")
    assert(DeltaTable.read(spark, t).filter(col("id") === 2)
      .select("name").as[String].head() === "Bob",
      "rows outside the WHERE must be untouched")
    // MERGE: an escaped quote inside the source literal must not
    // derail the USING/ON/WHEN boundary scan
    spark.sql(s"MERGE INTO delta.`$t` USING " +
      "(SELECT 8 AS id, 'it\\'s on when ready' AS name, " +
      "CAST(1 AS BIGINT) AS salary) s ON id = id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(DeltaTable.read(spark, t).filter(col("id") === 8)
      .select("name").as[String].head() === "it's on when ready")
    // comma scanner: an escaped quote inside one assignment must not
    // swallow the next assignment in the SET list
    spark.sql(s"UPDATE delta.`$t` " +
      "SET name = 'a\\'b, c', salary = 99 WHERE id = 2").collect()
    val r2 = DeltaTable.read(spark, t).filter(col("id") === 2)
      .select("name", "salary").head()
    assert(r2.getString(0) === "a'b, c" && r2.getLong(1) === 99L)
  }

  test("legacy escapedStringLiterals=true: literal BOUNDARIES are " +
      "mode-independent, so the scanners' unconditional \\-skip " +
      "matches the lexer in both modes") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")
    val key = "spark.sql.parser.escapedStringLiterals"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      // under the legacy flag the lexer still consumes \' as one unit
      // (only escape INTERPRETATION is skipped — the value keeps the
      // backslash), so the scanner must not end the literal there and
      // the real WHERE still splits
      spark.sql(s"UPDATE delta.`$t` " +
        "SET name = 'a\\'b where x' WHERE id = 1").collect()
      assert(DeltaTable.read(spark, t).filter(col("id") === 1)
        .select("name").as[String].head() === "a\\'b where x",
        "legacy mode keeps the backslash in the value")
      assert(DeltaTable.read(spark, t).filter(col("id") === 2)
        .select("name").as[String].head() === "Bob",
        "rows outside the WHERE must be untouched")
      // a literal can never END in a bare backslash in EITHER mode —
      // Spark's own expression parser refuses it, loudly, so the
      // scanner's skip can't create a silent divergence there
      val e = intercept[Exception](spark.sql(
        s"UPDATE delta.`$t` SET name = 'C:\\dir\\' WHERE id = 1"))
      assert(e.getMessage != null)
    } finally spark.conf.set(key, prev)
  }

  test("MERGE ON qualifiers validate unconditionally: bogus qualifiers " +
      "refuse even when a side lacks an alias; the source's own " +
      "identifier stays a legal qualifier") {
    val t = freshTable()
    DeltaTable.write(threeRows.coalesce(1), t, "overwrite")
    Seq((2, "Bob2", 1L)).toDF("id", "name", "salary")
      .createOrReplaceTempView("sqlspec_qual_src")
    // bogus qualifier with an UNALIASED target: the old isEmpty escape
    // hatch accepted this silently
    val e = intercept[Exception](
      spark.sql(s"MERGE INTO delta.`$t` USING sqlspec_qual_src AS s " +
        "ON bogus.id = s.id WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
    assert(e.getMessage.contains("unknown qualifier"), e.getMessage)
    // the view's own name qualifies its columns even alongside an alias
    spark.sql(s"MERGE INTO delta.`$t` AS tgt USING sqlspec_qual_src AS s " +
      "ON tgt.id = sqlspec_qual_src.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(DeltaTable.read(spark, t).filter(col("id") === 2)
      .select("name").as[String].head() === "Bob2")
    // USING/ON/WHEN boundaries are quote-aware: a source-subquery
    // literal containing ' on ' and ' when ' must not break the split
    // (the old lazy regex split at the literal's ' on ')
    spark.sql(s"MERGE INTO delta.`$t` USING " +
      "(SELECT 7 AS id, 'turn on x when ready' AS name, " +
      "CAST(1 AS BIGINT) AS salary) s ON id = id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(DeltaTable.read(spark, t).filter(col("id") === 7)
      .select("name").as[String].head() === "turn on x when ready")
  }
}
