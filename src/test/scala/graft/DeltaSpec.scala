package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{DeltaLog, DeltaTable}

/** Delta-equivalent ACID layer tests, mirroring the reference's
  * observable Delta behavior (overwrite → append → re-read, count 3→4,
  * examples/example_lakesail_kerberos.py:156-184) plus the invariants
  * the reference only claims (time travel, README.md:302; atomic
  * commits). */
class DeltaSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    tempDir("graft-delta-spec").resolve("t").toString

  private def employees3 = Seq(
    (1, "Alice", 75000L, "2024-01-15"),
    (2, "Bob", 65000L, "2024-01-16"),
    (3, "Carol", 80000L, "2024-01-17"),
  ).toDF("id", "name", "salary", "date")

  private def employee1 = Seq((4, "David", 70000L, "2024-01-18"))
    .toDF("id", "name", "salary", "date")

  /** `*.checkpoint.json` side files in `t`'s log: the parquet
    * checkpoint is the only format, so there must be none. */
  private def jsonCheckpoints(t: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(DeltaLog.logDir(t))
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".checkpoint.json")).toSeq
    finally s.close()
  }

  test("every add of every version carries its file's modificationTime " +
      "(append, merge, update, delete, compact)") {
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.write(employee1, t, "append")
    DeltaTable.merge(spark, t, Seq((2, "Bob", 66000L, "2024-01-16"),
      (5, "Eve", 90000L, "2024-01-19")).toDF("id", "name", "salary", "date"),
      Seq("id"))
    DeltaTable.update(spark, t, $"id" === 1, Map("salary" -> lit(76000L)))
    DeltaTable.delete(spark, t, $"id" === 3)
    DeltaTable.compact(spark, t)
    val mtime = """"modificationTime":(\d+)""".r
    val vs = DeltaLog.versions(t)
    assert(vs === (0L to 5L))
    // a delete that drops a whole file commits no add
    val adds = vs.flatMap(v =>
      Files.readAllLines(DeltaLog.logDir(t).resolve(f"$v%020d.json"))
        .asScala.filter(_.startsWith("""{"add":""")).map(v -> _))
    assert(adds.map(_._1).distinct.size >= 5)
    adds.foreach { case (v, a) => assert(
      mtime.findFirstMatchIn(a).exists(_.group(1).toLong > 0),
      s"version $v add lacks a modificationTime: $a") }
    DeltaLog.snapshot(t).files.foreach(f => assert(f.modificationTime ===
      Files.getLastModifiedTime(java.nio.file.Paths.get(t, f.path)).toMillis))
    assert(DeltaTable.read(spark, t).count() === 4)
  }

  test("overwrite then append: count 3 -> 4 (reference sequence)") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    assert(DeltaTable.read(spark, t).count() === 3)
    DeltaTable.write(employee1, t, "append")
    val df = DeltaTable.read(spark, t)
    assert(df.count() === 4)
    assert(df.select("id").as[Int].collect().sorted === Array(1, 2, 3, 4))
  }

  test("distributed footer stats past the file floor match the driver path") {
    // every staged file's stats come from the task that wrote it, so a
    // many-file commit gets complete, exact stats with no driver pass
    val t = freshTable()
    DeltaTable.write(
      spark.range(200).select(col("id"), (col("id") % 7).as("k"))
        .repartition(10), t, "overwrite")
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.length > 4, s"need > floor files, got ${snap.files.length}")
    snap.files.foreach { f =>
      assert(f.stats.get("n").exists(_.toLong > 0L), s"${f.path}: ${f.stats}")
      assert(f.stats.contains("min.id") && f.stats.contains("max.id"),
        s"${f.path}: ${f.stats}")
    }
    assert(snap.files.map(_.stats("n").toLong).sum === 200L)
    assert(snap.files.map(_.stats("min.id").toLong).min === 0L)
    assert(snap.files.map(_.stats("max.id").toLong).max === 199L)
    assert(DeltaTable.read(spark, t).count() === 200)
  }

  /** Every file under `t` outside `_delta_log`, relative to `t`. */
  private def tableFiles(t: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(t)
    val w = Files.walk(root)
    try w.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString)
      .filterNot(_.startsWith("_delta_log/")).toSeq.sorted
    finally w.close()
  }

  /** The parquet footer of a committed file. */
  private def footerOf(p: java.nio.file.Path) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(p))
    try r.getFooter finally r.close()
  }

  test("committed stats equal each file's footer and partition values its " +
      "dirs, on every table shape and DML; no committer leftovers, no " +
      "empty files, no add for an empty append, no file outside staging " +
      "from a failed write") {
    import java.sql.{Date, Timestamp}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    import org.apache.spark.sql.types.{DataType, StructType}
    def rows(ids: Seq[Int]): DataFrame = ids.map { i =>
      (i, s"name-$i", i * 10L, Date.valueOf(f"2024-01-${i % 28 + 1}%02d"),
        new Timestamp(1700000000000L + i * 1234567L), i * 0.5,
        Seq("a/b", null, "x")(i % 3))
    }.toDF("id", "name", "v", "d", "ts", "x", "p")
    // (name, partition columns, set-up after the first write, the
    // logical column the frames call `name`)
    val shapes: Seq[(String, Seq[String], String => Unit, String)] = Seq(
      ("plain", Nil, _ => (), "name"),
      ("partitioned", Seq("p"), _ => (), "name"),
      ("column-mapped", Nil, { t =>
        DeltaTable.enableColumnMapping(t)
        DeltaTable.renameColumn(t, "name", "label") }, "label"),
      ("row-tracked", Nil, t => { DeltaTable.enableRowTracking(t); () }, "name"),
      ("deletion-vectors", Nil, t => { DeltaTable.enableDeletionVectors(t); () },
        "name"),
      ("change-data-feed", Nil,
        t => { DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true"); () },
        "name"))
    for ((shape, partBy, setUp, nameCol) <- shapes) {
      val t = freshTable()
      def frame(ids: Seq[Int]) = rows(ids).withColumnRenamed("name", nameCol)
      DeltaTable.write(rows(0 until 12), t, "overwrite", partitionBy = partBy)
      setUp(t)
      DeltaTable.write(frame(20 until 26).repartition(3), t, "append")
      DeltaTable.merge(spark, t, frame(Seq(5, 6, 100, 101)), Seq("id"))
      DeltaTable.update(spark, t, $"id" < 3, Map("v" -> ($"v" + 1L)))
      DeltaTable.delete(spark, t, $"id" === 8)
      DeltaTable.compact(spark, t)
      val before = DeltaTable.latestVersion(t)
      DeltaTable.write(frame(Nil), t, "append")
      (before + 1 to DeltaTable.latestVersion(t)).foreach(v =>
        assert(DeltaLog.versionChanges(t, v).adds.isEmpty,
          s"$shape: an empty append committed an add"))
      val adds = DeltaLog.versions(t).flatMap(DeltaLog.versionChanges(t, _).adds)
      assert(adds.nonEmpty)
      adds.foreach { a =>
        val p = java.nio.file.Paths.get(t).resolve(a.path)
        val footer = footerOf(p)
        val sparkSchema = DataType.fromJson(footer.getFileMetaData
          .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
          .asInstanceOf[StructType]
        val statTypes: Map[String, DataType] =
          graft.sources.FooterStats.statTypes(sparkSchema)
        assert(Some(a.stats) === graft.sources.FooterStats.read(p, statTypes),
          s"$shape: ${a.path}")
        assert(a.stats("n").toLong > 0L, s"$shape: empty file ${a.path}")
        val decoded = a.path.split('/').init.map { seg =>
          val eq = seg.indexOf('=')
          unescapePathName(seg.take(eq)) -> unescapePathName(seg.drop(eq + 1))
        }.toMap
        assert(a.partitionValues === decoded, s"$shape: ${a.path}")
      }
      if (partBy.nonEmpty)
        assert(adds.flatMap(_.partitionValues.get("p")).toSet ===
          Set("a/b", "x", "__HIVE_DEFAULT_PARTITION__"))
      val files = tableFiles(t)
      files.foreach { f =>
        val name = f.split('/').last
        assert(!f.split('/').exists(_ == "_temporary") && name != "_SUCCESS" &&
          !name.endsWith(".crc") && !f.startsWith(".staging-"), s"$shape: $f")
        if (name.endsWith(".parquet"))
          assert(footerOf(java.nio.file.Paths.get(t).resolve(f)).getBlocks
            .asScala.map(_.getRowCount).sum > 0L, s"$shape: empty file $f")
      }
      // a write whose task throws commits nothing and leaves its files
      // only inside its staging dir
      val boom = frame(200 until 240).repartition(4).withColumn("id",
        when($"id" === 230, raise_error(lit("boom"))).otherwise($"id"))
      intercept[Exception](DeltaTable.write(boom, t, "append"))
      assert(tableFiles(t).filterNot(_.startsWith(".staging-")) === files,
        s"$shape: a failed write left files outside staging")
    }
  }

  test("two writers stage at once: no JVM-wide lock, INT64 micros " +
      "timestamps, the session's timestamp encoding untouched") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit => PTimeUnit, TimestampLogicalTypeAnnotation}
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val tsBefore = spark.conf.getOption(tsKey)
    // staged-write job intervals: (job id -> (start, end))
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.contains("StagedWriter")))
          starts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (starts.containsKey(e.jobId)) ends.put(e.jobId, e.time)
    }
    val (t1, t2) = (freshTable(), freshTable())
    // each write's one task waits until the other write's task runs:
    // the appends finish only if their staged writes overlap
    ConcurrentStaging.latch = new java.util.concurrent.CountDownLatch(2)
    val meet = udf { (i: Long) =>
      if (i == 0L) {
        ConcurrentStaging.latch.countDown()
        ConcurrentStaging.latch.await(60, TimeUnit.SECONDS)
      }
      i
    }.asNondeterministic()
    def frame = spark.range(0, 500, 1, 1).select(meet($"id").as("id"),
      timestamp_seconds($"id" + 1700000000L).as("ts"))
    spark.sparkContext.addSparkListener(listener)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(t1, t2).map(t => pool.submit(new Callable[Long] {
        def call(): Long = DeltaTable.write(frame, t, "overwrite")
      }))
      fs.foreach(_.get(120, TimeUnit.SECONDS))
      // the listener bus delivers job ends asynchronously
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (ends.size < starts.size && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      pool.shutdown()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(ConcurrentStaging.latch.getCount === 0L)
    val jobs = starts.keySet.asScala.toSeq.map(j => (starts.get(j), ends.get(j)))
    assert(jobs.size === 2, s"staged-write jobs: $jobs")
    val Seq((s1, e1), (s2, e2)) = jobs
    assert(s1 <= e2 && s2 <= e1, s"staged writes did not overlap: $jobs")
    val expected = (0 until 500).map(i =>
      (i.toLong, new java.sql.Timestamp((1700000000L + i) * 1000L)))
    for (t <- Seq(t1, t2)) {
      assert(DeltaTable.read(spark, t).as[(Long, java.sql.Timestamp)]
        .collect().sortBy(_._1).toSeq === expected)
      DeltaLog.snapshot(t).files.foreach { f =>
        val schema = footerOf(java.nio.file.Paths.get(t).resolve(f.path))
          .getFileMetaData.getSchema
        val ts = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType
        assert(ts.getPrimitiveTypeName.name === "INT64")
        ts.getLogicalTypeAnnotation match {
          case a: TimestampLogicalTypeAnnotation =>
            assert(a.getUnit === PTimeUnit.MICROS)
          case other => fail(s"ts annotated $other")
        }
      }
    }
    assert(spark.conf.getOption(tsKey) === tsBefore)
  }

  test("overwrite replaces prior contents entirely") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.write(employee1, t, "overwrite")
    val ids = DeltaTable.read(spark, t).select("id").as[Int].collect()
    assert(ids.toSeq === Seq(4))
  }

  test("time travel: versionAsOf sees historical snapshots") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite") // v0
    DeltaTable.write(employee1, t, "append")     // v1
    DeltaTable.write(employee1, t, "overwrite")  // v2
    assert(DeltaTable.read(spark, t, Some(0L)).count() === 3)
    assert(DeltaTable.read(spark, t, Some(1L)).count() === 4)
    assert(DeltaTable.read(spark, t, Some(2L)).count() === 1)
    assert(DeltaTable.latestVersion(t) === 2L)
  }

  test("schema round-trips through the log (metaData action)") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    val schema = DeltaTable.read(spark, t).schema
    assert(schema.fieldNames.toSeq === Seq("id", "name", "salary", "date"))
    assert(schema("salary").dataType.typeName === "long")
  }

  test("commit is refused when the target version already exists") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite") // v0
    // a racing writer that read v(-1) must NOT be able to commit v0 again
    val ex = intercept[IllegalStateException] {
      DeltaLog.commit(t, -1L, Seq(DeltaLog.commitInfoAction("RACE")))
    }
    assert(ex.getMessage.contains("concurrent commit"))
    assert(DeltaTable.read(spark, t).count() === 3) // table unharmed
  }

  test("aggregation over a delta read (verify_complete_setup.py:256 shape)") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    val avgSal = DeltaTable.read(spark, t).agg(avg($"salary")).head().getDouble(0)
    assert(avgSal === (75000.0 + 65000.0 + 80000.0) / 3)
  }

  test("property: random op sequences agree with an in-memory model") {
    // model-based check across the WHOLE mutation surface: the delta
    // table and a plain Map[id -> (name, salary)] receive the same
    // randomized op sequence; after every op the table read must equal
    // the model exactly. Seeded — failures reproduce.
    val rnd = new scala.util.Random(4242)
    def rows(m: Map[Int, (String, Long)]) = m.toSeq.map {
      case (id, (n, s)) => (id, n, s, "2024-01-01") }
    def df(m: Map[Int, (String, Long)]) =
      rows(m).toDF("id", "name", "salary", "date")
    val t = freshTable()
    var model = Map(1 -> ("a", 10L), 2 -> ("b", 20L), 3 -> ("c", 30L))
    DeltaTable.write(df(model), t, "overwrite")
    for (step <- 1 to 12) {
      rnd.nextInt(5) match {
        case 0 => // append fresh ids
          val fresh = (1 to 1 + rnd.nextInt(3))
            .map(_ => 100 + rnd.nextInt(900)).distinct
            .filterNot(model.contains)
            .map(id => id -> (s"n$id", id * 10L)).toMap
          if (fresh.nonEmpty) {
            DeltaTable.write(df(fresh), t, "append")
            model ++= fresh
          }
        case 1 => // overwrite with a shuffled subset
          val keep = model.filter(_ => rnd.nextBoolean())
          val next = if (keep.nonEmpty) keep else model
          DeltaTable.write(df(next), t, "overwrite")
          model = next
        case 2 => // delete a salary band
          val cut = 10L + rnd.nextInt(5000)
          DeltaTable.delete(spark, t, $"salary" < cut)
          model = model.filter { case (_, (_, s)) => s >= cut }
        case 3 => // update a salary band
          val cut = 10L + rnd.nextInt(5000)
          DeltaTable.update(spark, t, $"salary" >= cut,
            Map("salary" -> ($"salary" + 1L)))
          model = model.map { case (id, (n, s)) =>
            id -> (n, if (s >= cut) s + 1 else s) }
        case 4 => // merge: touch half the ids + one new
          val upd = model.keys.filter(_ => rnd.nextBoolean())
            .map(id => id -> (s"u$id", id * 11L)).toMap
          val ins = Map((1000 + rnd.nextInt(100)) ->
            ("ins", rnd.nextInt(100).toLong))
          DeltaTable.merge(spark, t, df(upd ++ ins), Seq("id"))
          model = model ++ upd ++ ins
      }
      val got = DeltaTable.read(spark, t).collect()
        .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got === model, s"divergence after step $step")
    }
    // every historical version must still be readable (no torn state)
    DeltaLog.versions(t).foreach(v =>
      DeltaTable.read(spark, t, Some(v)).count())
  }

  test("property: append is count-additive over random batches") {
    val t = freshTable()
    val rnd = new scala.util.Random(42)
    var expected = 0L
    DeltaTable.write(spark.range(0).toDF("id"), t, "overwrite")
    for (_ <- 1 to 5) {
      val n = 1 + rnd.nextInt(50)
      DeltaTable.write(spark.range(n).toDF("id"), t, "append")
      expected += n
      assert(DeltaTable.read(spark, t).count() === expected)
    }
  }

  test("format(\"graft-delta\") write/read/time-travel via public API") {
    val t = freshTable()
    employees3.write.format("graft-delta").mode("overwrite").save(t)
    employee1.write.format("graft-delta").mode("append").save(t)
    val latest = spark.read.format("graft-delta").load(t)
    assert(latest.count() === 4)
    assert(latest.schema.fieldNames.toSeq === Seq("id", "name", "salary", "date"))
    val v0 = spark.read.format("graft-delta").option("versionAsOf", "0").load(t)
    assert(v0.count() === 3)
    // column pruning path (PrunedScan)
    assert(latest.select("id").as[Int].collect().sorted === Array(1, 2, 3, 4))
    // errorifexists honors existing table
    intercept[IllegalStateException] {
      employees3.write.format("graft-delta").mode("error").save(t)
    }
  }

  test("data skipping: range filters prune files by min/max stats") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan, EqualTo, StringStartsWith}
    val t = freshTable()
    // 4 range-partitioned files → disjoint id ranges per file
    DeltaTable.write(
      spark.range(1000).toDF("id")
        .withColumn("bucket", $"id" % 10)
        .repartitionByRange(4, $"id"),
      t, "overwrite")
    val snap = graft.sources.DeltaLog.snapshot(t)
    assert(snap.files.length === 4)
    assert(snap.files.forall(_.stats.contains("min.id")))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(snap.schemaJson.get).asInstanceOf[org.apache.spark.sql.types.StructType]
    // a selective range must keep fewer files than the table has
    val hi = DeltaTable.liveFilesAfterSkipping(snap, Seq(GreaterThan("id", 900L)), schema)
    assert(hi.length < 4 && hi.nonEmpty, s"expected pruning, kept ${hi.length}")
    val lo = DeltaTable.liveFilesAfterSkipping(snap, Seq(LessThan("id", 10L)), schema)
    assert(lo.length === 1)
    val point = DeltaTable.liveFilesAfterSkipping(snap, Seq(EqualTo("id", 500L)), schema)
    assert(point.length === 1)
    // unsupported filter shapes never prune
    val unk = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(StringStartsWith("id", "5")), schema)
    assert(unk.length === 4)
    // end-to-end through the format API: results identical to full scan
    val full = spark.read.format("graft-delta").load(t)
      .filter($"id" > 900).count()
    assert(full === 99)
  }

  test("concurrent appends: optimistic retry lands every batch exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = freshTable()
    DeltaTable.write(spark.range(0).toDF("id"), t, "overwrite") // v0
    val writers = (1 to 4).map { i =>
      Future { DeltaTable.write(spark.range(i * 100, i * 100 + 10).toDF("id"), t, "append") }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val ids = DeltaTable.read(spark, t).select("id").as[Long].collect().sorted
    assert(ids.length === 40) // 4 writers × 10 rows, none lost or doubled
    assert(ids.toSet === (1 to 4).flatMap(i => i * 100 until i * 100 + 10).map(_.toLong).toSet)
    assert(DeltaTable.latestVersion(t) === 4L) // v0 + 4 serialized commits
  }

  test("vacuum drops unreferenced files, keeps retained versions readable") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")  // v0: 3 rows
    DeltaTable.write(employee1, t, "overwrite")   // v1: 1 row (v0 files orphaned)
    DeltaTable.write(employees3, t, "append")     // v2: 4 rows
    val dataFilesBefore = new java.io.File(t).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val deleted = DeltaTable.vacuum(t, keepVersions = 2)
    assert(deleted.nonEmpty, "expected v0's files to be vacuumed")
    val dataFilesAfter = new java.io.File(t).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(dataFilesAfter === dataFilesBefore - deleted.length)
    // retained versions replay through the checkpoint
    assert(DeltaTable.read(spark, t).count() === 4)            // v2
    assert(DeltaTable.read(spark, t, Some(1L)).count() === 1)  // v1 (checkpointed)
    // pruned history fails loudly, not with missing-file reads
    val ex = intercept[IllegalArgumentException] {
      DeltaTable.read(spark, t, Some(0L)).count()
    }
    assert(ex.getMessage.contains("version 0 not in"))
    // table still writable after vacuum
    DeltaTable.write(employee1, t, "append")
    assert(DeltaTable.read(spark, t).count() === 5)
  }

  test("append with mismatched schema is rejected loudly") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    // extra column, no mergeSchema → reject
    val extra = Seq((5, "Eve", 90000L, "2024-01-19", "NL"))
      .toDF("id", "name", "salary", "date", "country")
    val ex = intercept[IllegalArgumentException] {
      DeltaTable.write(extra, t, "append")
    }
    assert(ex.getMessage.contains("schema mismatch"))
    // incompatible type for a shared column → always rejected
    val wrongType = Seq((6, "Frank", "not-a-number", "2024-01-20"))
      .toDF("id", "name", "salary", "date")
    val ex2 = intercept[IllegalArgumentException] {
      DeltaTable.write(wrongType, t, "append", mergeSchema = true)
    }
    assert(ex2.getMessage.contains("incompatible types"))
    assert(DeltaTable.read(spark, t).count() === 3) // table unharmed
  }

  test("schema evolution decision: rename/drop and type changes are typed rejections") {
    import graft.sources.SchemaEvolutionException
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    // the rename signature — drops `date`, adds `hired` in one append —
    // is rejected EVEN under mergeSchema: without column-mapping
    // metadata it would silently split one logical column in two
    val renamed = Seq((7, "Gina", 70000L, "2024-02-01"))
      .toDF("id", "name", "salary", "hired")
    val ex = intercept[SchemaEvolutionException] {
      DeltaTable.write(renamed, t, "append", mergeSchema = true)
    }
    assert(ex.kind === "rename-or-drop")
    assert(ex.getMessage.contains("hired") && ex.getMessage.contains("date"))
    // type WIDENING (int id -> long) is a rejected type change too:
    // accepting it would need reader-side casts the engine never does
    val widened = Seq((8L, "Hank", 80000L, "2024-02-02"))
      .toDF("id", "name", "salary", "date")
    val ex2 = intercept[SchemaEvolutionException] {
      DeltaTable.write(widened, t, "append", mergeSchema = true)
    }
    assert(ex2.kind === "type-change")
    assert(ex2.getMessage.contains("widening"))
    // both rejections left the table unharmed and appendable
    DeltaTable.write(employee1, t, "append")
    assert(DeltaTable.read(spark, t).count() === 4)
  }

  test("mergeSchema append evolves additively; old rows read null") {
    val t = freshTable()
    employees3.write.format("graft-delta").mode("overwrite").save(t)
    val extra = Seq((5, "Eve", 90000L, "2024-01-19", "NL"))
      .toDF("id", "name", "salary", "date", "country")
    extra.write.format("graft-delta").mode("append")
      .option("mergeSchema", "true").save(t)
    val df = spark.read.format("graft-delta").load(t)
    assert(df.schema.fieldNames.toSeq ===
      Seq("id", "name", "salary", "date", "country"))
    assert(df.count() === 4)
    assert(df.filter($"country".isNull).count() === 3)
    assert(df.filter($"country" === "NL").select("id").as[Int].head() === 5)
    // appending the OLD shape (missing the new column) still works
    // under mergeSchema: the merged schema is unchanged, rows read null
    DeltaTable.write(employee1, t, "append", mergeSchema = true)
    assert(spark.read.format("graft-delta").load(t)
      .filter($"country".isNull).count() === 4)
  }

  test("vacuum: immutable commits, side checkpoint, crashed prefix ignored") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite") // v0: 3 rows
    DeltaTable.write(employee1, t, "overwrite")  // v1: 1 row, removes v0 files
    val logDir = java.nio.file.Paths.get(t, "_delta_log")
    val v0File = logDir.resolve("%020d.json".format(0L))
    val v1File = logDir.resolve("%020d.json".format(1L))
    val v0Content = Files.readAllBytes(v0File)
    val v1Content = Files.readAllBytes(v1File)
    assert(DeltaTable.vacuum(t, keepVersions = 1).nonEmpty)
    // committed version files are IMMUTABLE: the retained v1.json is
    // byte-identical after vacuum; the horizon summary lives in a SIDE
    // checkpoint, with _last_checkpoint pointing at it (Delta's shape)
    assert(java.util.Arrays.equals(Files.readAllBytes(v1File), v1Content),
      "vacuum must not rewrite a committed version file")
    assert(Files.exists(DeltaLog.parquetCheckpointPath(t, 1L)))
    assert(jsonCheckpoints(t).isEmpty)
    assert(new String(Files.readAllBytes(logDir.resolve("_last_checkpoint")))
      .startsWith("""{"version":1,"size":"""))
    // simulate a crash between checkpoint write and prefix delete: the
    // pruned v0 survives on disk — replay starts at the newest
    // checkpoint <= target, so v0's adds cannot resurrect
    Files.write(v0File, v0Content)
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.length === 1)
    assert(DeltaTable.read(spark, t).count() === 1)
  }

  test("protocol parquet checkpoint alone replays the table (stock-delta shape)") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")              // v0
    DeltaTable.write(employee1, t, "append")                  // v1
    DeltaTable.write(employee1, t, "append")                  // v2
    assert(DeltaTable.vacuum(t, keepVersions = 2).nonEmpty === false)
    // nothing unreferenced yet — force a horizon: overwrite + vacuum
    DeltaTable.write(employees3, t, "overwrite")              // v3
    assert(DeltaTable.vacuum(t, keepVersions = 1).nonEmpty)
    val logDir = java.nio.file.Paths.get(t, "_delta_log")
    val pq = DeltaLog.parquetCheckpointPath(t, 3L)
    assert(Files.exists(pq), "vacuum must write the protocol parquet checkpoint")
    // the checkpoint carries protocol 1/2 and a stable metaData id
    val ck = spark.read.parquet(pq.toString)
    val proto = ck.filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.minWriterVersion").collect()
    assert(proto.map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((1, 2)))
    val meta = ck.filter(col("metaData").isNotNull)
      .select("metaData.id", "metaData.format.provider").collect()
    assert(meta.length === 1 && meta(0).getString(0) === DeltaLog.tableId(t))
    assert(meta(0).getString(1) === "parquet")
    // its schema is the one Spark's writer gives delta-spark's layout
    import org.apache.spark.sql.types._
    val str = StringType
    val strMap = MapType(str, str)
    val strList = ArrayType(str)
    assert(ck.schema === StructType(Seq(
      StructField("txn", StructType(Seq(
        StructField("appId", str), StructField("version", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", str), StructField("partitionValues", strMap),
        StructField("size", LongType), StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType), StructField("stats", str),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", str), StructField("pathOrInlineDv", str),
          StructField("sizeInBytes", LongType),
          StructField("cardinality", LongType)))),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", str), StructField("configuration", str),
        StructField("removed", BooleanType)))),
      StructField("remove", StructType(Seq(
        StructField("path", str), StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", str),
        StructField("format", StructType(Seq(
          StructField("provider", str), StructField("options", strMap)))),
        StructField("schemaString", str),
        StructField("partitionColumns", strList),
        StructField("configuration", strMap)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", strList),
        StructField("writerFeatures", strList)))))))
    // no JSON side checkpoint exists: replay must reconstruct the
    // snapshot from the parquet checkpoint ALONE
    assert(jsonCheckpoints(t).isEmpty)
    val rows = DeltaTable.read(spark, t)
      .select("id", "name").collect().map(_.getInt(0)).sorted
    assert(rows.toSeq === Seq(1, 2, 3))
    // ...and stays writable: an append replays the parquet checkpoint
    // for its read snapshot, then commits v4 on top
    DeltaTable.write(employee1, t, "append")
    assert(DeltaTable.read(spark, t).count() === 4)
    // v0 of every table carries the protocol action (interop: stock
    // readers refuse logs without one)
    val t2 = freshTable()
    DeltaTable.write(employees3, t2, "overwrite")
    val v0 = new String(Files.readAllBytes(
      DeltaLog.logDir(t2).resolve("%020d.json".format(0L))))
    assert(v0.contains(""""protocol":{"minReaderVersion":1,"minWriterVersion":2}"""))
    assert(v0.contains(s""""id":"${DeltaLog.tableId(t2)}""""))
  }

  test("restore: rolls live state back, preserves history and time travel") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")          // v0: 3 rows
    DeltaTable.write(employee1, t, "append")              // v1: 4 rows
    DeltaTable.write(employee1, t, "overwrite")           // v2: 1 row
    val v3 = DeltaTable.restore(t, 0L)                    // v3 = v0 state
    assert(v3 === 3L, "restore must be a NEW version, not a rewrite")
    assert(DeltaTable.read(spark, t).count() === 3)
    // pre-restore states still time-travel (nothing deleted)
    assert(DeltaTable.read(spark, t, Some(1L)).count() === 4)
    assert(DeltaTable.read(spark, t, Some(2L)).count() === 1)
    // restore to the current version is a no-op (no new commit)
    assert(DeltaTable.restore(t, 3L) === 3L)
    assert(graft.sources.DeltaLog.versions(t).max === 3L)
    // history reports the op trail, newest first
    val ops = DeltaTable.history(spark, t)
      .select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(ops.head === ((3L, "RESTORE")))
    assert(ops.map(_._2).toSeq ===
      Seq("RESTORE", "OVERWRITE", "APPEND", "OVERWRITE"))
  }

  test("format(\"delta\") short-name alias works verbatim") {
    val t = freshTable()
    employees3.write.format("delta").mode("overwrite").save(t)
    employee1.write.format("delta").mode("append").save(t)
    assert(spark.read.format("delta").load(t).count() === 4)
    assert(spark.read.format("delta").option("versionAsOf", "0")
      .load(t).count() === 3)
  }

  test("stats JSON survives values with trailing backslashes and quotes") {
    val t = freshTable()
    val tricky = Seq(
      (1, "ends-in-backslash\\"),
      (2, "quote\"inside"),
      (3, "back\\slash\"quote\\"),
    ).toDF("id", "label")
    DeltaTable.write(tricky, t, "overwrite")
    val snap = DeltaLog.snapshot(t)
    // every stats map must have parsed back cleanly (n + min/max pairs)
    assert(snap.files.forall(_.stats.get("n").exists(_.toLong > 0)))
    val byFilter = spark.read.format("graft-delta").load(t)
      .filter($"label" === "ends-in-backslash\\")
    assert(byFilter.count() === 1)
    assert(spark.read.format("graft-delta").load(t).count() === 3)
  }

  test("graft-delta read plans as a vectorized parquet FileSourceScanExec") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    employees3.write.format("graft-delta").mode("overwrite").save(t)
    val df = spark.read.format("graft-delta").load(t).filter($"id" > 1)
    // AQE wraps shuffling plans; this one is scan+filter, but use
    // sparkPlan (pre-AQE) as the stable place to find the scan node
    val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }
    assert(scan.isDefined, s"no FileSourceScanExec in:\n${df.queryExecution.sparkPlan}")
    assert(scan.get.supportsColumnar, "parquet scan should be columnar")
    val pushed = scan.get.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(id,1)"), s"filter not pushed: $pushed")
    assert(df.count() === 2)
  }

  test("column-mapped read still plans as a vectorized columnar scan " +
      "with pruned projection") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.enableColumnMapping(t)
    DeltaTable.renameColumn(t, "salary", "base_pay")
    val df = spark.read.format("graft-delta").load(t)
      .filter($"base_pay" > 70000L).select("name")
    val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }
    assert(scan.isDefined, s"no FileSourceScanExec in:\n${df.queryExecution.sparkPlan}")
    // the mapping must not cost the scan its columnar/vectorized path —
    // MappedParquetFileFormat only renames schemas at reader construction
    assert(scan.get.supportsColumnar, "mapped parquet scan should stay columnar")
    // column pruning: the scan's output schema carries only the needed
    // LOGICAL columns (the physical rename happens below the plan)
    val readCols = scan.get.requiredSchema.fieldNames.toSet
    assert(readCols === Set("name", "base_pay"),
      s"projection not pruned through the mapping: $readCols")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("Alice", "Carol"))
  }

  test("column mapping: drop-then-rename name collision cannot poison " +
      "pushdown — untranslatable filters drop instead of passing through " +
      "with logical names") {
    // The trap: DROP y, then RENAME x -> y. Logical `y` now maps to
    // physical `x`, but old files still STORE a physical column named
    // `y` (the dropped one's bytes). Any pushdown filter that reaches
    // the parquet reader still carrying the logical name `y` evaluates
    // against the DROPPED column's bytes. We arm it: a file whose
    // dropped-y is ALL NULL but whose x satisfies the predicate — an
    // untranslated IsNotNull("y") (Spark auto-adds it for any filtered
    // column) would row-group-prune that file and silently lose rows.
    val t = freshTable()
    DeltaTable.write(Seq((2, 3, Option(99))).toDF("id", "x", "y"),
      t, "overwrite")                                            // v0
    DeltaTable.enableColumnMapping(t)                            // v1
    // own file: physical y all-null, x = 10 (survives the predicate)
    DeltaTable.write(Seq((1, 10, Option.empty[Int])).toDF("id", "x", "y"),
      t, "append")                                               // v2
    DeltaTable.dropColumn(t, "y")                                // v3
    DeltaTable.renameColumn(t, "x", "y")                         // v4
    // WHERE y > 5 → Spark pushes IsNotNull(y) + GreaterThan(y, 5); both
    // must translate to physical `x` (or drop) before touching bytes
    val got = spark.read.format("graft-delta").load(t)
      .filter($"y" > 5).select("id", "y").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(got.toSeq === Seq((1, 10)),
      s"pushdown against the dropped column's bytes lost rows: ${got.toSeq}")
    // same collision through DeltaTable.read's stats-skipping consult
    import org.apache.spark.sql.sources.{GreaterThan, IsNotNull}
    val viaStats = DeltaTable.read(spark, t, None,
      Seq(IsNotNull("y"), GreaterThan("y", 5)))
      .collect().map(_.getInt(0))
    assert(viaStats.toSeq === Seq(1),
      s"stats skipping consulted the wrong physical column: ${viaStats.toSeq}")
  }

  test("translateFilter: full shape coverage, conjunct-weakening under " +
      "And, strictness under Not, drop of unknown shapes") {
    import org.apache.spark.sql.sources._
    import graft.sources.ColumnMapping.translateFilter
    val m = Map("y" -> "x", "z" -> "z-phys")
    assert(translateFilter(IsNotNull("y"), m) === Some(IsNotNull("x")))
    assert(translateFilter(In("y", Array(1, 2)), m).collect {
      case In(c, _) => c } === Some("x"))
    assert(translateFilter(StringStartsWith("z", "a"), m) ===
      Some(StringStartsWith("z-phys", "a")))
    // attribute outside the mapping: filter drops (a mapped snapshot
    // maps EVERY schema column, so a miss is not a real column)
    assert(translateFilter(EqualTo("ghost", 1), m) === None)
    // And: the untranslatable conjunct drops alone (weakening is safe)
    assert(translateFilter(
      And(GreaterThan("y", 5), EqualTo("ghost", 1)), m) ===
      Some(GreaterThan("x", 5)))
    // Or: either side untranslatable → whole filter drops
    assert(translateFilter(
      Or(GreaterThan("y", 5), EqualTo("ghost", 1)), m) === None)
    // Not: NO weakening below a negation — Not(And(a, ghost)) must not
    // become Not(a), which would prune rows satisfying ¬(a∧ghost)
    assert(translateFilter(
      Not(And(GreaterThan("y", 5), EqualTo("ghost", 1))), m) === None)
    assert(translateFilter(Not(EqualTo("y", 5)), m) ===
      Some(Not(EqualTo("x", 5))))
  }

  test("compact merges small files; history and data survive") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite") // v0
    for (_ <- 1 to 4) DeltaTable.write(employee1, t, "append") // v1..v4
    val before = DeltaLog.snapshot(t)
    assert(before.files.length >= 5)
    val v = DeltaTable.compact(spark, t) // v5: same rows, fewer files
    assert(v === 5L)
    val after = DeltaLog.snapshot(t)
    assert(after.files.length === 1)
    assert(DeltaTable.read(spark, t).count() === 7)
    assert(DeltaTable.read(spark, t).agg(sum($"salary")).head().getLong(0) ===
      employees3.agg(sum($"salary")).head().getLong(0) + 4 * 70000L)
    // pre-compaction versions still time-travel (files not yet vacuumed)
    assert(DeltaTable.read(spark, t, Some(4L)).count() === 7)
    assert(DeltaTable.read(spark, t, Some(0L)).count() === 3)
    // compacting an already-compact table is a no-op
    assert(DeltaTable.compact(spark, t) === 5L)
    assert(DeltaLog.snapshot(t).version === 5L)
    // vacuum now reclaims the pre-compaction small files
    assert(DeltaTable.vacuum(t, keepVersions = 1).nonEmpty)
    assert(DeltaTable.read(spark, t).count() === 7)
  }

  test("compact racing concurrent appends never loses rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    for (_ <- 1 to 3) DeltaTable.write(employee1, t, "append")
    // compaction's remove-set is pinned to its snapshot; appends that
    // land mid-compaction must survive in the final state regardless
    // of interleaving (compact re-runs on conflict, never clobbers)
    val compactor = Future { DeltaTable.compact(spark, t) }
    val appender = Future {
      (1 to 3).foreach(_ => DeltaTable.write(employee1, t, "append"))
    }
    Await.result(Future.sequence(Seq(compactor, appender)), 180.seconds)
    assert(DeltaTable.read(spark, t).count() === 3 + 3 + 3)
  }

  test("partitioned graft-delta: log layout, pruning, append, compact") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    employees3.write.format("graft-delta").partitionBy("date")
      .mode("overwrite").save(t) // v0
    val snap0 = DeltaLog.snapshot(t)
    assert(snap0.partitionColumns === Seq("date"))
    assert(snap0.files.nonEmpty)
    assert(snap0.files.forall(f => f.path.startsWith("date=") &&
      f.partitionValues.get("date").nonEmpty))

    // same-layout append through the public API (layout comes from the log)
    employee1.write.format("graft-delta").mode("append").save(t) // v1
    val full = spark.read.format("graft-delta").load(t)
    assert(full.count() === 4)
    assert(full.select("id", "date").as[(Int, String)].collect().toMap ===
      Map(1 -> "2024-01-15", 2 -> "2024-01-16",
        3 -> "2024-01-17", 4 -> "2024-01-18"))

    // partition pruning: only the matching partition's files are read
    val pruned = spark.read.format("graft-delta").load(t)
      .filter($"date" === "2024-01-15")
    assert(pruned.collect().map(_.getAs[Int]("id")).toSeq === Seq(1))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.toString.contains("date")),
      s"no partition filter on scan: ${scan.partitionFilters}")
    val liveInPartition = DeltaLog.snapshot(t).files
      .count(_.partitionValues.get("date").contains("2024-01-15"))
    assert(scan.metrics("numFiles").value === liveInPartition)
    assert(liveInPartition < DeltaLog.snapshot(t).files.length)

    // a mismatched append layout is rejected loudly
    val err = intercept[IllegalArgumentException] {
      DeltaTable.write(employee1, t, "append", partitionBy = Seq("name"))
    }
    assert(err.getMessage.contains("partition"))

    // one file per partition is compaction's floor: nothing to merge yet
    val preNoop = DeltaLog.snapshot(t)
    assert(DeltaTable.compact(spark, t) === preNoop.version,
      "compact with <=1 file per partition must be a no-op")

    // accrete a second small file in ONE partition, then compact
    // merges within the layout
    employee1.write.format("graft-delta").mode("append").save(t) // v2
    assert(DeltaLog.snapshot(t).files
      .count(_.partitionValues("date") == "2024-01-18") === 2)
    DeltaTable.compact(spark, t) // v3
    val snapC = DeltaLog.snapshot(t)
    assert(snapC.partitionColumns === Seq("date"))
    assert(snapC.files.forall(_.path.startsWith("date=")))
    assert(snapC.files.count(_.partitionValues("date") == "2024-01-18") === 1)
    // idempotent again at the new floor
    assert(DeltaTable.compact(spark, t) === snapC.version,
      "re-compacting an already-compact partitioned table must be a no-op")
    assert(spark.read.format("graft-delta").load(t).count() === 5)
    assert(spark.read.format("graft-delta").option("versionAsOf", 0)
      .load(t).count() === 3)

    // vacuum reclaims the replaced files INSIDE partition subdirs
    val deleted = DeltaTable.vacuum(t, keepVersions = 1)
    assert(deleted.nonEmpty)
    assert(deleted.forall(_.startsWith("date=")),
      s"expected partition-relative paths, got $deleted")
    assert(spark.read.format("graft-delta").load(t).count() === 5)
  }

  test("partitioned graft-delta prunes on non-string partition types") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    employees3.write.format("graft-delta").partitionBy("id")
      .mode("overwrite").save(t)
    val df = spark.read.format("graft-delta").load(t)
    assert(df.schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType) // type from committed schema
    val pruned = df.filter($"id" >= 2)
    assert(pruned.collect().map(_.getAs[Int]("id")).sorted.toSeq === Seq(2, 3))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.metrics("numFiles").value === 2,
      "int-typed partition predicate must prune to the two matching dirs")
  }

  test("DML delete: touched-file rewrite only; history and no-ops intact") {
    val t = freshTable()
    employees3.write.format("graft-delta").partitionBy("date")
      .mode("overwrite").save(t) // one file per date partition
    val before = DeltaLog.snapshot(t).files.map(_.path).toSet
    DeltaTable.delete(spark, t, $"id" === 2) // only date=2024-01-16 touched
    val after = DeltaLog.snapshot(t).files.map(_.path).toSet
    assert(before.filterNot(_.startsWith("date=2024-01-16")).subsetOf(after),
      "untouched partitions' files must not be rewritten")
    assert(!after.exists(_.startsWith("date=2024-01-16")),
      "a fully-deleted file is removed without a replacement")
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(1, 3))
    // pre-delete history still travels
    assert(spark.read.format("graft-delta").option("versionAsOf", 0)
      .load(t).count() === 3)
    // a delete matching nothing commits nothing
    val v = DeltaTable.latestVersion(t)
    assert(DeltaTable.delete(spark, t, $"id" === 99) === v)
  }

  test("DML update: conditional set on touched files only") {
    val t = freshTable()
    employees3.write.format("graft-delta").partitionBy("date")
      .mode("overwrite").save(t)
    val before = DeltaLog.snapshot(t).files.map(_.path).toSet
    DeltaTable.update(spark, t, $"salary" < 70000L,
      Map("salary" -> ($"salary" + 1000L), "name" -> concat($"name", lit("*"))))
    val rows = DeltaTable.read(spark, t).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows(2) === (("Bob*", 66000L)))   // matched: both SETs applied
    assert(rows(1) === (("Alice", 75000L)))  // unmatched row untouched
    assert(rows(3) === (("Carol", 80000L)))
    // only Bob's partition file was rewritten
    val after = DeltaLog.snapshot(t).files.map(_.path).toSet
    assert(before.filterNot(_.startsWith("date=2024-01-16")).subsetOf(after))
    // partition columns cannot be SET
    val ex = intercept[IllegalArgumentException] {
      DeltaTable.update(spark, t, $"id" === 1, Map("date" -> lit("2025-01-01")))
    }
    assert(ex.getMessage.contains("partition columns"))
    // pre-update history still travels
    assert(DeltaTable.read(spark, t, Some(0L))
      .filter($"name" === "Bob").count() === 1)
  }

  test("DML delete racing a concurrent append loses no rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    // delete's remove-set is pinned to its scanned snapshot; if the
    // append wins the version race the delete re-runs against the new
    // state. David's 70000 salary survives the <70000 predicate either
    // way, so the final state is interleaving-independent.
    val deleter = Future { DeltaTable.delete(spark, t, $"salary" < 70000L) }
    val appender = Future { DeltaTable.write(employee1, t, "append") }
    Await.result(Future.sequence(Seq(deleter, appender)), 180.seconds)
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(1, 3, 4)) // Bob (65000) gone, David survived the race
  }

  test("DML merge upserts: matched replaced, unmatched inserted") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    val src = Seq((2, "Bob2", 66000L, "2024-01-16"),
        (9, "Zed", 50000L, "2024-01-20"))
      .toDF("id", "name", "salary", "date")
    DeltaTable.merge(spark, t, src, Seq("id"))
    val rows = DeltaTable.read(spark, t).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows.size === 4)
    assert(rows(2) === (("Bob2", 66000L)))  // updated
    assert(rows(9) === (("Zed", 50000L)))   // inserted
    assert(rows(1) === (("Alice", 75000L))) // untouched
    // pre-merge history still travels
    assert(DeltaTable.read(spark, t, Some(0L)).count() === 3)
    // duplicate source keys are an ambiguous upsert
    val ex = intercept[IllegalArgumentException] {
      DeltaTable.merge(spark, t, src.union(src), Seq("id"))
    }
    assert(ex.getMessage.contains("duplicate keys"))
    // merge into a partitioned table keeps the layout
    val tp = freshTable()
    employees3.write.format("graft-delta").partitionBy("date")
      .mode("overwrite").save(tp)
    DeltaTable.merge(spark, tp, src, Seq("id"))
    assert(DeltaLog.snapshot(tp).files.forall(_.path.startsWith("date=")))
    assert(DeltaTable.read(spark, tp).count() === 4)
  }

  test("timestampAsOf resolves the latest commit at or before the time") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite") // v0
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    DeltaTable.write(employee1, t, "append")     // v1
    assert(spark.read.format("graft-delta")
      .option("timestampAsOf", between.toString).load(t).count() === 3)
    assert(spark.read.format("graft-delta")
      .option("timestampAsOf", System.currentTimeMillis.toString)
      .load(t).count() === 4)
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("graft-delta").option("timestampAsOf", "100").load(t)
    }
    assert(ex.getMessage.contains("predates"))
    intercept[IllegalArgumentException] {
      spark.read.format("graft-delta").option("versionAsOf", 0)
        .option("timestampAsOf", between.toString).load(t)
    }
  }

  test("torn log (missing middle version) is rejected, not merged") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite") // v0
    DeltaTable.write(employee1, t, "append")     // v1
    DeltaTable.write(employee1, t, "append")     // v2
    Files.delete(java.nio.file.Paths.get(t, "_delta_log",
      "%020d.json".format(1L))) // corrupt: hole in the log
    val ex = intercept[IllegalArgumentException] { DeltaLog.snapshot(t) }
    assert(ex.getMessage.contains("not contiguous"))
  }

  test("8 concurrent appenders: every write lands exactly once, log replays whole") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = DeltaTable.write(
            Seq((100 + i, s"W$i", 1000L * i, "2024-02-01"))
              .toDF("id", "name", "salary", "date"), t, "append")
        })
      }
      // every writer's returned version is distinct (each commit won
      // its own CREATE_NEW race, none piggybacked or was lost)
      val versions = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.distinct.length === 8, s"versions: $versions")
    } finally pool.shutdown()
    assert(DeltaTable.latestVersion(t) === 8)
    val ids = DeltaTable.read(spark, t).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq
    assert(ids === (Seq(1, 2, 3) ++ (101 to 108)), s"ids: $ids")
    // no torn intermediate: every historical version still replays
    (0L to 8L).foreach(v =>
      assert(DeltaTable.read(spark, t, Some(v)).count() === 3 + v))
  }

  test("concurrent appenders racing across the checkpoint boundary: " +
      "no lost writes, checkpoint lands, replay stays whole") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                 // v0
    // 14 racing appends → v1..v14 crosses the periodic-checkpoint
    // version; whichever writer commits v10 ALSO writes the checkpoint
    // (post-commit, best-effort) while the others race past it
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 14).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = DeltaTable.write(
            Seq((200 + i, s"C$i", 100L * i, "2024-03-01"))
              .toDF("id", "name", "salary", "date"), t, "append")
        })
      }
      val versions = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.distinct.length === 14, s"versions: $versions")
    } finally pool.shutdown()
    assert(DeltaTable.latestVersion(t) === 14)
    assert(DeltaLog.checkpointVersions(t).contains(10L),
      s"checkpoint missing: ${DeltaLog.checkpointVersions(t)}")
    assert(DeltaTable.read(spark, t).count() === 17)
    // the checkpoint a racing writer produced equals the replay
    // (validator cross-checks checkpoint completeness vs 0..10)
    import scala.sys.process._
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code === 0, s"validator rejected the raced checkpoint:\n$out")
  }

  test("CHECK constraints: enforced on write/update/merge, survive every rewrite") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    // adding a constraint the data violates is refused
    val pre = intercept[IllegalArgumentException] {
      DeltaTable.addCheckConstraint(spark, t, "rich", "salary > 70000")
    }
    assert(pre.getMessage.contains("existing rows violate"))
    DeltaTable.addCheckConstraint(spark, t, "positive_salary", "salary > 0")
    // a violating append fails loudly and leaves no orphan rows
    val vBefore = DeltaTable.latestVersion(t)
    val bad = intercept[IllegalArgumentException] {
      DeltaTable.write(Seq((9, "Mallory", -5L, "2024-01-19"))
        .toDF("id", "name", "salary", "date"), t, "append")
    }
    assert(bad.getMessage.contains("positive_salary"))
    assert(DeltaTable.latestVersion(t) === vBefore)
    assert(DeltaTable.read(spark, t).count() === 3)
    // a clean append passes; NULL evaluates as pass (SQL standard)
    DeltaTable.write(
      Seq((4, "David", java.lang.Long.valueOf(70000L), "2024-01-18"),
        (5, "Eve", null.asInstanceOf[java.lang.Long], "2024-01-19"))
        .toDF("id", "name", "salary", "date"), t, "append")
    assert(DeltaTable.read(spark, t).count() === 5)
    // DML UPDATE cannot SET rows outside the contract
    val upd = intercept[IllegalArgumentException] {
      DeltaTable.update(spark, t, col("id") === 1,
        Map("salary" -> lit(-1L)))
    }
    assert(upd.getMessage.contains("positive_salary"))
    // MERGE upserts are gated too
    val mrg = intercept[IllegalArgumentException] {
      DeltaTable.merge(spark, t,
        Seq((6, "Trent", -2L, "2024-01-20"))
          .toDF("id", "name", "salary", "date"), Seq("id"))
    }
    assert(mrg.getMessage.contains("positive_salary"))
    // the property survives overwrite, compact and DML delete (the
    // carried-forward configuration), and still bites afterwards
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.write(employee1, t, "append")
    DeltaTable.compact(spark, t)
    DeltaTable.delete(spark, t, col("id") === 2)
    val post = intercept[IllegalArgumentException] {
      DeltaTable.write(Seq((9, "Mallory", -5L, "2024-01-19"))
        .toDF("id", "name", "salary", "date"), t, "append")
    }
    assert(post.getMessage.contains("positive_salary"))
  }

  test("protocol: base 1/2; first CHECK constraint upgrades writer to 3; " +
      "protocol+constraints survive parquet-only checkpoint replay") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    val s0 = DeltaLog.snapshot(t)
    assert(s0.minReaderVersion === 1 && s0.minWriterVersion === 2)
    // first constraint upgrades minWriterVersion to 3 ATOMICALLY (same
    // commit) — a stock writer that can't enforce constraints must
    // refuse to append, not violate them
    DeltaTable.addCheckConstraint(spark, t, "positive_salary", "salary > 0")
    assert(DeltaLog.snapshot(t).minWriterVersion === 3)
    // a second constraint leaves the already-upgraded protocol alone
    DeltaTable.addCheckConstraint(spark, t, "named", "length(name) > 0")
    assert(DeltaLog.snapshot(t).minWriterVersion === 3)
    // ordinary appends inherit the upgraded protocol via replay
    DeltaTable.write(employee1, t, "append")
    assert(DeltaLog.snapshot(t).minWriterVersion === 3)
    // vacuum to a checkpoint; with no JSON side file, replay comes from
    // the PROTOCOL parquet checkpoint alone: protocol and configuration
    // (the constraints) both survive
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.vacuum(t, 1)
    val horizon = DeltaLog.checkpointVersions(t).max
    assert(Files.exists(DeltaLog.parquetCheckpointPath(t, horizon)))
    assert(jsonCheckpoints(t).isEmpty)
    val s2 = DeltaLog.snapshot(t)
    assert(s2.minReaderVersion === 1 && s2.minWriterVersion === 3)
    assert(s2.checkConstraints.map(_._1).toSet ===
      Set("named", "positive_salary"))
    val bad = intercept[IllegalArgumentException] {
      DeltaTable.write(Seq((9, "Mallory", -5L, "2024-01-19"))
        .toDF("id", "name", "salary", "date"), t, "append")
    }
    assert(bad.getMessage.contains("positive_salary"))
  }

  test("constraint added concurrently with violating writes: no committed " +
      "version ever holds unvalidated rows") {
    // Race addCheckConstraint against violating appends, repeatedly.
    // Legal outcomes per run: the constraint lands first and every
    // later bad write aborts (including a write whose commit RETRIES
    // past the constraint — the re-validation path), or a bad row
    // lands first and the constraint add is refused. Illegal (the bug
    // this pins): constraint committed AND a later version holds a
    // violating row.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      for (round <- 1 to 4) {
        val t = freshTable()
        DeltaTable.write(employees3, t, "overwrite")
        val writers = (1 to 5).map { i =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean =
              try { DeltaTable.write(
                Seq((200 + i, s"bad$i", -1L * i, "2024-03-01"))
                  .toDF("id", "name", "salary", "date"), t, "append"); true }
              catch { case e: IllegalArgumentException
                  if e.getMessage.contains("positive_salary") => false }
          })
        }
        val constrainer = pool.submit(
          new java.util.concurrent.Callable[Option[Long]] {
            def call(): Option[Long] =
              try Some(DeltaTable.addCheckConstraint(
                spark, t, "positive_salary", "salary > 0"))
              catch { case e: IllegalArgumentException
                  if e.getMessage.contains("existing rows violate") => None }
          })
        writers.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        constrainer.get(120, java.util.concurrent.TimeUnit.SECONDS) match {
          case Some(_) =>
            // constraint holds ⇒ the FINAL state must satisfy it: any
            // violating row that snuck into a later version is the bug
            val bad = DeltaTable.read(spark, t)
              .filter(col("salary") < 0).count()
            assert(bad === 0, s"round $round: $bad violating rows " +
              "committed after the constraint")
          case None =>
            // a bad row won the race — then no constraint governs it
            assert(DeltaLog.snapshot(t).checkConstraints.isEmpty)
        }
      }
    } finally pool.shutdown()
  }

  test("delta wire format: the independent python validator passes a " +
      "full-featured table, including checkpoint-vs-replay completeness") {
    import scala.sys.process._
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                       // v0
    DeltaTable.write(employee1, t, "append")                           // v1
    DeltaTable.addCheckConstraint(spark, t, "positive_salary", "salary > 0") // v2
    DeltaTable.write(Seq((5, "Eve", 50000L, "2024-01-19"))
      .toDF("id", "name", "salary", "date"), t, "append",
      txn = Some(("app-x", 7L)))                                       // v3
    DeltaTable.delete(spark, t, col("id") === 2)                       // v4
    // vacuum writes the horizon checkpoint in BOTH formats and prunes
    // the version prefix; restore the pruned JSONs from a backup so
    // the validator can ALSO prove checkpoint == replay(0..horizon)
    val logDir = java.nio.file.Paths.get(t, "_delta_log")
    val backup = tempDir("graft-logbak")
    val vjson = {
      val s = Files.list(logDir)
      try s.iterator.asScala.filter(
        _.getFileName.toString.matches("\\d{20}\\.json")).toSeq
      finally s.close()
    }
    vjson.foreach(p => Files.copy(p, backup.resolve(p.getFileName.toString)))
    DeltaTable.vacuum(t, 2)
    vjson.foreach { p =>
      if (!Files.exists(p))
        Files.copy(backup.resolve(p.getFileName.toString), p)
    }
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code === 0, s"delta_validate.py failed:\n$out")
    assert(out.toString.contains("[OK]"))
  }

  test("delta wire format: validator passes a column-mapped table and " +
      "rejects a file staged under a diverged logical name") {
    import scala.sys.process._
    def runValidator(t: String): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                 // v0
    DeltaTable.enableColumnMapping(t)                            // v1
    DeltaTable.renameColumn(t, "salary", "base_pay")             // v2
    DeltaTable.dropColumn(t, "date")                             // v3
    DeltaTable.write(Seq((4, "David", 70000L))
      .toDF("id", "name", "base_pay"), t, "append")              // v4
    val (code, out) = runValidator(t)
    assert(code === 0, s"validator failed a legal mapped table:\n$out")
    assert(out.contains("[OK]"))
    // tamper: stage a file whose parquet columns use the LOGICAL name
    // (what a mapping-unaware writer would produce) and add it to the
    // log — the validator must notice the diverged name in the bytes
    val rogue = Seq((9, "Mallory", 1L)).toDF("id", "name", "base_pay")
    val rogueDir = tempDir("graft-rogue")
      .resolve("d").toString
    rogue.coalesce(1).write.parquet(rogueDir)
    val roguePart = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(java.nio.file.Paths.get(rogueDir))
      try s.iterator.asScala.find(_.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.copy(roguePart, java.nio.file.Paths.get(t, "rogue.parquet"))
    val snap = DeltaLog.snapshot(t)
    DeltaLog.commit(t, snap.version, Seq(
      DeltaLog.commitInfoAction("APPEND"),
      DeltaLog.metaDataAction(snap.schemaJson.get, snap.partitionColumns,
        DeltaLog.tableId(t), snap.configuration),
      DeltaLog.addAction("rogue.parquet",
        Files.size(java.nio.file.Paths.get(t, "rogue.parquet")), Map.empty,
        Map.empty)))
    val (code2, out2) = runValidator(t)
    assert(code2 !== 0, "validator must reject logically-named bytes " +
      s"in a mapped table:\n$out2")
    assert(out2.contains("LOGICAL column name"))
  }

  test("delta wire format: the validator rejects an unstable metaData id") {
    import scala.sys.process._
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite") // v0
    DeltaTable.write(employee1, t, "append")     // v1
    val v1 = java.nio.file.Paths.get(t, "_delta_log", "%020d.json".format(1L))
    val tampered = new String(Files.readAllBytes(v1), "UTF-8")
      .replaceFirst("\"id\":\"[0-9a-f-]+\"",
        "\"id\":\"00000000-dead-beef-0000-000000000000\"")
    Files.write(v1, tampered.getBytes("UTF-8"))
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code === 1, s"validator must flag the tampered id:\n$out")
    assert(out.toString.contains("unstable"), out.toString)
  }

  test("delta wire format: partitioned layout validates; tampered partitionValues rejected") {
    import scala.sys.process._
    def run(t: String): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val t = freshTable()
    employees3.write.format("graft-delta").partitionBy("date")
      .mode("overwrite").save(t)                                 // v0
    DeltaTable.write(employee1, t, "append",
      partitionBy = Seq("date"))                                 // v1
    val (c0, o0) = run(t)
    assert(c0 === 0, "the partitioned table must validate clean " +
      s"(partitionValues/layout/column-exclusion):\n$o0")
    // tamper v1's add: claim a partition date its hive path does not
    // carry — exactly the drift that silently breaks partition pruning
    val v1 = java.nio.file.Paths.get(t, "_delta_log", "%020d.json".format(1L))
    val txt = new String(Files.readAllBytes(v1), "UTF-8")
    val tampered = txt.replaceFirst(
      "\"partitionValues\":\\{\"date\":\"[^\"]+\"\\}",
      "\"partitionValues\":{\"date\":\"1999-12-31\"}")
    assert(tampered != txt,
      "fixture: v1 should carry a partitionValues entry to tamper")
    Files.write(v1, tampered.getBytes("UTF-8"))
    val (c1, o1) = run(t)
    assert(c1 === 1, s"validator must flag the tampered partitionValues:\n$o1")
    assert(o1.contains("lacks directory segment"), o1)
  }

  test("zorder: both dimensions prune after the rewrite; content unchanged") {
    import org.apache.spark.sql.types.{DataType, StructType}
    import org.apache.spark.sql.sources.LessThanOrEqual
    val t = freshTable()
    // 64x64 uniform grid, round-robin-scattered over 8 files: before
    // the rewrite every file spans the full range of BOTH columns
    val grid = spark.range(4096)
      .select($"id", ($"id" / 64).cast("long").as("a"),
        ($"id" % 64).as("b"), ($"id" * 3 % 97).as("v"))
    DeltaTable.write(grid.repartition(8), t, "overwrite")
    def kept(f: org.apache.spark.sql.sources.Filter): Int = {
      val snap = graft.sources.DeltaLog.snapshot(t)
      val schema = DataType.fromJson(snap.schemaJson.get)
        .asInstanceOf[StructType]
      DeltaTable.liveFilesAfterSkipping(snap, Seq(f), schema).length
    }
    assert(kept(LessThanOrEqual("a", 7L)) === 8,
      "scattered layout: a-filter cannot prune")
    assert(kept(LessThanOrEqual("b", 7L)) === 8,
      "scattered layout: b-filter cannot prune")
    val before = spark.read.format("graft-delta").load(t)
      .orderBy("id").collect().toSeq
    DeltaTable.zorder(spark, t, Seq("a", "b"), 8)
    val snap = graft.sources.DeltaLog.snapshot(t)
    assert(snap.files.length === 8)
    // each file now covers a curve segment = a bounded (a, b)
    // rectangle, so an eighth-of-the-domain filter on EITHER column
    // keeps a strict minority of files — a plain sort by `a` would
    // prune `a` perfectly and `b` not at all
    val aKept = kept(LessThanOrEqual("a", 7L))
    val bKept = kept(LessThanOrEqual("b", 7L))
    assert(aKept < 8 && aKept <= 5, s"a-filter kept $aKept of 8")
    assert(bKept < 8 && bKept <= 5, s"b-filter kept $bKept of 8")
    // layout-only: content identical, history preserved, time travel
    // still sees the scattered version
    val after = spark.read.format("graft-delta").load(t)
      .orderBy("id").collect().toSeq
    assert(after === before)
    assert(DeltaTable.read(spark, t, versionAsOf = Some(0L)).count() === 4096)
    // partitioned tables refuse loudly
    val tp = freshTable()
    grid.write.format("graft-delta").partitionBy("b").save(tp)
    val e = intercept[IllegalArgumentException] {
      DeltaTable.zorder(spark, tp, Seq("a", "v"), 4)
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("zorder generalizes to 3 dimensions: every clustered column " +
      "prunes; content unchanged") {
    import org.apache.spark.sql.types.{DataType, StructType}
    import org.apache.spark.sql.sources.LessThanOrEqual
    val t = freshTable()
    // 16x16x16 grid scattered over 8 files: no column prunes before
    val grid = spark.range(4096)
      .select($"id", ($"id" / 256).cast("long").as("a"),
        ($"id" / 16 % 16).cast("long").as("b"), ($"id" % 16).as("c"))
    DeltaTable.write(grid.repartition(8), t, "overwrite")
    def kept(f: org.apache.spark.sql.sources.Filter): Int = {
      val snap = graft.sources.DeltaLog.snapshot(t)
      val schema = DataType.fromJson(snap.schemaJson.get)
        .asInstanceOf[StructType]
      DeltaTable.liveFilesAfterSkipping(snap, Seq(f), schema).length
    }
    for (c <- Seq("a", "b", "c"))
      assert(kept(LessThanOrEqual(c, 7L)) === 8,
        s"scattered layout: $c-filter cannot prune")
    val before = spark.read.format("graft-delta").load(t)
      .orderBy("id").collect().toSeq
    // 16 files over the 3-D curve: the deepest-interleaved dimension
    // (a) alternates every curve-eighth = every TWO files, so each of
    // its pruned half-domains wholly contains files to drop. (At 8
    // files the file width equals a's alternation period and sampled
    // range boundaries can make every file straddle — the degenerate
    // pairing the wider split avoids; boundaries come from
    // repartitionByRange's SAMPLING, so exact counts vary run to run
    // and the bounds below carry margin.)
    DeltaTable.zorder(spark, t, Seq("a", "b", "c"), 16)
    // a half-domain filter on ANY of the three clustered columns must
    // prune — a 2-D curve would leave the third column spanning every
    // file; the shallower the dimension's interleave depth, the
    // tighter the bound (c's top bit splits the curve in half)
    for ((c, bound) <- Seq(("a", 13), ("b", 11), ("c", 10))) {
      val n = kept(LessThanOrEqual(c, 7L))
      assert(n <= bound, s"$c-filter kept $n of 16 after 3-D zorder")
    }
    val after = spark.read.format("graft-delta").load(t)
      .orderBy("id").collect().toSeq
    assert(after === before)
    // arity guards
    intercept[IllegalArgumentException] {
      DeltaTable.zorder(spark, t, Seq("a"))
    }
    intercept[IllegalArgumentException] {
      DeltaTable.zorder(spark, t, Seq("a", "b", "c", "a", "b"))
    }
  }

  test("batch change feed: per-version insert tags; rewrite versions fail loudly") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                    // v0
    DeltaTable.write(employee1, t, "append")                        // v1
    DeltaTable.write(Seq((5, "Eve", 90000L, "2024-01-19"))
      .toDF("id", "name", "salary", "date"), t, "append")           // v2
    // the initial overwrite of a fresh table is itself append-only
    val v0 = DeltaTable.changes(spark, t, 0L, 0L)
    assert(v0.count() === 3)
    assert(v0.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(0L))
    val feed = DeltaTable.changes(spark, t, 1L, 2L).collect()
      .map(r => r.getAs[Int]("id") ->
        ((r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))))
      .toMap
    assert(feed === Map(4 -> (("insert", 1L)), 5 -> (("insert", 2L))))
    // a DML rewrite inside the range cannot be attributed row-level
    DeltaTable.delete(spark, t, col("id") === 1)                    // v3
    val e = intercept[IllegalStateException] {
      DeltaTable.changes(spark, t, 2L, 3L).collect()
    }
    assert(e.getMessage.contains("version 3"))
    // ...but ranges that stop before it still serve
    assert(DeltaTable.changes(spark, t, 0L, 2L).count() === 5)
  }

  test("change data feed: DML stages sidecars; changes() crosses " +
      "delete/update/merge versions row-accurately") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                     // v0
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true") // v1
    DeltaTable.write(employee1, t, "append")                         // v2
    DeltaTable.delete(spark, t, $"id" === 2)                         // v3
    DeltaTable.update(spark, t, $"id" === 3,
      Map("salary" -> lit(90000L)))                                  // v4
    DeltaTable.merge(spark, t,
      Seq((4, "David", 71000L, "2024-01-18"), (6, "Frank", 50000L, "2024-02-01"))
        .toDF("id", "name", "salary", "date"), Seq("id"))            // v5
    val feed = DeltaTable.changes(spark, t, 2L, 5L)
      .select("id", "salary", "_change_type", "_commit_version").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(feed === Set(
      (4, 70000L, "insert", 2L),
      (2, 65000L, "delete", 3L),
      (3, 80000L, "update_preimage", 4L),
      (3, 90000L, "update_postimage", 4L),
      (4, 70000L, "update_preimage", 5L),
      (4, 71000L, "update_postimage", 5L),
      (6, 50000L, "insert", 5L)))
    // sidecars are NEVER table data: the snapshot references none and
    // every read path serves exactly the live rows
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.forall(f => !f.path.startsWith("_change_data")),
      s"cdc sidecar leaked into the snapshot: ${snap.files.map(_.path)}")
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(1, 3, 4, 6))
    // compaction moves bytes but changes no rows: transparent in range
    DeltaTable.compact(spark, t, maxFileBytes = 1L << 30)            // v6
    assert(DeltaTable.changes(spark, t, 5L, 6L).count() === 3)
    // an incremental consumer replaying the WHOLE feed reconstructs
    // the table: inserts minus deletes, postimages over preimages
    val whole = DeltaTable.changes(spark, t, 0L, 6L)
    val reconstructed = whole.filter($"_change_type" === "insert")
      .select("id", "salary")
      .except(whole.filter($"_change_type" === "delete").select("id", "salary"))
      .join(whole.filter($"_change_type" === "update_preimage").select("id"),
        Seq("id"), "left_anti")
      .unionByName(whole.filter($"_change_type" === "update_postimage")
        .groupBy("id").agg(org.apache.spark.sql.functions.max_by(
          col("salary"), col("_commit_version")).as("salary")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(reconstructed === Map(1 -> 75000L, 3 -> 90000L, 4 -> 71000L,
      6 -> 50000L))
    // wire format: independent validator accepts the cdc actions and
    // reconciles change rows against the file actions
    import scala.sys.process._
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code === 0, s"delta_validate.py rejected the CDF table:\n$out")
  }

  test("change data feed: DML with CDF off still fails the feed loudly; " +
      "enabling mid-history serves from the enable point") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                     // v0
    DeltaTable.delete(spark, t, $"id" === 1)                         // v1 (no CDF)
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true") // v2
    DeltaTable.delete(spark, t, $"id" === 2)                         // v3 (CDF)
    val e = intercept[IllegalStateException] {
      DeltaTable.changes(spark, t, 0L, 3L).collect()
    }
    assert(e.getMessage.contains("version 1") &&
      e.getMessage.contains("enableChangeDataFeed"))
    val afterEnable = DeltaTable.changes(spark, t, 2L, 3L)
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(afterEnable.toSeq === Seq((2, "delete")))
  }

  test("change data feed: vacuum keeps sidecars of retained versions, " +
      "collects those of pruned versions") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                     // v0
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true") // v1
    DeltaTable.delete(spark, t, $"id" === 1)                         // v2
    DeltaTable.write(employee1, t, "append")                         // v3
    DeltaTable.delete(spark, t, $"id" === 2)                         // v4
    val prunedCdc = DeltaLog.versionChanges(t, 2L).cdc.map(_.path)
    val keptCdc = DeltaLog.versionChanges(t, 4L).cdc.map(_.path)
    assert(prunedCdc.nonEmpty && keptCdc.nonEmpty)
    DeltaTable.vacuum(t, keepVersions = 2)                           // keep v3,v4
    assert(keptCdc.forall(p =>
      Files.exists(java.nio.file.Paths.get(t).resolve(p))),
      "retained version's sidecar must survive vacuum")
    assert(prunedCdc.forall(p =>
      !Files.exists(java.nio.file.Paths.get(t).resolve(p))),
      "pruned version's sidecar is unreadable garbage and must be collected")
    // the retained range still serves
    val feed = DeltaTable.changes(spark, t, 4L, 4L)
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(feed.toSeq === Seq((2, "delete")))
  }

  test("change data feed under column mapping: sidecars store physical " +
      "names, the feed serves logical") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                     // v0
    DeltaTable.enableColumnMapping(t)                                // v1
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true") // v2
    DeltaTable.renameColumn(t, "salary", "base_pay")                 // v3
    DeltaTable.delete(spark, t, $"id" === 1)                         // v4
    val feed = DeltaTable.changes(spark, t, 4L, 4L)
    assert(feed.columns.contains("base_pay"))
    val row = feed.select("id", "name", "base_pay", "_change_type")
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(row.toSeq === Seq((1, "Alice", 75000L, "delete")))
    // the sidecar file itself stores the FROZEN physical name
    val cdcPath = DeltaLog.versionChanges(t, 4L).cdc.head.path
    val physCols = spark.read.parquet(
      java.nio.file.Paths.get(t).resolve(cdcPath).toString).columns.toSet
    assert(physCols.contains("salary") && !physCols.contains("base_pay"),
      s"sidecar columns: $physCols")
    assert(physCols.contains("_change_type"))
  }

  private def runValidator(t: String): Unit = {
    import scala.sys.process._
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code === 0, s"delta_validate.py rejected the table:\n$out")
  }

  test("deletion vectors: a point delete moves ZERO data files — the " +
      "commit re-adds the same file with a sidecar bitmap") {
    val t = freshTable()
    // one 3-row file: a 1-row delete is under the half-dead threshold
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableDeletionVectors(t)                          // v1
    val filesBefore = DeltaLog.snapshot(t).files.map(_.path).toSet
    DeltaTable.delete(spark, t, $"id" === 2)                     // v2
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.map(_.path).toSet === filesBefore,
      "a vectored delete must not add or remove any data file path")
    val vectored = snap.files.filter(_.dv.isDefined)
    assert(vectored.map(_.dv.get.cardinality).sum === 1L)
    // protocol rose to the features gate, listing the feature
    assert(snap.minReaderVersion === 3 && snap.minWriterVersion === 7)
    assert(snap.readerFeatures.contains("deletionVectors"))
    // both read paths subtract the dead row
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(1, 3))
    assert(spark.read.format("graft-delta").load(t)
      .select("id").as[Int].collect().sorted === Array(1, 3))
    // pushdown through the DV format stays correct (the fast reader
    // serves unvectored files; the slow one drops its filters)
    assert(spark.read.format("graft-delta").load(t)
      .filter($"salary" > 60000L).select("id").as[Int].collect().sorted
      === Array(1, 3))
    // time travel to v0 sees all three rows (pre-DV adds carry none)
    assert(DeltaTable.read(spark, t, Some(0L)).count() === 3)
    runValidator(t)
  }

  test("deletion vectors: DML works under a table path containing a " +
      "space — the scan's %-encoded file_path render still matches " +
      "the driver-resolved plan keys") {
    // `_metadata.file_path` renders percent-encoded ("dir with space"
    // → dir%20with%20space); before round 11 the DV DML plan keyed
    // per-file maps by the DECODED path, so on such tables the keys
    // never matched and DELETE/UPDATE silently no-op'd (empty new-
    // deletion sets). This pins the decode at every DML call site.
    val t = tempDir("graft dv spec")
      .resolve("t with space").toString
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableDeletionVectors(t)                          // v1
    val filesBefore = DeltaLog.snapshot(t).files.map(_.path).toSet
    DeltaTable.delete(spark, t, $"id" === 2)                     // v2
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.map(_.path).toSet === filesBefore,
      "the delete must take the DV path (no file rewrite)")
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum === 1L,
      "the delete must actually mark a row dead, not silently no-op")
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(1, 3))
    // UPDATE on the same table: marks the old row dead + stages the new
    DeltaTable.update(spark, t, $"id" === 3,
      Map("salary" -> (lit(90000L): org.apache.spark.sql.Column)))
    assert(DeltaTable.read(spark, t).filter($"id" === 3)
      .select("salary").as[Long].head() === 90000L)
    runValidator(t)
    // row tracking under a spaced PARTITION dir: the per-file base-id
    // literal map must hit even though the scan renders the partition
    // value's space as %20
    val tp = tempDir("graft dv spec").resolve("p").toString
    DeltaTable.write(
      Seq((1, "a b", 10L), (2, "a b", 20L), (3, "c", 30L))
        .toDF("id", "grp", "v"),
      tp, "overwrite", partitionBy = Seq("grp"))
    DeltaTable.enableRowTracking(tp)
    val ids = DeltaTable.readWithRowIds(spark, tp)
      .select("_row_id").as[Long].collect()
    assert(ids.length === 3 && ids.distinct.length === 3,
      s"row ids must resolve (not null-collapse) under encoded " +
        s"partition dirs; got ${ids.toSeq}")
  }

  test("deletion vectors: DML works under a table path containing a " +
      "LITERAL percent escape — the dual-form scan key matches " +
      "whichever render the scan produces") {
    // A directory literally named `sale%20off` is a valid path. The
    // round-11 fix decoded the scan render UNCONDITIONALLY, so a PLAIN
    // render of this path would mis-decode `%20` to a space and the
    // per-file DV map keys would never match — the same silent-no-op
    // DML class, reintroduced for literal-% paths. The map now carries
    // BOTH the raw and decoded forms, so either render hits.
    val t = tempDir("graft-dv-pct")
      .resolve("sale%20off").resolve("t").toString
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableDeletionVectors(t)                          // v1
    val filesBefore = DeltaLog.snapshot(t).files.map(_.path).toSet
    DeltaTable.delete(spark, t, $"id" === 2)                     // v2
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.map(_.path).toSet === filesBefore,
      "the delete must take the DV path (no file rewrite)")
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum === 1L,
      "the delete must actually mark a row dead, not silently no-op")
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(1, 3))
    DeltaTable.update(spark, t, $"id" === 3,
      Map("salary" -> (lit(90000L): org.apache.spark.sql.Column)))
    assert(DeltaTable.read(spark, t).filter($"id" === 3)
      .select("salary").as[Long].head() === 90000L)
    runValidator(t)
  }

  test("deletion vectors: scans stay VECTORIZED under a live vector — " +
      "Batched: true, pushdown reaches the reader, splits allowed") {
    // Round 10: DvScanRewrite (GraftExtensions) re-plans the row-based
    // DV format as a vectorized scan + codegen'd row_index bitmap
    // filter. Correctness never depends on the rule (the row-based
    // format remains the no-extension fallback) — this pins the PLAN.
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableDeletionVectors(t)                          // v1
    DeltaTable.delete(spark, t, $"id" === 2)                     // v2 vectored
    assert(DeltaLog.snapshot(t).files.exists(_.dv.isDefined),
      "test setup: the delete must vector, not rewrite")
    val df = spark.read.format("graft-delta").load(t)
      .filter($"salary" > 60000L).select("id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Batched: true") && !plan.contains("Batched: false"),
      s"a DV-carrying scan must stay columnar:\n$plan")
    assert(plan.contains("dv_row_deleted"),
      s"the bitmap filter must guard the vectorized scan:\n$plan")
    assert(plan.contains("GreaterThan(salary,60000)"),
      s"pushdown must reach the parquet reader on a vectored file:\n$plan")
    assert(df.as[Int].collect().sorted === Array(1, 3))
    // the rewrite composes with column mapping (physical-name files)
    val tm = freshTable()
    DeltaTable.write(employees3.coalesce(1), tm, "overwrite")
    DeltaTable.enableColumnMapping(tm)
    DeltaTable.renameColumn(tm, "salary", "base_pay")
    DeltaTable.enableDeletionVectors(tm)
    DeltaTable.delete(spark, tm, $"id" === 1)
    val dfm = spark.read.format("graft-delta").load(tm)
    val planM = dfm.queryExecution.executedPlan.toString
    assert(planM.contains("Batched: true") && !planM.contains("Batched: false"),
      s"DV x mapping must stay columnar too:\n$planM")
    assert(dfm.select("id", "base_pay").as[(Int, Long)].collect().sorted
      === Array((2, 65000L), (3, 80000L)))
  }

  test("deletion vectors: re-delete unions into the existing vector; " +
      "update/merge on a vectored file rewrites and drops it") {
    val t = freshTable()
    // one 5-row file: two 1-row deletes stay under the half threshold
    val five = Seq(
      (1, "Alice", 75000L), (2, "Bob", 65000L), (3, "Carol", 80000L),
      (4, "David", 70000L), (5, "Eve", 90000L))
      .toDF("id", "name", "salary").coalesce(1)
    DeltaTable.write(five, t, "overwrite")
    DeltaTable.enableDeletionVectors(t)
    DeltaTable.delete(spark, t, $"id" === 1)
    DeltaTable.delete(spark, t, $"id" === 2)
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum === 2L,
      s"expected a union vector of 2: ${snap.files.flatMap(_.dv)}")
    assert(snap.files.size === 1, "both deletes must vector, not rewrite")
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(3, 4, 5))
    // UPDATE must not resurrect vectored-dead rows: the rewrite reads
    // live rows only and the new file carries no vector
    DeltaTable.update(spark, t, $"id" === 3, Map("salary" -> lit(99000L)))
    assert(DeltaLog.snapshot(t).files.forall(_.dv.isEmpty),
      "the rewrite must absorb the touched file's vector")
    val after = DeltaTable.read(spark, t).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(after === Map(3 -> 99000L, 4 -> 70000L, 5 -> 90000L))
    runValidator(t)
  }

  test("deletion vectors: UPDATE and MERGE mark replaced rows dead in " +
      "place and stage only the new rows — upsert write amplification " +
      "drops to |changed rows|") {
    val t = freshTable()
    val ten = (1 to 10).map(i => (i, s"name$i", i * 1000L))
      .toDF("id", "name", "salary").coalesce(1)
    DeltaTable.write(ten, t, "overwrite")                        // v0, 1 file
    DeltaTable.enableDeletionVectors(t)                          // v1
    val origFile = DeltaLog.snapshot(t).files.head.path
    // UPDATE 1 of 10: the original file survives untouched with a
    // 1-row vector; ONE new small file carries the post-image
    DeltaTable.update(spark, t, $"id" === 3, Map("salary" -> lit(1L)))
    val s1 = DeltaLog.snapshot(t)
    assert(s1.files.map(_.path).contains(origFile),
      "a vectored update must keep the original data file")
    assert(s1.files.find(_.path == origFile).get.dv.map(_.cardinality)
      === Some(1L))
    assert(s1.files.size === 2,
      s"expected original + 1 post-image file: ${s1.files.map(_.path)}")
    val read1 = DeltaTable.read(spark, t).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(read1(3) === 1L && read1.size === 10 && read1(4) === 4000L)
    // MERGE upserting 1 existing + 1 new key: the original file's
    // vector grows by one; one staged file carries both source rows
    DeltaTable.merge(spark, t,
      Seq((5, "name5", 2L), (11, "name11", 3L))
        .toDF("id", "name", "salary"), Seq("id"))
    val s2 = DeltaLog.snapshot(t)
    assert(s2.files.find(_.path == origFile).get.dv.map(_.cardinality)
      === Some(2L),
      s"merge must union into the vector: ${s2.files.flatMap(_.dv)}")
    // every pre-merge file survives (only the vector changed); the new
    // files carry ONLY the source rows, however many partitions they
    // staged as
    assert(s1.files.map(_.path).toSet.subsetOf(s2.files.map(_.path).toSet),
      s"merge must not rewrite any existing file: ${s2.files.map(_.path)}")
    val mergeStaged = s2.files.map(_.path).toSet -- s1.files.map(_.path).toSet
    val stagedRows = mergeStaged.toSeq.flatMap(p =>
      spark.read.parquet(java.nio.file.Paths.get(t).resolve(p).toString)
        .collect()).map(_.getInt(0)).sorted
    assert(stagedRows === Seq(5, 11),
      s"merge staged files must hold exactly the source rows: $stagedRows")
    val read2 = DeltaTable.read(spark, t).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(read2(5) === 2L && read2(11) === 3L && read2.size === 11)
    runValidator(t)
  }

  test("change feed x deletion vectors: a historical insert version " +
      "serves its FULL row set even after a later delete vectored some " +
      "of its rows") {
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableDeletionVectors(t)                          // v1
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true") // v2
    DeltaTable.write(Seq((7, "Gil", 55000L, "2024-02-02"),
      (8, "Hana", 56000L, "2024-02-03"), (9, "Ivan", 57000L, "2024-02-04"))
      .toDF("id", "name", "salary", "date").coalesce(1), t, "append") // v3
    DeltaTable.delete(spark, t, $"id" === 8)                     // v4 (dv+cdc)
    assert(DeltaLog.snapshot(t).files.flatMap(_.dv).nonEmpty,
      "fixture must actually vector the delete")
    val feed = DeltaTable.changes(spark, t, 3L, 4L)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    // the v3 insert set must contain id=8 even though the CURRENT
    // snapshot's vector marks it dead — its removal is v4's delete row
    assert(feed === Set((7, "insert", 3L), (8, "insert", 3L),
      (9, "insert", 3L), (8, "delete", 4L)),
      s"history must not be rewritten by later vectors: $feed")
  }

  test("deletion vectors: a delete matching more than half a file's " +
      "rows rewrites instead of vectoring") {
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite") // one file, 3 rows
    DeltaTable.enableDeletionVectors(t)
    DeltaTable.delete(spark, t, $"id" =!= 2)                 // kills 2 of 3
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.forall(_.dv.isEmpty),
      "a >half-dead file must rewrite, not carry a majority-dead vector")
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().toSeq
      === Seq(2))
    runValidator(t)
  }

  test("deletion vectors: compaction absorbs vectors; vacuum collects " +
      "the orphaned sidecars and keeps referenced ones") {
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableDeletionVectors(t)                          // v1
    DeltaTable.delete(spark, t, $"id" === 1)                     // v2 (dv)
    val dvPath = DeltaLog.snapshot(t).files.flatMap(_.dv).head.path
    assert(Files.exists(java.nio.file.Paths.get(t).resolve(dvPath)))
    DeltaTable.compact(spark, t, maxFileBytes = 1L << 30)        // v3
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.forall(_.dv.isEmpty), "compact must absorb vectors")
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(2, 3))
    // pre-vacuum: v2 still references the vector, so it must survive
    DeltaTable.vacuum(t, keepVersions = 2)                       // keep v2,v3
    assert(Files.exists(java.nio.file.Paths.get(t).resolve(dvPath)),
      "sidecar referenced by a retained version must survive vacuum")
    assert(DeltaTable.read(spark, t, Some(2L)).select("id").as[Int]
      .collect().sorted === Array(2, 3))
    // prune v2 too: the sidecar is now garbage
    DeltaTable.vacuum(t, keepVersions = 1)                       // keep v3
    assert(!Files.exists(java.nio.file.Paths.get(t).resolve(dvPath)),
      "unreferenced sidecar must be collected")
    runValidator(t)
  }

  test("deletion vectors survive checkpoint replay and restore " +
      "round-trips vector state") {
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableDeletionVectors(t)                          // v1
    DeltaTable.delete(spark, t, $"id" === 1)                     // v2
    // vacuum writes a checkpoint at the horizon; snapshot() then
    // replays FROM the checkpoint — the vector must come back
    DeltaTable.vacuum(t, keepVersions = 1)
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum === 1L,
      "deletionVector lost through checkpoint replay")
    assert(snap.readerFeatures.contains("deletionVectors"),
      "protocol features lost through checkpoint replay")
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(2, 3))
    runValidator(t)
    // restore across a DV change brings the old vector state back:
    // v2 and v3 hold the SAME data file path with DIFFERENT vectors
    val t2 = freshTable()
    val five = Seq(
      (1, "Alice", 75000L), (2, "Bob", 65000L), (3, "Carol", 80000L),
      (4, "David", 70000L), (5, "Eve", 90000L))
      .toDF("id", "name", "salary").coalesce(1)
    DeltaTable.write(five, t2, "overwrite")                      // v0
    DeltaTable.enableDeletionVectors(t2)                         // v1
    DeltaTable.delete(spark, t2, $"id" === 1)                    // v2
    DeltaTable.delete(spark, t2, $"id" === 2)                    // v3
    DeltaTable.restore(t2, 2L)                                   // v4
    assert(DeltaTable.read(spark, t2).select("id").as[Int].collect().sorted
      === Array(2, 3, 4, 5),
      "restore must bring back version 2's vector state (id=2 alive)")
    runValidator(t2)
  }

  test("deletion vectors compose with CDF and with column mapping") {
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableColumnMapping(t)                            // v1
    DeltaTable.enableDeletionVectors(t)                          // v2
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true") // v3
    DeltaTable.renameColumn(t, "salary", "base_pay")             // v4
    DeltaTable.delete(spark, t, $"id" === 2)                     // v5 (dv + cdc)
    assert(DeltaLog.snapshot(t).files.flatMap(_.dv).nonEmpty)
    assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
      === Array(1, 3))
    assert(spark.read.format("graft-delta").load(t)
      .filter($"base_pay" > 1L).select("id").as[Int].collect().sorted
      === Array(1, 3), "DV x mapping through the relation path")
    val feed = DeltaTable.changes(spark, t, 5L, 5L)
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(feed.toSeq === Seq((2, "delete")))
    runValidator(t)
  }

  test("empty overwrite yields empty table with schema intact") {
    val t = freshTable()
    DeltaTable.write(employees3.filter($"id" > 99), t, "overwrite")
    val df = DeltaTable.read(spark, t)
    assert(df.count() === 0)
    assert(df.schema.fieldNames.contains("salary"))
  }

  test("periodic auto-checkpoint: every 10th commit snapshots the log; " +
      "replay starts at the newest checkpoint and survives prefix cleanup") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                 // v0
    for (i <- 1 to 23)                                           // v1..v23
      DeltaTable.write(Seq((100 + i, s"W$i", 1000L * i, "2024-02-01"))
        .toDF("id", "name", "salary", "date"), t, "append")
    // parquet checkpoints landed at the interval versions, no JSON
    // side files, and the hint points at the newest
    assert(DeltaLog.checkpointVersions(t).toSet === Set(10L, 20L))
    for (v <- Seq(10L, 20L))
      assert(Files.exists(DeltaLog.parquetCheckpointPath(t, v)))
    assert(jsonCheckpoints(t).isEmpty)
    val hint = new String(Files.readAllBytes(
      DeltaLog.logDir(t).resolve("_last_checkpoint")), "UTF-8")
    assert(hint.contains("\"version\":20"))
    assert(DeltaTable.read(spark, t).count() === 26)
    // the bounded-replay contract: drop the version prefix the newest
    // checkpoint supersedes (what log cleanup does at scale) — the
    // snapshot must replay checkpoint-20 + v21..v23 and see every row
    for (v <- 0L to 19L)
      Files.deleteIfExists(DeltaLog.logDir(t).resolve(f"$v%020d.json"))
    assert(DeltaTable.read(spark, t).count() === 26)
    assert(DeltaLog.snapshot(t).version === 23L)
    // time travel to a pre-cleanup version without its JSON now fails
    // loudly (vacuumed-away semantics), never silently merges
    intercept[IllegalArgumentException] {
      DeltaLog.snapshot(t, Some(5L))
    }
    // the independent validator accepts the auto-checkpointed log
    import scala.sys.process._
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code === 0, s"validator rejected auto-checkpointed table:\n$out")
    // the protocol's own delta.checkpointInterval property overrides
    // the default cadence from the NEXT commit on
    val t2 = freshTable()
    DeltaTable.write(employees3, t2, "overwrite")                // v0
    DeltaTable.setTableProperty(t2, "delta.checkpointInterval", "3") // v1
    for (i <- 1 to 5)                                            // v2..v6
      DeltaTable.write(employee1, t2, "append")
    assert(DeltaLog.checkpointVersions(t2).toSet === Set(3L, 6L),
      s"interval-3 table checkpointed at ${DeltaLog.checkpointVersions(t2)}")
    // lifecycle-API properties must go through their own entry points
    intercept[IllegalArgumentException] {
      DeltaTable.setTableProperty(t2, "delta.constraints.x", "id > 0")
    }
    intercept[IllegalArgumentException] {
      DeltaTable.setTableProperty(t2, "delta.columnMapping.mode", "name")
    }
  }

  test("column mapping survives vacuum: the checkpoint carries the " +
      "annotated schema and renamed reads keep serving") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                 // v0
    DeltaTable.enableColumnMapping(t)                            // v1
    DeltaTable.renameColumn(t, "salary", "base_pay")             // v2
    DeltaTable.write(Seq((4, "David", 70000L, "2024-01-18"))
      .toDF("id", "name", "base_pay", "date"), t, "append")      // v3
    DeltaTable.vacuum(t, 1)
    // the pruned-prefix table replays from the checkpoint alone; the
    // mapping metadata must have survived into it
    val df = DeltaTable.read(spark, t)
    assert(df.schema.fieldNames.toSeq ===
      Seq("id", "name", "base_pay", "date"))
    assert(df.select(sum($"base_pay")).as[Long].head() === 290000L)
    val snap = DeltaLog.snapshot(t)
    assert(snap.configuration.get("delta.columnMapping.mode") === Some("name"))
    assert(snap.minReaderVersion === 2 && snap.minWriterVersion >= 5)
    // and evolution keeps working post-vacuum
    DeltaTable.renameColumn(t, "date", "hired")
    assert(DeltaTable.read(spark, t).schema.fieldNames.contains("hired"))
  }

  test("restore across mapping states: each restored version brings back " +
      "its OWN schema, names and mapping configuration") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                 // v0: unmapped
    DeltaTable.enableColumnMapping(t)                            // v1
    DeltaTable.renameColumn(t, "salary", "base_pay")             // v2
    DeltaTable.write(Seq((4, "David", 70000L, "2024-01-18"))
      .toDF("id", "name", "base_pay", "date"), t, "append")      // v3
    // back to the pre-mapping world: logical names revert, the appended
    // (physically-named) file leaves the live set
    DeltaTable.restore(t, 0L)                                    // v4
    val v4 = DeltaTable.read(spark, t)
    assert(v4.schema.fieldNames.toSeq === Seq("id", "name", "salary", "date"))
    assert(v4.count() === 3)
    assert(!graft.sources.ColumnMapping.enabled(DeltaLog.snapshot(t)))
    // forward again to the mapped state: rename + append come back
    DeltaTable.restore(t, 3L)                                    // v5
    val v5 = DeltaTable.read(spark, t)
    assert(v5.schema.fieldNames.toSeq === Seq("id", "name", "base_pay", "date"))
    assert(v5.count() === 4)
    assert(graft.sources.ColumnMapping.enabled(DeltaLog.snapshot(t)))
    // protocol stays at the mapping gate throughout (never downgrades)
    assert(DeltaLog.snapshot(t).minReaderVersion === 2)
  }

  test("streaming sink into a column-mapped table stages physical names") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.enableColumnMapping(t)
    DeltaTable.renameColumn(t, "salary", "base_pay")
    val src = tempDir("graft-map-stream")
    val ckpt = src.resolve("ckpt").toString
    Seq((10, "Zoe", 55000L, "2024-03-01"))
      .toDF("id", "name", "base_pay", "date")
      .coalesce(1).write.mode("overwrite").parquet(src.resolve("in").toString)
    val q = spark.readStream
      .schema(Seq.empty[(Int, String, Long, String)]
        .toDF("id", "name", "base_pay", "date").schema)
      .parquet(src.resolve("in").toString)
      .writeStream.format("graft-delta")
      .option("checkpointLocation", ckpt)
      .start(t)
    q.processAllAvailable()
    q.stop()
    val df = DeltaTable.read(spark, t)
    assert(df.count() === 4)
    assert(df.filter($"name" === "Zoe").select("base_pay")
      .as[Long].head() === 55000L)
    // the streamed file really stores the PHYSICAL column name
    val snap = DeltaLog.snapshot(t)
    val streamedFile = snap.files.map(_.path)
      .filterNot(p => spark.read.format("graft-delta")
        .option("versionAsOf", 2).load(t).inputFiles
        .exists(_.endsWith(p))).head
    val cols = spark.read.parquet(
      java.nio.file.Paths.get(t).resolve(streamedFile).toString).columns.toSet
    assert(cols.contains("salary") && !cols.contains("base_pay"),
      s"streamed file must store physical names, has $cols")
  }

  test("column mapping lifecycle: enable, rename + drop are metadata-only, " +
      "no data file moves, old versions time-travel to their own names") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                 // v0
    def dataFiles() = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(java.nio.file.Paths.get(t))
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.toString.contains("_delta_log"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val before = dataFiles()
    DeltaTable.enableColumnMapping(t)                            // v1
    val vRename = DeltaTable.renameColumn(t, "salary", "base_pay") // v2
    DeltaTable.dropColumn(t, "date")                             // v3
    // METADATA-ONLY: byte-identical file set, no rewrites
    assert(dataFiles() === before,
      "rename/drop under mapping must not touch a single data file")
    // current read: new logical name, dropped column gone
    val cur = DeltaTable.read(spark, t)
    assert(cur.schema.fieldNames.toSeq === Seq("id", "name", "base_pay"))
    assert(cur.select(sum($"base_pay")).as[Long].head() === 220000L)
    // DSv1 path sees the same logical schema (MappedParquetFileFormat)
    val dsv1 = spark.read.format("graft-delta").load(t)
    assert(dsv1.schema.fieldNames.toSeq === Seq("id", "name", "base_pay"))
    assert(dsv1.filter($"base_pay" > 70000L).select("name")
      .as[String].collect().sorted.toSeq === Seq("Alice", "Carol"))
    // each version carries ITS OWN mapping: v0 still speaks `salary`
    val v0 = spark.read.format("graft-delta")
      .option("versionAsOf", 0).load(t)
    assert(v0.schema.fieldNames.toSeq === Seq("id", "name", "salary", "date"))
    assert(v0.count() === 3)
    // appends use the NEW logical names and land under physical ones
    DeltaTable.write(Seq((4, "David", 70000L))
      .toDF("id", "name", "base_pay"), t, "append")              // v4
    assert(DeltaTable.read(spark, t).count() === 4)
    assert(DeltaTable.read(spark, t).select(sum($"base_pay"))
      .as[Long].head() === 290000L)
    // an append still speaking the OLD name is the usual typed rejection
    intercept[graft.sources.SchemaEvolutionException] {
      DeltaTable.write(Seq((5, "Eve", 1L)).toDF("id", "name", "salary"),
        t, "append")
    }
    assert(vRename === 2L)
  }

  test("column mapping: re-adding a dropped column can never resurrect " +
      "the old bytes (fresh physical identity)") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                 // v0
    DeltaTable.enableColumnMapping(t)                            // v1
    DeltaTable.dropColumn(t, "date")                             // v2
    // mergeSchema re-adds the same LOGICAL name; its physical name is a
    // fresh col-<uuid>, so the old files' `date` bytes stay invisible
    DeltaTable.write(Seq((4, "David", 70000L, "2099-12-31"))
      .toDF("id", "name", "salary", "date"), t, "append", mergeSchema = true)
    val df = DeltaTable.read(spark, t)
    assert(df.count() === 4)
    val dates = df.select("id", "date").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    assert(dates(4) === Some("2099-12-31"))
    assert(dates(1) === None && dates(2) === None && dates(3) === None,
      "old files' dropped bytes must read NULL under the re-added column, " +
        "never the original 2024 values")
    // the physical name really diverged
    val snap = DeltaLog.snapshot(t)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val phys = schema.fields.find(_.name == "date").get.metadata
      .getString("delta.columnMapping.physicalName")
    assert(phys.startsWith("col-"), s"expected a uuid physical name, got $phys")
  }

  test("column mapping: DML, compact and skipping keep working after a rename") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                 // v0
    DeltaTable.enableColumnMapping(t)
    DeltaTable.renameColumn(t, "salary", "base_pay")
    DeltaTable.write(Seq((4, "David", 70000L, "2024-01-18"))
      .toDF("id", "name", "base_pay", "date"), t, "append")
    // UPDATE through the new logical name
    DeltaTable.update(spark, t, $"name" === "Bob",
      Map("base_pay" -> lit(66000L)))
    assert(DeltaTable.read(spark, t).filter($"name" === "Bob")
      .select("base_pay").as[Long].head() === 66000L)
    // DELETE
    DeltaTable.delete(spark, t, $"id" === 3)
    assert(DeltaTable.read(spark, t).count() === 3)
    // MERGE (upsert) with the current logical schema
    DeltaTable.merge(spark, t,
      Seq((4, "David", 71000L, "2024-01-18"), (6, "Frank", 50000L, "2024-02-01"))
        .toDF("id", "name", "base_pay", "date"), Seq("id"))
    val after = DeltaTable.read(spark, t).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(after === Map(1 -> 75000L, 2 -> 66000L, 4 -> 71000L, 6 -> 50000L))
    // COMPACT preserves mapping-correct files
    DeltaTable.compact(spark, t, maxFileBytes = 1L << 30)
    assert(DeltaTable.read(spark, t).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap === after)
    // data skipping consults physically-keyed stats through the logical
    // filter name: a selective predicate must prune files
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.forall(_.stats.keys.exists(_.startsWith("min."))),
      "compacted mapped files must carry stats")
    val skipped = DeltaTable.read(spark, t, None,
      Seq(org.apache.spark.sql.sources.GreaterThan("base_pay", 100000L)))
    assert(skipped.count() === 0)
  }

  test("column mapping guards: mapping off, partition columns, " +
      "constraint-referenced columns, name collisions") {
    import graft.sources.SchemaEvolutionException
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    // rename/drop without mapping: the round-7 typed rejection stands
    val e1 = intercept[SchemaEvolutionException] {
      DeltaTable.renameColumn(t, "salary", "base_pay")
    }
    assert(e1.kind === "rename-or-drop")
    DeltaTable.enableColumnMapping(t)
    DeltaTable.enableColumnMapping(t) // idempotent
    // collision
    intercept[IllegalArgumentException] {
      DeltaTable.renameColumn(t, "salary", "name")
    }
    // constraint-referenced column is frozen until the constraint goes
    DeltaTable.addCheckConstraint(spark, t, "pay_pos", "salary > 0")
    intercept[IllegalArgumentException] {
      DeltaTable.renameColumn(t, "salary", "base_pay")
    }
    intercept[IllegalArgumentException] { DeltaTable.dropColumn(t, "salary") }
    // partitioned table: partition column is the physical layout
    val tp = freshTable()
    DeltaTable.write(employees3, tp, "overwrite", partitionBy = Seq("date"))
    DeltaTable.enableColumnMapping(tp)
    intercept[IllegalArgumentException] {
      DeltaTable.renameColumn(tp, "date", "hired")
    }
    // non-partition columns of a partitioned mapped table still evolve,
    // and partition pruning keeps working afterwards
    DeltaTable.renameColumn(tp, "salary", "base_pay")
    val pruned = spark.read.format("graft-delta").load(tp)
      .filter($"date" === "2024-01-15")
    assert(pruned.select("base_pay").as[Long].head() === 75000L)
    // protocol rose to the mapping gate (reader 2 / writer 5)
    val snap = DeltaLog.snapshot(tp)
    assert(snap.minReaderVersion === 2 && snap.minWriterVersion >= 5)
  }

  // ---------------------------------------------------------------
  // Protocol gates (public Delta protocol: reader/writer versions +
  // table features). The forge helper plays the role of a FOREIGN
  // writer that committed a protocol graft does not fully implement.
  // ---------------------------------------------------------------

  private def forgeProtocol(t: String, line: String): Unit =
    DeltaLog.commit(t, DeltaTable.latestVersion(t), Seq(line))

  test("reader gate: unknown reader feature refuses the table loudly") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    // a reserved test-only feature name: it can never become supported,
    // so this gate test cannot be silently legitimized by a future
    // implementation (v2Checkpoint was, in round 10)
    forgeProtocol(t,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["graftTestUnknownReaderFeature"],""" +
        """"writerFeatures":["graftTestUnknownReaderFeature"]}}""")
    val e = intercept[IllegalStateException](DeltaTable.read(spark, t).count())
    assert(e.getMessage.contains("graftTestUnknownReaderFeature"))
    assert(e.getMessage.contains("cannot read"))
    // the stream source is a reader too
    val e2 = intercept[IllegalStateException](DeltaTable.latestVersion(t))
    assert(e2.getMessage.contains("graftTestUnknownReaderFeature"))
  }

  test("reader gate: minReaderVersion above supported refuses") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    forgeProtocol(t, """{"protocol":{"minReaderVersion":4,"minWriterVersion":7}}""")
    val e = intercept[IllegalStateException](DeltaTable.read(spark, t))
    assert(e.getMessage.contains("minReaderVersion=4"))
  }

  test("writer gate: unknown writer feature blocks writes, reads stay fine") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    // reserved test-only name — a future feature implementation can
    // never make this forge silently pass (see reader-gate test above)
    forgeProtocol(t,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["graftTestUnknownWriterFeature"]}}""")
    // a reader-only client is unaffected: the feature is writer-side
    assert(DeltaTable.read(spark, t).count() === 3)
    val e = intercept[UnsupportedOperationException](
      DeltaTable.write(employee1, t, "append"))
    assert(e.getMessage.contains("graftTestUnknownWriterFeature"))
    val e2 = intercept[UnsupportedOperationException](
      DeltaTable.delete(spark, t, col("id") === 1))
    assert(e2.getMessage.contains("graftTestUnknownWriterFeature"))
  }

  test("writer gate: the whole legacy ladder passes now that v6's features are maintained") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    forgeProtocol(t, """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""")
    assert(DeltaTable.read(spark, t).count() === 3)
    DeltaTable.write(employee1, t, "append") // identity+gens+CDF+mapping all maintained
    assert(DeltaTable.read(spark, t).count() === 4)
  }

  test("delta.appendOnly: appends + layout-only OPTIMIZE pass, data removes refuse") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.setTableProperty(t, "delta.appendOnly", "true")
    DeltaTable.write(employee1, t, "append")
    assert(DeltaTable.read(spark, t).count() === 4)
    val e = intercept[UnsupportedOperationException](
      DeltaTable.delete(spark, t, col("id") === 1))
    assert(e.getMessage.contains("delta.appendOnly"))
    intercept[UnsupportedOperationException](
      DeltaTable.write(employee1, t, "overwrite"))
    intercept[UnsupportedOperationException](
      DeltaTable.update(spark, t, col("id") === 1,
        Map("salary" -> lit(1L))))
    // layout-only maintenance (dataChange=false throughout) is legal
    DeltaTable.compact(spark, t)
    assert(DeltaTable.read(spark, t).count() === 4)
    // lifting the property restores DML
    DeltaTable.setTableProperty(t, "delta.appendOnly", "false")
    DeltaTable.delete(spark, t, col("id") === 1)
    assert(DeltaTable.read(spark, t).count() === 3)
  }

  test("enabling change data feed raises protocol to the features gate") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true")
    val snap = DeltaLog.snapshot(t)
    assert(snap.minWriterVersion === 7)
    assert(snap.writerFeatures.contains("changeDataFeed"))
    // CDF is writer-only: a plain reader needs nothing new
    assert(snap.minReaderVersion === 1)
    // idempotent: re-setting changes nothing
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true")
    assert(DeltaLog.snapshot(t).writerFeatures === snap.writerFeatures)
    // DML on the upgraded table still works and writes sidecars
    DeltaTable.delete(spark, t, col("id") === 1)
    assert(DeltaTable.read(spark, t).count() === 2)
  }

  test("feature upgrades carry every active legacy feature forward") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.setTableProperty(t, "delta.appendOnly", "true")
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true")
    val s1 = DeltaLog.snapshot(t)
    assert(s1.writerFeatures === Set("changeDataFeed", "appendOnly"))
    DeltaTable.enableDeletionVectors(t)
    val s2 = DeltaLog.snapshot(t)
    assert(Set("changeDataFeed", "appendOnly", "deletionVectors")
      .subsetOf(s2.writerFeatures))
    assert(s2.readerFeatures.contains("deletionVectors"))
    assert(s2.minReaderVersion === 3 && s2.minWriterVersion === 7)
    // the upgraded table still honors its append-only contract
    DeltaTable.write(employee1, t, "append")
    intercept[UnsupportedOperationException](
      DeltaTable.delete(spark, t, col("id") === 1))
  }

  test("protocol upgrades are order-independent: each legacy feature " +
      "before or after each features-gate op ends up listed") {
    import scala.sys.process.{Process, ProcessLogger}
    import org.apache.spark.sql.types.LongType
    // (feature names the op gates, the op)
    val legacy: Seq[(String, Set[String], String => Unit)] = Seq(
      ("constraint", Set("checkConstraints"), t =>
        DeltaTable.addCheckConstraint(spark, t, "pos", "salary > 0")),
      ("appendOnly", Set("appendOnly"), t =>
        DeltaTable.setTableProperty(t, "delta.appendOnly", "true")),
      ("cdf", Set("changeDataFeed"), t =>
        DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true")),
      ("mapping", Set("columnMapping"), t =>
        DeltaTable.enableColumnMapping(t)))
    val gated: Seq[(String, Set[String], String => Unit)] = Seq(
      ("dv", Set("deletionVectors"), t => DeltaTable.enableDeletionVectors(t)),
      ("v2", Set("v2Checkpoint"), t => DeltaTable.enableV2Checkpoints(t)),
      ("ict", Set("inCommitTimestamp"), t =>
        DeltaTable.enableInCommitTimestamps(t)),
      ("rowTracking", Set("rowTracking", "domainMetadata"), t =>
        DeltaTable.enableRowTracking(t)),
      ("widen", Set("typeWidening"), t =>
        DeltaTable.alterColumnType(t, "id", LongType)))
    val readerWriter =
      Set("columnMapping", "deletionVectors", "v2Checkpoint", "typeWidening")
    val tables = for {
      (ln, lf, lop) <- legacy
      (gn, gf, gop) <- gated
      // refused both ways (enableRowTracking / enableColumnMapping)
      if !(ln == "mapping" && gn == "rowTracking")
      legacyFirst <- Seq(true, false)
    } yield {
      val t = freshTable()
      DeltaTable.write(employees3, t, "overwrite")
      if (legacyFirst) { lop(t); gop(t) } else { gop(t); lop(t) }
      val snap = DeltaLog.snapshot(t)
      val order = if (legacyFirst) s"$ln then $gn" else s"$gn then $ln"
      assert(snap.minWriterVersion === 7, order)
      assert((lf ++ gf).subsetOf(snap.writerFeatures),
        s"$order: writerFeatures ${snap.writerFeatures}")
      if (snap.minReaderVersion >= 3)
        assert((lf ++ gf).intersect(readerWriter).subsetOf(snap.readerFeatures),
          s"$order: readerFeatures ${snap.readerFeatures}")
      t
    }
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath) ++ tables)
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code === 0, s"delta_validate.py failed:\n$out")
  }

  // ---------------------------------------------------------------
  // GENERATED COLUMNS (delta.generationExpression + the
  // generatedColumns writer feature) — write-side maintenance and the
  // read-side partition-filter derivation. See GeneratedColumns.scala.
  // ---------------------------------------------------------------

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def eventsG = Seq(
    (1L, ts("2024-03-01 10:00:00")),
    (2L, ts("2024-03-02 09:30:00")),
    (3L, ts("2024-03-02 23:59:59")),
    (4L, ts("2024-03-05 01:00:00"))
  ).toDF("id", "ts")

  private def genTable(): String = {
    val t = freshTable()
    DeltaTable.write(eventsG, t, "overwrite",
      partitionBy = Seq("event_date"),
      generatedColumns = Map("event_date" -> "CAST(ts AS DATE)"))
    t
  }

  test("generated columns: computed at create, inherited by appends, validated when provided") {
    val t = genTable()
    val df = DeltaTable.read(spark, t)
    assert(df.columns.toSeq.sorted === Seq("event_date", "id", "ts"))
    assert(df.filter(!($"event_date" <=> to_date($"ts"))).count() === 0)
    // contract in the log: schema metadata + the feature gate
    val snap = DeltaLog.snapshot(t)
    val sch = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sch("event_date").metadata.getString("delta.generationExpression")
      === "CAST(ts AS DATE)")
    assert(snap.minWriterVersion === 7 &&
      snap.writerFeatures === Set("generatedColumns"))
    assert(snap.minReaderVersion === 1) // reader needs nothing new
    assert(snap.partitionColumns === Seq("event_date"))
    // append WITHOUT the column: computed, lands in the right partition
    DeltaTable.write(Seq((5L, ts("2024-03-07 12:00:00"))).toDF("id", "ts"),
      t, "append")
    val after = DeltaTable.read(spark, t)
    assert(after.count() === 5)
    assert(after.filter($"id" === 5).select($"event_date".cast("string"))
      .as[String].head() === "2024-03-07")
    assert(DeltaLog.snapshot(t).files.exists(
      _.partitionValues.get("event_date").contains("2024-03-07")))
    // append WITH a consistent value: validated, passes
    DeltaTable.write(
      Seq((6L, ts("2024-03-08 00:10:00"), java.sql.Date.valueOf("2024-03-08")))
        .toDF("id", "ts", "event_date"), t, "append")
    assert(DeltaTable.read(spark, t).count() === 6)
    // append WITH a diverging value: refused, nothing committed
    val v = DeltaTable.latestVersion(t)
    val e = intercept[IllegalArgumentException](DeltaTable.write(
      Seq((7L, ts("2024-03-09 00:00:00"), java.sql.Date.valueOf("2024-03-10")))
        .toDF("id", "ts", "event_date"), t, "append"))
    assert(e.getMessage.contains("generated column event_date"))
    assert(DeltaTable.latestVersion(t) === v)
    assert(DeltaTable.read(spark, t).count() === 6)
    // appends cannot redeclare the contract
    intercept[IllegalArgumentException](DeltaTable.write(eventsG, t, "append",
      generatedColumns = Map("event_date" -> "CAST(ts AS DATE)")))
  }

  test("generated partition column: a ts-range filter derives partition pruning") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = genTable()
    val snap = DeltaLog.snapshot(t)
    val sch = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // API path: DeltaTable.read's skipping consult
    val fs = Seq(
      GreaterThanOrEqual("ts", ts("2024-03-02 00:00:00")),
      LessThan("ts", ts("2024-03-03 00:00:00")))
    val derived = graft.sources.GeneratedColumns.derivePartitionFilters(
      fs, sch, snap.partitionColumns, java.time.ZoneId.of("UTC"))
    assert(derived.nonEmpty, "no derived partition filters")
    val live = DeltaTable.liveFilesAfterSkipping(snap, fs ++ derived, sch)
    assert(live.nonEmpty &&
      live.forall(_.partitionValues.get("event_date").contains("2024-03-02")),
      s"expected only the 2024-03-02 partition, got " +
        live.map(_.partitionValues).mkString(","))
    // an IN-list on the base column derives an IN on the partition
    val inDerived = graft.sources.GeneratedColumns.derivePartitionFilters(
      Seq(org.apache.spark.sql.sources.In("ts",
        Array(ts("2024-03-01 10:00:00"), ts("2024-03-05 01:00:00")))),
      sch, snap.partitionColumns, java.time.ZoneId.of("UTC"))
    val inLive = DeltaTable.liveFilesAfterSkipping(snap, inDerived, sch)
    assert(inLive.nonEmpty && inLive.forall(f =>
      Set("2024-03-01", "2024-03-05")
        .contains(f.partitionValues("event_date"))),
      s"IN derivation missed: ${inLive.map(_.partitionValues)}")
    // relation path: the pushed Catalyst filters reach listFiles and the
    // scan touches only the one partition's files
    val q = spark.read.format("delta").load(t)
      .filter($"ts" >= lit("2024-03-02 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-03-03 00:00:00").cast("timestamp"))
    assert(q.select("id").as[Long].collect().sorted === Array(2L, 3L))
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    val listed = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
    val datePart = snap.files.count(
      _.partitionValues.get("event_date").contains("2024-03-02"))
    assert(listed.map(_.files.length).sum === datePart,
      s"scan listed ${listed.map(_.files.length).sum} files, " +
        s"expected the $datePart of the 2024-03-02 partition")
  }

  test("partition values answer the skipping consult directly (plain partition filters)") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val t = freshTable()
    employees3.write.format("graft-delta").partitionBy("date")
      .mode("overwrite").save(t)
    val snap = DeltaLog.snapshot(t)
    val sch = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val eq = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(EqualTo("date", "2024-01-15")), sch)
    assert(eq.forall(_.partitionValues.get("date").contains("2024-01-15"))
      && eq.nonEmpty)
    val gt = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(GreaterThan("date", "2024-01-16")), sch)
    assert(gt.nonEmpty &&
      gt.forall(_.partitionValues.get("date").contains("2024-01-17")))
  }

  test("UPDATE recomputes generated columns when a base column moves") {
    val t = genTable()
    DeltaTable.update(spark, t, $"id" === 2,
      Map("ts" -> (col("ts") + expr("INTERVAL 10 DAYS"))))
    val row = DeltaTable.read(spark, t).filter($"id" === 2)
      .select($"ts".cast("string"), $"event_date".cast("string"))
      .as[(String, String)].head()
    assert(row === ("2024-03-12 09:30:00", "2024-03-12"))
    // the row physically moved to the recomputed partition
    assert(DeltaLog.snapshot(t).files.exists(
      _.partitionValues.get("event_date").contains("2024-03-12")))
    // every row still honors the invariant
    assert(DeltaTable.read(spark, t)
      .filter(!($"event_date" <=> to_date($"ts"))).count() === 0)
  }

  test("CDF images carry recomputed generated values through an UPDATE") {
    val t = genTable()
    DeltaTable.setTableProperty(t, "delta.enableChangeDataFeed", "true")
    val v0 = DeltaTable.latestVersion(t)
    DeltaTable.update(spark, t, $"id" === 2,
      Map("ts" -> (col("ts") + expr("INTERVAL 10 DAYS"))))
    val feed = DeltaTable.changes(spark, t, v0 + 1, v0 + 1)
      .filter($"id" === 2)
      .select($"_change_type", $"event_date".cast("string"))
      .as[(String, String)].collect().toMap
    assert(feed === Map(
      "update_preimage" -> "2024-03-02",
      "update_postimage" -> "2024-03-12"),
      s"post-image must carry the RECOMPUTED generated value: $feed")
  }

  test("MERGE computes generated columns for a source that omits them, validates provided ones") {
    val t = genTable()
    // source without event_date: update id=1 onto a new day + insert id=9
    DeltaTable.merge(spark, t,
      Seq((1L, ts("2024-04-01 08:00:00")), (9L, ts("2024-04-02 09:00:00")))
        .toDF("id", "ts"), Seq("id"))
    val got = DeltaTable.read(spark, t)
    assert(got.count() === 5)
    assert(got.filter(!($"event_date" <=> to_date($"ts"))).count() === 0)
    assert(got.filter($"id" === 1).select($"event_date".cast("string"))
      .as[String].head() === "2024-04-01")
    // a source carrying a diverging value refuses
    val e = intercept[IllegalArgumentException](DeltaTable.merge(spark, t,
      Seq((2L, ts("2024-05-01 00:00:00"), java.sql.Date.valueOf("2024-05-09")))
        .toDF("id", "ts", "event_date"), Seq("id")))
    assert(e.getMessage.contains("generated column event_date"))
  }

  test("generation expressions pin their base columns: rename/drop refuse; overwrite guards the contract") {
    val t = genTable()
    DeltaTable.enableColumnMapping(t)
    val e1 = intercept[IllegalArgumentException](
      DeltaTable.renameColumn(t, "ts", "ts2"))
    assert(e1.getMessage.contains("generated column"))
    val e2 = intercept[IllegalArgumentException](
      DeltaTable.dropColumn(t, "ts"))
    assert(e2.getMessage.contains("generated column"))
    // overwrite keeping the generated column but dropping its base
    val e3 = intercept[IllegalArgumentException](DeltaTable.write(
      Seq((1L, java.sql.Date.valueOf("2024-03-01"))).toDF("id", "event_date"),
      t, "overwrite"))
    assert(e3.getMessage.contains("drops base column"))
    // overwrite without either: the contract is rewritten away
    DeltaTable.write(Seq(Tuple1(1L)).toDF("id"), t, "overwrite")
    assert(graft.sources.GeneratedColumns.of(
      org.apache.spark.sql.types.DataType.fromJson(
        DeltaLog.snapshot(t).schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).isEmpty)
  }

  test("timestamp/date stats: time-range filters skip files on unpartitioned tables") {
    import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual, LessThan}
    val t = freshTable()
    // 96 hourly rows over 4 days, range-clustered into 4 files by ts;
    // one value carries sub-second micros to exercise the max-stat CEIL
    val df = spark.range(0, 96).select(
      col("id"),
      when(col("id") === 95,
        expr("timestamp_micros(unix_micros(timestampadd(HOUR, 95, " +
          "TIMESTAMP '2024-03-01 00:00:00')) + 500000)"))
        .otherwise(expr("timestampadd(HOUR, CAST(id AS INT), " +
          "TIMESTAMP '2024-03-01 00:00:00')")).as("ts2"),
      expr("to_date(timestampadd(HOUR, CAST(id AS INT), " +
        "TIMESTAMP '2024-03-01 00:00:00'))").as("d"))
      .repartitionByRange(4, col("ts2"))
    DeltaTable.write(df, t, "overwrite")
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.length === 4)
    // stats exist in the canonical whole-second / ISO-date renderings
    val allStats = snap.files.flatMap(f => f.stats.get("min.ts2") ++
      f.stats.get("max.ts2") ++ f.stats.get("min.d") ++ f.stats.get("max.d"))
    assert(allStats.nonEmpty && allStats.forall(s => !s.contains('.')),
      s"non-canonical temporal stats: $allStats")
    val sch = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // a late-range ts filter prunes to the last file
    val late = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(GreaterThanOrEqual("ts2", ts("2024-03-04 06:00:00"))), sch)
    assert(late.length < 4, "ts filter pruned nothing")
    // the sub-second row survives skipping thanks to the ceiled max
    val frac = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(GreaterThan("ts2", ts("2024-03-04 23:00:00"))), sch)
    assert(frac.nonEmpty)
    assert(spark.read.format("graft-delta").load(t)
      .filter(col("ts2") > lit("2024-03-04 23:00:00").cast("timestamp"))
      .count() === 1)
    // a fractional-second FILTER literal abstains (conservative: keeps all)
    val abstain = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(GreaterThan("ts2", java.sql.Timestamp.valueOf("2024-03-04 23:00:00.5"))), sch)
    assert(abstain.length === 4)
    // date stats prune too
    val dearly = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(LessThan("d", java.sql.Date.valueOf("2024-03-02"))), sch)
    assert(dearly.length < 4, "date filter pruned nothing")
    // and the relation path returns exact results over the pruned scan
    assert(spark.read.format("graft-delta").load(t)
      .filter(col("ts2") >= lit("2024-03-04 06:00:00").cast("timestamp"))
      .count() === 18)
  }

  test("IN-list filters skip files at the stats consult and partition level") {
    import org.apache.spark.sql.sources.In
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    // 4 range-clustered files over id 0..99
    DeltaTable.write(spark.range(0, 100).toDF("id")
      .repartitionByRange(4, col("id")), t, "overwrite")
    val snap = DeltaLog.snapshot(t)
    assert(snap.files.length === 4)
    val sch = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // two nearby keys: both live in one range file
    val hit = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(In("id", Array(3L, 7L))), sch)
    assert(hit.length === 1, s"IN-list pruned to ${hit.length} files")
    // spread keys touch two files, never all four
    val spread = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(In("id", Array(3L, 97L))), sch)
    assert(spread.length === 2)
    // a null in the list keeps candidates conservative, loses no rows
    val withNull = DeltaTable.liveFilesAfterSkipping(snap,
      Seq(In("id", Array(3L, null))), sch)
    assert(withNull.length === 4)
    // end-to-end: the relation's isin scan lists only the hit files
    val q = spark.read.format("graft-delta").load(t)
      .filter(col("id").isin(3L, 7L))
    assert(q.select("id").as[Long].collect().sorted === Array(3L, 7L))
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    val listed = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
    assert(listed.map(_.files.length).sum === 1,
      s"isin scan listed ${listed.map(_.files.length).sum} files, expected 1")
    // partition values answer IN too
    val tp = freshTable()
    employees3.write.format("graft-delta").partitionBy("date")
      .mode("overwrite").save(tp)
    val snapP = DeltaLog.snapshot(tp)
    val schP = org.apache.spark.sql.types.DataType.fromJson(snapP.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val pin = DeltaTable.liveFilesAfterSkipping(snapP,
      Seq(In("date", Array("2024-01-15", "2024-01-17"))), schP)
    assert(pin.nonEmpty && pin.forall(f =>
      Set("2024-01-15", "2024-01-17")
        .contains(f.partitionValues("date"))))
  }

  test("timestampAsOf monotonizes skewed commit timestamps") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite") // v0
    DeltaTable.write(employee1, t, "append")     // v1
    val v0ts = DeltaLog.commitTimestamps(t).head._2
    // skew: rewrite v1's commitInfo timestamp to 10 s BEFORE v0's (two
    // writers with drifted clocks)
    val p1 = java.nio.file.Paths.get(t, "_delta_log")
      .resolve(f"${1L}%020d.json")
    val skewed = new String(Files.readAllBytes(p1), "UTF-8")
      .replaceFirst("\"timestamp\":\\d+",
        "\"timestamp\":" + (v0ts - 10000L))
    Files.write(p1, skewed.getBytes("UTF-8"))
    val ts = DeltaLog.commitTimestamps(t)
    assert(ts.map(_._2) === ts.map(_._2).sorted, s"not monotone: $ts")
    assert(ts(1)._2 === v0ts + 1)
    assert(DeltaLog.versionAtTimestamp(t, v0ts) === 0L)
    assert(DeltaLog.versionAtTimestamp(t, v0ts + 1) === 1L)
  }

  test("shallow clone: metadata-only copy, copy-on-write divergence, vacuum safety") {
    import scala.sys.process.{Process, ProcessLogger}
    val src = freshTable()
    DeltaTable.write(employees3, src, "overwrite") // v0
    DeltaTable.write(employee1, src, "append")     // v1
    val tgt = freshTable()
    DeltaTable.shallowClone(src, tgt)
    def parquetsUnder(dir: String): Seq[String] = {
      val st = Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator.asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toVector
      } finally st.close()
    }
    // zero data bytes moved: the target directory holds no parquet
    assert(parquetsUnder(tgt).isEmpty)
    assert(DeltaTable.read(spark, tgt).count() === 4)
    // version-pinned clone sees the historical snapshot
    val tgt0 = freshTable()
    DeltaTable.shallowClone(src, tgt0, Some(0L))
    assert(DeltaTable.read(spark, tgt0).count() === 3)
    // copy-on-write divergence: DML on the clone never touches the source
    val srcFiles = parquetsUnder(src).toSet
    DeltaTable.delete(spark, tgt, col("id") === 1)
    assert(DeltaTable.read(spark, tgt).count() === 3)
    assert(DeltaTable.read(spark, src).count() === 4)
    assert(parquetsUnder(src).toSet === srcFiles, "source bytes moved")
    // the clone's own append stages under the clone
    DeltaTable.write(Seq((9, "Eve", 90000L, "2024-01-19"))
      .toDF("id", "name", "salary", "date"), tgt, "append")
    assert(DeltaTable.read(spark, tgt).count() === 4)
    assert(parquetsUnder(tgt).nonEmpty)
    // vacuuming the clone cannot reach outside its directory
    DeltaTable.vacuum(tgt, 1)
    assert(parquetsUnder(src).toSet === srcFiles)
    assert(DeltaTable.read(spark, src).count() === 4)
    assert(DeltaTable.read(spark, tgt).count() === 4)
    // both tables stay wire-format valid
    for (t <- Seq(src, tgt)) {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      assert(code === 0, s"delta_validate.py failed on $t:\n$out")
    }
  }

  test("vacuuming the clone's SOURCE strands the clone LOUDLY, never silently") {
    val src = freshTable()
    DeltaTable.write(employees3, src, "overwrite") // v0
    DeltaTable.write(employee1, src, "append")     // v1
    val tgt = freshTable()
    DeltaTable.shallowClone(src, tgt, Some(0L))    // references v0's files
    DeltaTable.write(employee1, src, "overwrite")  // v2: v0 files now dead
    assert(DeltaTable.read(spark, tgt).count() === 3) // still served
    DeltaTable.vacuum(src, 1) // deletes v0/v1 files (protocol caveat)
    // the clone's next read must FAIL, not fabricate or drop rows
    val e = intercept[Exception](DeltaTable.read(spark, tgt).count())
    assert(e.getMessage != null)
    // and the independent validator flags the dangling references
    import scala.sys.process.{Process, ProcessLogger}
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath, tgt))
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code != 0 && out.toString.contains("missing on disk"),
      s"validator must flag the stranded clone:\n$out")
  }

  test("shallow clone carries the full table contract") {
    val src = freshTable()
    DeltaTable.write(eventsG, src, "overwrite",
      partitionBy = Seq("event_date"),
      generatedColumns = Map("event_date" -> "CAST(ts AS DATE)"))
    DeltaTable.addCheckConstraint(spark, src, "pos_id", "id > 0")
    val tgt = freshTable()
    DeltaTable.shallowClone(src, tgt)
    val snap = DeltaLog.snapshot(tgt)
    assert(snap.partitionColumns === Seq("event_date"))
    assert(snap.checkConstraints.map(_._1) === Seq("pos_id"))
    assert(snap.writerFeatures.contains("generatedColumns"))
    // appends to the clone keep maintaining generated columns
    DeltaTable.write(Seq((99L, ts("2024-06-01 00:00:00"))).toDF("id", "ts"),
      tgt, "append")
    val got = DeltaTable.read(spark, tgt)
    assert(got.count() === eventsG.count() + 1)
    assert(got.filter(!($"event_date" <=> to_date($"ts"))).count() === 0)
    // and the constraint still gates
    intercept[IllegalArgumentException](DeltaTable.write(
      Seq((-5L, ts("2024-06-02 00:00:00"))).toDF("id", "ts"), tgt, "append"))
    // a generated-partition filter still prunes on cloned (absolute) adds
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val sch = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val derived = graft.sources.GeneratedColumns.derivePartitionFilters(
      Seq(GreaterThanOrEqual("ts", ts("2024-06-01 00:00:00"))), sch,
      snap.partitionColumns, java.time.ZoneId.of("UTC"))
    val live = DeltaTable.liveFilesAfterSkipping(
      DeltaLog.snapshot(tgt), derived, sch)
    assert(live.nonEmpty && live.forall(
      _.partitionValues.get("event_date").exists(_ >= "2024-06-01")))
  }

  test("OPTIMIZE WHERE: only the selected partitions compact, the rest are byte-identical") {
    import org.apache.spark.sql.sources.EqualTo
    import scala.sys.process.{Process, ProcessLogger}
    val t = freshTable()
    employees3.write.format("graft-delta").partitionBy("date")
      .mode("overwrite").save(t)
    employees3.write.format("graft-delta").mode("append").save(t)
    employees3.write.format("graft-delta").mode("append").save(t)
    val before = DeltaLog.snapshot(t)
    def filesOf(snap: graft.sources.DeltaLog.Snapshot, date: String) =
      snap.files.filter(_.partitionValues.get("date").contains(date))
        .map(_.path).sorted
    assert(filesOf(before, "2024-01-15").length === 3)
    DeltaTable.compactWhere(spark, t, Seq(EqualTo("date", "2024-01-15")))
    val after = DeltaLog.snapshot(t)
    assert(filesOf(after, "2024-01-15").length === 1)
    // the other partitions' files never moved
    for (d <- Seq("2024-01-16", "2024-01-17"))
      assert(filesOf(after, d) === filesOf(before, d))
    // rows intact, layout-only commit
    assert(DeltaTable.read(spark, t).count() === 9)
    assert(spark.read.format("graft-delta").load(t)
      .filter($"date" === "2024-01-15").count() === 3)
    val lastLog = java.nio.file.Paths.get(t, "_delta_log")
      .resolve(f"${after.version}%020d.json")
    val lines = new String(Files.readAllBytes(lastLog), "UTF-8")
    assert(!lines.contains("\"dataChange\":true"),
      "OPTIMIZE WHERE must be layout-only")
    // idempotent: a second call commits nothing
    assert(DeltaTable.compactWhere(spark, t,
      Seq(EqualTo("date", "2024-01-15"))) === after.version)
    // predicates on non-partition columns refuse loudly
    val e = intercept[IllegalArgumentException](
      DeltaTable.compactWhere(spark, t, Seq(EqualTo("salary", 75000L))))
    assert(e.getMessage.contains("non-partition"))
    // wire format stays valid
    val out = new StringBuilder
    val code = Process(Seq("python3",
      new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
      .!(ProcessLogger(s => out.append(s).append('\n'),
        s => out.append(s).append('\n')))
    assert(code === 0, s"delta_validate.py failed:\n$out")
  }

  // ---------------------------------------------------------------
  // IDENTITY COLUMNS (delta.identity.* + the identityColumns writer
  // feature): engine-assigned surrogate keys. See IdentityColumns.scala.
  // ---------------------------------------------------------------

  test("identity columns: engine-assigned values, high-water continuation, ALWAYS enforced") {
    val t = freshTable()
    DeltaTable.write(Seq("a", "b", "c").toDF("name").coalesce(1),
      t, "overwrite", identityColumns = Map("id" -> ((100L, 10L))))
    val got = DeltaTable.read(spark, t)
      .select("name", "id").as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 100L, "b" -> 110L, "c" -> 120L))
    val snap = DeltaLog.snapshot(t)
    assert(snap.minWriterVersion === 7 &&
      snap.writerFeatures.contains("identityColumns"))
    val sch = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val md = sch("id").metadata
    assert(md.getLong("delta.identity.start") === 100L)
    assert(md.getLong("delta.identity.step") === 10L)
    assert(md.getLong("delta.identity.highWaterMark") === 120L)
    // appends inherit and continue beyond the mark
    DeltaTable.write(Seq("d", "e").toDF("name").coalesce(1), t, "append")
    val after = DeltaTable.read(spark, t)
      .select("id").as[Long].collect().sorted
    assert(after === Array(100L, 110L, 120L, 130L, 140L))
    // a frame PROVIDING the column is refused (GENERATED ALWAYS)
    val e = intercept[IllegalArgumentException](DeltaTable.write(
      Seq(("f", 999L)).toDF("name", "id"), t, "append"))
    assert(e.getMessage.contains("GENERATED ALWAYS"))
    // UPDATE may not SET an identity column
    val e2 = intercept[IllegalArgumentException](DeltaTable.update(
      spark, t, $"name" === "a", Map("id" -> lit(7L))))
    assert(e2.getMessage.contains("identity"))
  }

  test("identity columns: MERGE keeps matched ids, assigns fresh to inserts") {
    val t = freshTable()
    DeltaTable.write(Seq("a", "b", "c").toDF("name").coalesce(1),
      t, "overwrite", identityColumns = Map("id" -> ((1L, 1L))))
    DeltaTable.merge(spark, t,
      Seq("b", "z").toDF("name").coalesce(1), Seq("name"))
    val got = DeltaTable.read(spark, t)
      .select("name", "id").as[(String, Long)].collect().toMap
    assert(got("a") === 1L && got("b") === 2L && got("c") === 3L,
      s"matched/unmatched target rows must keep their ids: $got")
    assert(got("z") > 3L && (got("z") - 1L) % 1L === 0L,
      s"insert must take a fresh value beyond the mark: $got")
    // the mark advanced to exactly the landed maximum
    val sch = org.apache.spark.sql.types.DataType.fromJson(
      DeltaLog.snapshot(t).schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sch("id").metadata.getLong("delta.identity.highWaterMark")
      === got.values.max)
    // a source carrying the identity column is refused
    val e = intercept[IllegalArgumentException](DeltaTable.merge(spark, t,
      Seq(("q", 50L)).toDF("name", "id"), Seq("name")))
    assert(e.getMessage.contains("identity"))
  }

  test("identity columns: concurrent appends never collide") {
    val t = freshTable()
    DeltaTable.write(Seq("seed").toDF("name").coalesce(1),
      t, "overwrite", identityColumns = Map("id" -> ((1L, 1L))))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 until 3).map { w =>
      Future {
        for (i <- 0 until 3)
          DeltaTable.write(
            Seq(s"w$w-$i-x", s"w$w-$i-y").toDF("name").coalesce(1),
            t, "append")
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val ids = DeltaTable.read(spark, t).select("id").as[Long].collect()
    assert(ids.length === 1 + 18)
    assert(ids.distinct.length === ids.length,
      s"identity values collided: ${ids.sorted.mkString(",")}")
    // all on the lattice and within the committed mark
    val sch = org.apache.spark.sql.types.DataType.fromJson(
      DeltaLog.snapshot(t).schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val hwm = sch("id").metadata.getLong("delta.identity.highWaterMark")
    assert(ids.forall(i => i >= 1L && i <= hwm))
  }

  test("review regressions: identity overwrite refuses provided column; non-UTC derivation abstains; compactWhere spares the null partition") {
    // (1) an overwrite carrying a prior identity column must refuse -
    // silently accepting would land unvalidated keys and drop the mark
    val t = freshTable()
    DeltaTable.write(Seq("a", "b").toDF("name").coalesce(1),
      t, "overwrite", identityColumns = Map("id" -> ((1L, 1L))))
    val e = intercept[IllegalArgumentException](DeltaTable.write(
      Seq(("c", 99L)).toDF("name", "id"), t, "overwrite"))
    assert(e.getMessage.contains("identity"))
    // dropping the column from the frame keeps the contract + the mark
    DeltaTable.write(Seq("x", "y", "z").toDF("name").coalesce(1),
      t, "overwrite")
    val ids = DeltaTable.read(spark, t).select("id").as[Long].collect()
    assert(ids.forall(_ > 2L), s"post-overwrite ids must stay beyond " +
      s"the carried mark: ${ids.sorted.mkString(",")}")
    // (2) partition-filter derivation only engages under a UTC session
    val tg = genTable()
    val sch = org.apache.spark.sql.types.DataType.fromJson(
      DeltaLog.snapshot(tg).schemaJson.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val derived = graft.sources.GeneratedColumns.derivePartitionFilters(
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("ts",
        ts("2024-03-02 00:00:00"))),
      sch, Seq("event_date"), java.time.ZoneId.of("Asia/Tokyo"))
    assert(derived.isEmpty,
      "derivation under a non-UTC session would prune wrong partitions")
    // (3) compactWhere never rewrites the null partition (NULL
    // satisfies no predicate) even though its consult abstains
    val tn = freshTable()
    val rows = spark.createDataFrame(Seq(
      (1L, "2024-01-01"), (2L, "2024-01-01"),
      (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String])))
      .toDF("id", "d").repartition(4)
    DeltaTable.write(rows, tn, "overwrite", partitionBy = Seq("d"))
    DeltaTable.write(rows, tn, "append") // several files per partition
    val before = DeltaLog.snapshot(tn).files
      .filter(_.partitionValues.get("d")
        .contains("__HIVE_DEFAULT_PARTITION__")).map(_.path).toSet
    assert(before.size > 1)
    DeltaTable.compactWhere(spark, tn,
      Seq(org.apache.spark.sql.sources.EqualTo("d", "2024-01-01")))
    val after = DeltaLog.snapshot(tn).files
      .filter(_.partitionValues.get("d")
        .contains("__HIVE_DEFAULT_PARTITION__")).map(_.path).toSet
    assert(after === before, "null partition must never be rewritten " +
      "by a predicate it does not satisfy")
    assert(DeltaTable.read(spark, tn).count() === 8)
  }

  test("validator invariant 16: identity columns gate the protocol and respect the mark") {
    import scala.sys.process.{Process, ProcessLogger}
    val t = freshTable()
    DeltaTable.write(Seq("a", "b", "c").toDF("name").coalesce(1),
      t, "overwrite", identityColumns = Map("id" -> ((5L, 5L))))
    DeltaTable.write(Seq("d").toDF("name"), t, "append")
    def validate(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val (c1, o1) = validate()
    assert(c1 === 0, s"validator failed on a healthy identity table:\n$o1")
    // tamper: drop the protocol gate -> flagged
    forgeProtocol(t, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val (c2, o2) = validate()
    assert(c2 != 0 && o2.contains("identityColumns"),
      s"validator missed the ungated identity metadata:\n$o2")
  }

  test("validator invariant 15: generated columns gate the protocol and match the data") {
    import scala.sys.process.{Process, ProcessLogger}
    val t = genTable()
    DeltaTable.update(spark, t, $"id" === 2,
      Map("ts" -> (col("ts") + expr("INTERVAL 3 DAYS"))))
    def validate(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val (c1, o1) = validate()
    assert(c1 === 0, s"validator failed on a healthy generated table:\n$o1")
    // tamper: a protocol downgrade that stops gating the feature must
    // be flagged — an unaware writer could then break the invariant
    forgeProtocol(t, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val (c2, o2) = validate()
    assert(c2 != 0 && o2.contains("generatedColumns"),
      s"validator missed the ungated generation expressions:\n$o2")
  }

  test("writer gate: legacy writer version 4 (generated+CDF) passes") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    forgeProtocol(t, """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""")
    DeltaTable.write(employee1, t, "append") // maintained -> allowed
    assert(DeltaTable.read(spark, t).count() === 4)
  }

  test("vacuumRetain: the retention window keeps recent versions " +
      "readable, collects the rest, and binds to in-commit timestamps") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                // v0
    DeltaTable.enableInCommitTimestamps(t)                      // v1
    DeltaTable.write(employee1, t, "append")                    // v2
    DeltaTable.write(Seq((5, "Eve", 50000L, "2024-01-19"))
      .toDF("id", "name", "salary", "date"), t, "append")       // v3
    // a huge window keeps everything: no-op
    assert(DeltaTable.vacuumRetain(t, 86_400_000L) === Seq.empty)
    assert(DeltaLog.versions(t) === (0L to 3L))
    // backdate v0..v1's STAMPS far into the past by forging the index
    // the resolution uses? No — stamps are immutable; instead use a
    // zero-length window: only the latest version survives
    val deleted = DeltaTable.vacuumRetain(t, 0L)
    val vs = DeltaLog.versions(t)
    assert(vs.nonEmpty && vs.head >= 3L,
      s"expected only the latest version retained, got $vs")
    assert(DeltaTable.read(spark, t).count() === 5)
    // pre-horizon time travel now fails loudly
    intercept[IllegalArgumentException] {
      DeltaTable.read(spark, t, versionAsOf = Some(0L)).count() }
    assert(deleted.isEmpty || deleted.forall(_.endsWith(".parquet")))
  }

  // -- row tracking ----------------------------------------------------

  /** (business key -> row id) of a row-tracked table right now. */
  private def idsOf(t: String): Map[Int, Long] =
    DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Int, Long)].collect().toMap

  test("row tracking: ids stable across append, vectored delete and " +
      "compact; update draws fresh; high-water mark never reuses") {
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableRowTracking(t)                              // v1 backfill
    val snap1 = DeltaLog.snapshot(t)
    assert(snap1.writerFeatures.contains("rowTracking"))
    assert(snap1.writerFeatures.contains("domainMetadata"))
    assert(graft.sources.RowTracking.highWaterMark(snap1) === 2L)
    val base = idsOf(t)
    assert(base.values.toSeq.sorted === Seq(0L, 1L, 2L))
    // append: fresh range beyond the mark
    DeltaTable.write(employee1.coalesce(1), t, "append")         // v2
    val afterAppend = idsOf(t)
    assert(afterAppend.filterKeys(base.contains).toMap === base)
    assert(afterAppend(4) === 3L)
    // commit versions: backfilled rows stamp v1, the append v2
    val vers = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_commit_version").as[(Int, Long)].collect().toMap
    assert(vers(1) === 1L && vers(4) === 2L)
    // vectored delete: survivors keep their ids (no rows move)
    DeltaTable.enableDeletionVectors(t)                          // v3
    DeltaTable.delete(spark, t, $"id" === 2)                     // v4
    val afterDelete = idsOf(t)
    assert(afterDelete === afterAppend - 2)
    // compact absorbs the vector; the rewritten file MATERIALIZES the
    // survivors' original ids — identity survives layout maintenance
    DeltaTable.compact(spark, t)                                 // v5
    assert(DeltaLog.snapshot(t).files.forall(_.dv.isEmpty))
    assert(idsOf(t) === afterDelete,
      "compaction must not reassign row ids")
    // update rewrites the row: the post-image is a NEW row version and
    // draws a fresh id beyond the mark; untouched rows keep theirs
    val hwmBefore = graft.sources.RowTracking.highWaterMark(DeltaLog.snapshot(t))
    DeltaTable.update(spark, t, $"id" === 1,
      Map("salary" -> lit(99000L)))                              // v6
    val afterUpdate = idsOf(t)
    assert(afterUpdate.filterKeys(_ != 1).toMap ===
      afterDelete.filterKeys(_ != 1).toMap)
    assert(afterUpdate(1) > hwmBefore, s"updated row id ${afterUpdate(1)} " +
      s"should be fresh (mark was $hwmBefore)")
    // ids are never reused: every id ever observed is distinct from
    // every later-allocated one
    assert(afterUpdate.values.toSet.size === afterUpdate.size)
    // ZORDER is layout-only like compact: the clustered rewrite
    // materializes ids — identity survives this maintenance path too
    DeltaTable.zorder(spark, t, Seq("id", "salary"), targetFiles = 2)
    assert(idsOf(t) === afterUpdate,
      "zorder must not reassign row ids")
  }

  test("row tracking: DML file rewrites preserve survivor ids — " +
      "non-vectored delete/update/merge renumber ONLY modified rows") {
    // The protocol's preserved row tracking: rows a rewrite merely
    // COPIES keep their ids (round-10 ADVICE fix; previously every
    // survivor of a non-DV rewrite drew fresh ids)
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0: 1 file
    DeltaTable.enableRowTracking(t)                              // v1
    DeltaTable.write(employee1.coalesce(1), t, "append")         // v2
    val base = idsOf(t) // ids 0,1,2 + 3
    // non-DV DELETE rewrites the whole touched file: survivors of the
    // file keep their original ids
    DeltaTable.delete(spark, t, $"id" === 2)                     // v3
    val afterDelete = idsOf(t)
    assert(afterDelete === base - 2,
      s"delete renumbered copied rows: $base -> $afterDelete")
    // non-DV UPDATE: the post-image renumbers, file-mates keep ids
    val hwm = graft.sources.RowTracking.highWaterMark(DeltaLog.snapshot(t))
    DeltaTable.update(spark, t, $"id" === 1,
      Map("salary" -> lit(77000L)))                              // v4
    val afterUpdate = idsOf(t)
    assert(afterUpdate.filterKeys(_ != 1).toMap ===
      afterDelete.filterKeys(_ != 1).toMap,
      s"update renumbered copied rows: $afterDelete -> $afterUpdate")
    assert(afterUpdate(1) > hwm,
      s"update post-image must draw fresh: ${afterUpdate(1)} <= $hwm")
    // MERGE: matched post-image fresh, copied file-mates stable,
    // inserts fresh
    val hwm2 = graft.sources.RowTracking.highWaterMark(DeltaLog.snapshot(t))
    DeltaTable.merge(spark, t,
      Seq((3, "Carol2", 88000L, "2024-04-01"), (9, "New", 1000L, "2024-04-01"))
        .toDF("id", "name", "salary", "date"), Seq("id"))        // v5
    val afterMerge = idsOf(t)
    assert(afterMerge.filterKeys(k => k != 3 && k != 9).toMap ===
      afterUpdate.filterKeys(_ != 3).toMap,
      s"merge renumbered copied rows: $afterUpdate -> $afterMerge")
    assert(afterMerge(3) > hwm2 && afterMerge(9) > hwm2,
      s"merge post-image/insert must draw fresh ids beyond $hwm2: $afterMerge")
    // ids never collide across the whole history
    assert(afterMerge.values.toSet.size === afterMerge.size)
    // the validator accepts the preserved-id history
    runValidator(t)
  }

  test("row tracking: domain metadata survives checkpoint replay and " +
      "vacuum; clone carries ids; mapping composition refuses both ways") {
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")
    DeltaTable.enableRowTracking(t)
    for (i <- 1 to 3)
      DeltaTable.write(Seq((100 + i, s"W$i", 1000L * i, "2024-02-01"))
        .toDF("id", "name", "salary", "date").coalesce(1), t, "append")
    val before = idsOf(t)
    DeltaTable.vacuum(t, 1) // checkpoint at horizon; prefix pruned
    assert(idsOf(t) === before)
    assert(graft.sources.RowTracking.highWaterMark(DeltaLog.snapshot(t)) === 5L)
    // another append continues beyond the checkpoint-replayed mark
    DeltaTable.write(Seq((200, "Z", 1L, "2024-02-02"))
      .toDF("id", "name", "salary", "date").coalesce(1), t, "append")
    assert(idsOf(t)(200) === 6L)
    // clone: id ranges and the mark carry to the target
    val tgt = freshTable()
    DeltaTable.shallowClone(t, tgt)
    assert(idsOf(tgt) === idsOf(t))
    // composition refusals
    intercept[IllegalArgumentException] { DeltaTable.enableColumnMapping(t) }
    val tm = freshTable()
    DeltaTable.write(employees3, tm, "overwrite")
    DeltaTable.enableColumnMapping(tm)
    intercept[IllegalArgumentException] { DeltaTable.enableRowTracking(tm) }
  }

  test("row tracking: concurrent appenders never collide id ranges") {
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")
    DeltaTable.enableRowTracking(t)
    val threads = (0 until 6).map { k =>
      new Thread(() => {
        DeltaTable.write(
          Seq((1000 + k, s"T$k", 1L, "2024-03-01"))
            .toDF("id", "name", "salary", "date").coalesce(1), t, "append")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val ids = DeltaTable.readWithRowIds(spark, t)
      .select($"_row_id").as[Long].collect()
    assert(ids.length === 9)
    assert(ids.toSet.size === 9, s"colliding row ids: ${ids.sorted.toSeq}")
    assert(graft.sources.RowTracking.highWaterMark(DeltaLog.snapshot(t)) === 8L)
  }

  test("delta wire format: validator checks each add's stats against its " +
      "data file (row count and min/max bounds)") {
    import scala.jdk.CollectionConverters._
    import scala.sys.process.{Process, ProcessLogger}
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")
    def validate(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    assert(validate()._1 === 0)
    // the one file holds salaries 65000..80000 in 3 rows; log n=10 and
    // a max below 80000
    val v0 = DeltaLog.logDir(t).resolve(f"${0L}%020d.json")
    Files.write(v0, Files.readAllLines(v0).asScala.map { l =>
      if (!l.startsWith("{\"add\"")) l
      else l.replace("\\\"n\\\":\\\"3\\\"", "\\\"n\\\":\\\"10\\\"")
        .replace("\\\"max.salary\\\":\\\"80000\\\"",
          "\\\"max.salary\\\":\\\"79999\\\"")
    }.asJava)
    val (code, out) = validate()
    assert(code !== 0)
    assert(out.contains("stats n=10 but the footer holds 3 rows"), out)
    assert(out.contains("max.salary='79999' does not bound the file's max 80000"), out)
  }

  test("delta wire format: validator passes a row-tracked table; flags " +
      "an ungated protocol and overlapping id ranges") {
    import scala.sys.process.{Process, ProcessLogger}
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")
    DeltaTable.enableRowTracking(t)
    DeltaTable.write(employee1.coalesce(1), t, "append")
    DeltaTable.compact(spark, t) // materialized-column branch covered
    DeltaTable.write(Seq((9, "I", 1L, "2024-03-02"))
      .toDF("id", "name", "salary", "date").coalesce(1), t, "append")
    def validate(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val (c1, o1) = validate()
    assert(c1 === 0, s"validator failed a healthy row-tracked table:\n$o1")
    // tamper 1: protocol downgrade
    forgeProtocol(t, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val (c2, o2) = validate()
    assert(c2 != 0 && o2.contains("rowTracking"),
      s"validator missed the ungated row tracking:\n$o2")
    // tamper 2: on a fresh two-range table, forge the second file's
    // base INTO the first file's range
    val t2 = freshTable()
    DeltaTable.write(employees3.coalesce(1), t2, "overwrite")
    DeltaTable.enableRowTracking(t2) // backfill range [0,2]
    DeltaTable.write(employee1.coalesce(1), t2, "append") // range [3,3]
    def validate2(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t2))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val snap = DeltaLog.snapshot(t2)
    val last = snap.files.maxBy(_.baseRowId.getOrElse(-1L))
    DeltaLog.commit(t2, snap.version, Seq(
      DeltaLog.commitInfoAction("FORGE"),
      DeltaLog.metaDataAction(snap.schemaJson.get, snap.partitionColumns,
        DeltaLog.tableId(t2), snap.configuration),
      DeltaLog.removeAction(last.path),
      DeltaLog.addActionOf(last.copy(baseRowId = Some(1L)))))
    val (c3, o3) = validate2()
    assert(c3 != 0 && o3.contains("overlap"),
      s"validator missed the overlapping id ranges:\n$o3")
  }

  // -- multi-part checkpoints ------------------------------------------

  test("multi-part checkpoint: a snapshot over the per-file action cap " +
      "splits into K-of-P parts; parts alone replay; an incomplete set " +
      "is ignored and fails loudly past a pruned prefix") {
    import scala.sys.process.{Process, ProcessLogger}
    val t = freshTable()
    spark.conf.set("spark.graft.checkpoint.maxActionsPerFile", "8")
    try {
      DeltaTable.write(employees3, t, "overwrite")               // v0
      for (i <- 1 to 19)                                         // v1..v19
        DeltaTable.write(Seq((100 + i, s"W$i", 1000L * i, "2024-02-01"))
          .toDF("id", "name", "salary", "date"), t, "append")
      DeltaTable.vacuum(t, 3)                                    // horizon v17
      val horizon = 17L
      val parts = DeltaLog.multiPartCheckpointFiles(t, horizon)
      assert(parts.nonEmpty, "expected a multi-part checkpoint at the horizon")
      val total = parts.head._3
      assert(total > 1 && parts.map(_._2).sorted == (1 to total),
        s"incomplete part set: ${parts.map(_._2).sorted} of $total")
      assert(DeltaLog.completeMultiPart(t, horizon).isDefined)
      // no single parquet was written for the over-cap snapshot
      assert(!Files.exists(DeltaLog.parquetCheckpointPath(t, horizon)))
      // the hint advertises the part count
      assert(new String(Files.readAllBytes(
        DeltaLog.logDir(t).resolve("_last_checkpoint")), "UTF-8")
        .contains(s""""parts":$total"""))
      // superseded checkpoints below the horizon are fully collected
      assert(DeltaLog.checkpointVersions(t) === Seq(horizon))
      assert(DeltaLog.multiPartCheckpointFiles(t, 10L).isEmpty)
      // the independent validator passes the multi-part table
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      assert(code === 0, s"validator failed a healthy multi-part table:\n$out")
      // parts-only replay: with no JSON side file, the snapshot must
      // reconstruct from the parquet parts (22 rows = 3 + 19 appends)
      assert(jsonCheckpoints(t).isEmpty)
      assert(DeltaTable.read(spark, t).count() === 22)
      // an INCOMPLETE set is not a checkpoint: with part 2 gone and
      // the prefix pruned, replay refuses instead of fabricating state
      Files.delete(DeltaLog.multiPartCheckpointPath(t, horizon, 2, total))
      val e = intercept[IllegalArgumentException](DeltaLog.snapshot(t))
      assert(e.getMessage.contains("no preceding checkpoint"),
        s"unexpected failure mode: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.checkpoint.maxActionsPerFile")
  }

  test("checkpoint I/O runs no Spark job: classic, multi-part (cap 8) " +
      "and v2 checkpoint writes and their replays") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // each probe tags its jobs through a local property; a sentinel job
    // flushes the asynchronous listener bus before the count is read
    val sc = spark.sparkContext
    val tag = "graft.spec.probe"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(tag))).getOrElse(""))
    }
    var probes = 0
    def jobsOf(body: => Unit): Int = {
      probes += 1
      val (mine, sentinel) = (s"probe-$probes", s"sentinel-$probes")
      sc.setLocalProperty(tag, mine)
      try body finally sc.setLocalProperty(tag, null)
      sc.setLocalProperty(tag, sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains(sentinel), "listener bus never delivered the sentinel")
      started.asScala.count(_ == mine)
    }
    def check(shape: String, v2: Boolean, cap: Option[Int])(
        written: String => Boolean): Unit = {
      val t = freshTable()
      cap.foreach(c =>
        spark.conf.set("spark.graft.checkpoint.maxActionsPerFile", c.toString))
      try {
        def append(id: Long): Unit =
          DeltaTable.write(Seq(id).toDF("id"), t, "append")
        DeltaTable.write(spark.range(0, 8, 1, 8).toDF("id"), t, "overwrite") // v0
        DeltaTable.setTableProperty(t, "delta.checkpointInterval", "4")      // v1
        if (v2) DeltaTable.enableV2Checkpoints(t) else append(8L)             // v2
        val plain = jobsOf(append(9L))                                         // v3
        val crossing = jobsOf(append(10L))                      // v4: checkpoints
        assert(written(t), s"$shape: no checkpoint at v4")
        assert(crossing === plain, s"$shape: the checkpoint write ran " +
          s"${crossing - plain} Spark job(s)")
        var snap: DeltaLog.Snapshot = null
        assert(jobsOf { snap = DeltaLog.snapshot(t, Some(4L)) } === 0,
          s"$shape: replay from the checkpoint ran Spark jobs")
        assert(snap.files.length === (if (v2) 10 else 11), shape)
      } finally spark.conf.unset("spark.graft.checkpoint.maxActionsPerFile")
      runValidator(t)
    }
    sc.addSparkListener(listener)
    try {
      check("classic", v2 = false, cap = None)(t =>
        Files.exists(DeltaLog.parquetCheckpointPath(t, 4L)))
      check("multi-part", v2 = false, cap = Some(8))(t =>
        DeltaLog.completeMultiPart(t, 4L).exists(_.length > 1))
      check("v2", v2 = true, cap = None)(t =>
        DeltaLog.v2Manifest(t, 4L).isDefined)
    } finally sc.removeSparkListener(listener)
  }

  // -- in-commit timestamps --------------------------------------------

  test("in-commit timestamps: every post-enablement commit is stamped " +
      "monotone, commitInfo leads the version file, and timestampAsOf " +
      "ignores scrambled file mtimes") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                 // v0
    DeltaTable.enableInCommitTimestamps(t)                       // v1
    DeltaTable.write(employee1, t, "append")                     // v2
    DeltaTable.delete(spark, t, $"id" === 1)                     // v3
    // v0 predates enablement: unstamped; v1..v3 stamped strictly rising
    assert(DeltaLog.inCommitTimestamp(t, 0L).isEmpty)
    val icts = (1L to 3L).map(v => DeltaLog.inCommitTimestamp(t, v))
    assert(icts.forall(_.isDefined), s"unstamped post-enablement commit: $icts")
    assert(icts.flatten.sliding(2).forall(p => p(0) < p(1)))
    // spec shape: the stamped commitInfo is the FIRST action line
    for (v <- 1L to 3L) {
      val first = Files.readAllLines(
        DeltaLog.logDir(t).resolve(f"$v%020d.json")).get(0)
      assert(first.startsWith("""{"commitInfo":{"inCommitTimestamp":"""),
        s"v$v does not lead with the stamped commitInfo: $first")
    }
    // provenance properties recorded at enablement
    val snap = DeltaLog.snapshot(t)
    assert(snap.writerFeatures.contains("inCommitTimestamp"))
    assert(snap.configuration.get(
      "delta.inCommitTimestampEnablementVersion").contains("1"))
    // timestampAsOf binds to the ICTs even after file mtimes scramble
    // (a backup/restore or copy rewrites them arbitrarily)
    val tsOfV2 = DeltaLog.inCommitTimestamp(t, 2L).get
    for (v <- 0L to 3L)
      Files.setLastModifiedTime(
        DeltaLog.logDir(t).resolve(f"$v%020d.json"),
        java.nio.file.attribute.FileTime.fromMillis(1_000_000_000L + v))
    assert(DeltaLog.versionAtTimestamp(t, tsOfV2) === 2L)
    assert(DeltaLog.versionAtTimestamp(t, tsOfV2 - 1) === 1L)
    assert(DeltaTable.read(spark, t,
      versionAsOf = Some(DeltaLog.versionAtTimestamp(t, tsOfV2))).count() === 4)
  }

  test("in-commit timestamps: a forged future ICT cannot break " +
      "monotonicity — the next commit stamps predecessor+1; untouched " +
      "tables stay unstamped") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.enableInCommitTimestamps(t)
    // forge: stamp v2 a day into the future (writer clock skew)
    val future = System.currentTimeMillis() + 86_400_000L
    DeltaLog.commit(t, DeltaTable.latestVersion(t), Seq(
      s"""{"commitInfo":{"inCommitTimestamp":$future,"operation":"SKEWED"}}"""))
    DeltaTable.write(employee1, t, "append")
    val v3 = DeltaLog.inCommitTimestamp(t, 3L).get
    assert(v3 === future + 1,
      s"expected predecessor+1 under skew, got $v3 (future=$future)")
    // a table that never opted in is never stamped
    val t2 = freshTable()
    DeltaTable.write(employees3, t2, "overwrite")
    DeltaTable.write(employee1, t2, "append")
    assert((0L to 1L).forall(v => DeltaLog.inCommitTimestamp(t2, v).isEmpty))
  }

  test("delta wire format: validator passes an ICT table; flags a " +
      "regressing stamp and a missing post-enablement stamp") {
    import scala.sys.process.{Process, ProcessLogger}
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.enableInCommitTimestamps(t)
    DeltaTable.write(employee1, t, "append")
    def validate(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val (c1, o1) = validate()
    assert(c1 === 0, s"validator failed a healthy ICT table:\n$o1")
    // tamper: rewrite v2's stamp BELOW v1's (regression) — the commit
    // path can't produce this, so forge the version file directly
    val v2 = DeltaLog.logDir(t).resolve(f"${2L}%020d.json")
    val v1Ict = DeltaLog.inCommitTimestamp(t, 1L).get
    val forged = new String(Files.readAllBytes(v2), "UTF-8")
      .replaceFirst(""""inCommitTimestamp":\d+""",
        s""""inCommitTimestamp":${v1Ict - 5}""")
    Files.write(v2, forged.getBytes("UTF-8"))
    val (c2, o2) = validate()
    assert(c2 != 0 && o2.contains("not greater than"),
      s"validator missed the regressing stamp:\n$o2")
    // tamper: strip the stamp entirely
    Files.write(v2, new String(Files.readAllBytes(v2), "UTF-8")
      .replaceFirst(""""inCommitTimestamp":-?\d+,""", "").getBytes("UTF-8"))
    val (c3, o3) = validate()
    assert(c3 != 0 && o3.contains("lacks an"),
      s"validator missed the unstamped commit:\n$o3")
  }

  // -- type widening (ALTER COLUMN TYPE, metadata-only) ----------------

  test("type widening: int->long and float->double are metadata-only — " +
      "old files byte-untouched, reads up-convert, scans stay vectorized") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    val base = Seq((1, 1.5f, "a"), (2, 2.5f, "b"))
      .toDF("id", "score", "tag")
    DeltaTable.write(base, t, "overwrite")                       // v0
    val filesBefore = DeltaLog.snapshot(t).files.map(_.path).toSet
    DeltaTable.alterColumnType(t, "id", LongType)                // v1
    DeltaTable.alterColumnType(t, "score", DoubleType)           // v2
    assert(DeltaLog.snapshot(t).files.map(_.path).toSet === filesBefore,
      "a widen must move zero data files")
    // appends land the WIDE encoding, beyond-int values included
    DeltaTable.write(Seq((5_000_000_000L, 9.25, "c"))
      .toDF("id", "score", "tag"), t, "append")                  // v3
    val df = spark.read.format("graft-delta").load(t)
    assert(df.schema("id").dataType === LongType)
    assert(df.schema("score").dataType === DoubleType)
    assert(df.orderBy("id").select("id", "score").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 1.5), (2L, 2.5), (5_000_000_000L, 9.25)))
    // the mixed-encoding scan is still one vectorized parquet scan
    val plan = df.filter($"id" > 1L).queryExecution.executedPlan.toString
    assert(plan.contains("Batched: true"),
      s"widened read fell off the columnar path:\n$plan")
    // time travel: v0 reads under its own (narrow) committed schema
    val v0 = DeltaTable.read(spark, t, versionAsOf = Some(0L))
    assert(v0.schema("id").dataType === IntegerType)
    assert(v0.count() === 2)
    // protocol: features gate listing typeWidening both sides, and the
    // change history in the field metadata
    val snap = DeltaLog.snapshot(t)
    assert(snap.readerFeatures.contains("typeWidening"))
    assert(snap.writerFeatures.contains("typeWidening"))
    assert(snap.configuration.get("delta.enableTypeWidening").contains("true"))
    val idMeta = DataType.fromJson(snap.schemaJson.get)
      .asInstanceOf[StructType].apply("id").metadata
    assert(idMeta.getString("delta.typeChanges").contains("\"fromType\":\"integer\""))
    assert(idMeta.getString("delta.typeChanges").contains("\"toType\":\"long\""))
  }

  test("type widening: narrow appends up-cast; decimal growth; stats " +
      "skipping still prunes int-era files under long predicates") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    DeltaTable.write(
      Seq((1, BigDecimal("12.34"))).toDF("id", "amt")
        .withColumn("amt", $"amt".cast(DecimalType(6, 2))),
      t, "overwrite")                                            // v0
    DeltaTable.alterColumnType(t, "id", LongType)                // v1
    DeltaTable.alterColumnType(t, "amt", DecimalType(12, 4))     // v2
    // an append still carrying the OLD narrow types up-casts losslessly
    DeltaTable.write(
      Seq((7, BigDecimal("45.67"))).toDF("id", "amt")
        .withColumn("amt", $"amt".cast(DecimalType(6, 2))),
      t, "append")                                               // v3
    val df = spark.read.format("graft-delta").load(t).orderBy("id")
    assert(df.schema("amt").dataType === DecimalType(12, 4))
    assert(df.select($"id", $"amt".cast("string")).as[(Long, String)]
      .collect().toSeq === Seq((1L, "12.3400"), (7L, "45.6700")))
    // the history records PARAMETERIZED decimal types (typeName
    // flattens to just "decimal", logging the widening ambiguously)
    val amtMeta = DataType.fromJson(DeltaLog.snapshot(t).schemaJson.get)
      .asInstanceOf[StructType].apply("amt").metadata
    assert(amtMeta.getString("delta.typeChanges")
      .contains("\"fromType\":\"decimal(6,2)\""),
      amtMeta.getString("delta.typeChanges"))
    assert(amtMeta.getString("delta.typeChanges")
      .contains("\"toType\":\"decimal(12,4)\""))
    // skipping: the v0 file's int-era stats must still serve (and
    // prune) a long-typed predicate — BigDecimal compare is type-blind
    val index = new graft.sources.GraftDeltaFileIndex(
      t, DeltaLog.snapshot(t),
      StructType(Seq(StructField("id", LongType),
        StructField("amt", DecimalType(12, 4)))))
    val pruned = index.listFiles(Nil, Seq(
      org.apache.spark.sql.catalyst.expressions.GreaterThan(
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "id", LongType)(),
        org.apache.spark.sql.catalyst.expressions.Literal(5L))))
    assert(pruned.head.files.length === 1,
      "the id=1 file should prune under id > 5")
  }

  test("type widening: narrowing, cross-family, partition, identity and " +
      "generated-base changes all refuse loudly") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    DeltaTable.write(
      Seq((1L, 10, "2024-01-15 10:00:00")).toDF("id", "qty", "s")
        .withColumn("ts", $"s".cast("timestamp")).drop("s"),
      t, "overwrite", partitionBy = Seq("qty"),
      generatedColumns = Map("d" -> "CAST(ts AS DATE)"))
    intercept[graft.sources.SchemaEvolutionException] {
      DeltaTable.alterColumnType(t, "id", IntegerType) } // narrowing
    intercept[graft.sources.SchemaEvolutionException] {
      DeltaTable.alterColumnType(t, "id", StringType) } // cross-family
    intercept[graft.sources.SchemaEvolutionException] {
      DeltaTable.alterColumnType(t, "id", DecimalType(18, 0)) } // long needs p-s>=20
    intercept[IllegalArgumentException] {
      DeltaTable.alterColumnType(t, "qty", LongType) } // partition col
    intercept[IllegalArgumentException] {
      DeltaTable.alterColumnType(t, "ts", StringType) } // generated base
    val t2 = freshTable()
    DeltaTable.write(Seq((1, "x")).toDF("n", "v"), t2, "overwrite",
      identityColumns = Map("sk" -> ((1L, 1L))))
    intercept[IllegalArgumentException] {
      DeltaTable.alterColumnType(t2, "sk", DecimalType(38, 0)) } // identity
    // long -> decimal(20,0) IS legal
    DeltaTable.alterColumnType(t, "id", DecimalType(20, 0))
    assert(spark.read.format("graft-delta").load(t)
      .schema("id").dataType === DecimalType(20, 0))
  }

  test("type widening composes with column mapping: widen a renamed " +
      "column; mapped reads up-convert under the physical name") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    DeltaTable.write(Seq((1, "a"), (2, "b")).toDF("n", "v"), t, "overwrite")
    DeltaTable.enableColumnMapping(t)
    DeltaTable.renameColumn(t, "n", "num")
    DeltaTable.alterColumnType(t, "num", LongType)
    DeltaTable.write(Seq((6_000_000_000L, "c")).toDF("num", "v"), t, "append")
    val df = spark.read.format("graft-delta").load(t)
    assert(df.schema("num").dataType === LongType)
    assert(df.orderBy("num").select("num").as[Long].collect().toSeq ===
      Seq(1L, 2L, 6_000_000_000L))
  }

  test("v2 checkpoints: manifest + sidecars replace the classic shape; " +
      "replay crosses a pruned prefix through sidecar references; " +
      "vacuum collects superseded manifests and orphaned sidecars; " +
      "validator invariant 21 accepts healthy and rejects tampered") {
    import scala.sys.process.{Process, ProcessLogger}
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableV2Checkpoints(t)                            // v1
    val snap1 = DeltaLog.snapshot(t)
    assert(snap1.readerFeatures.contains("v2Checkpoint") &&
      snap1.writerFeatures.contains("v2Checkpoint"),
      s"protocol must gate v2: ${snap1.readerFeatures}/${snap1.writerFeatures}")
    DeltaTable.write(employee1.coalesce(1), t, "append")         // v2
    DeltaTable.write(Seq((9, "Eve", 90000L, "2024-01-19"))
      .toDF("id", "name", "salary", "date").coalesce(1), t, "append") // v3
    DeltaTable.vacuum(t, 1) // checkpoint at v3 (v2 shape), prune prefix
    assert(DeltaLog.v2Manifest(t, 3L).isDefined, "no v2 manifest at v3")
    assert(jsonCheckpoints(t).isEmpty &&
      !java.nio.file.Files.exists(DeltaLog.parquetCheckpointPath(t, 3L)),
      "the v2 policy must replace the classic checkpoint shape")
    val refs = DeltaLog.v2SidecarRefs(DeltaLog.v2Manifest(t, 3L).get)
    assert(refs.nonEmpty && refs.forall(r => java.nio.file.Files.exists(
      DeltaLog.sidecarDir(t).resolve(r))), s"sidecars missing: $refs")
    // the prefix is pruned: this read replays manifest + sidecars only
    assert(spark.read.format("graft-delta").load(t).count() === 5)
    assert(DeltaLog.snapshot(t).configuration
      .get("delta.checkpointPolicy").contains("v2"))
    // appends continue past the checkpoint; a later vacuum re-snapshots
    // (new manifest) and collects the superseded manifest + sidecars
    DeltaTable.write(Seq((10, "Zed", 1000L, "2024-01-20"))
      .toDF("id", "name", "salary", "date").coalesce(1), t, "append") // v4
    DeltaTable.vacuum(t, 1) // horizon v4
    assert(DeltaLog.v2Manifest(t, 3L).isEmpty,
      "superseded v2 manifest must be collected")
    val live = DeltaLog.v2SidecarRefs(DeltaLog.v2Manifest(t, 4L).get).toSet
    val onDisk = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(DeltaLog.sidecarDir(t))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    assert(onDisk === live,
      s"orphaned sidecars must be collected: disk=$onDisk live=$live")
    assert(spark.read.format("graft-delta").load(t).count() === 6)
    def validate(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val (c1, o1) = validate()
    assert(c1 === 0, s"validator failed a healthy v2 table:\n$o1")
    // tamper: delete a sidecar — discovery must refuse the checkpoint
    // and the validator must flag the dangling reference
    val victim = DeltaLog.sidecarDir(t).resolve(live.head)
    val bytes = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.delete(victim)
    val (c2, o2) = validate()
    assert(c2 != 0 && o2.contains("sidecar"),
      s"validator missed the missing sidecar:\n$o2")
    assert(!DeltaLog.checkpointVersions(t).contains(4L),
      "discovery must refuse a v2 checkpoint with missing sidecars")
    java.nio.file.Files.write(victim, bytes)
    assert(DeltaLog.checkpointVersions(t).contains(4L))
    runValidator(t)
  }

  test("v2 checkpoints: sidecars split by the per-file action cap; DV " +
      "descriptors survive v2 replay; the periodic auto-checkpoint " +
      "takes the v2 shape under the policy") {
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.enableV2Checkpoints(t)                            // v1
    DeltaTable.enableDeletionVectors(t)                          // v2
    DeltaTable.write(employee1.coalesce(1), t, "append")         // v3
    DeltaTable.delete(spark, t, $"id" === 2)                     // v4 (DV)
    spark.conf.set("spark.graft.checkpoint.maxActionsPerFile", "1")
    try {
      DeltaTable.vacuum(t, 1) // v2 checkpoint at v4, split sidecars
      val refs = DeltaLog.v2SidecarRefs(DeltaLog.v2Manifest(t, 4L).get)
      assert(refs.length >= 2,
        s"2 live files at cap 1 must split across sidecars: $refs")
      // the DV descriptor crossed the v2 checkpoint: the replayed
      // snapshot still knows the dead row, and reads subtract it
      val snap = DeltaLog.snapshot(t)
      assert(snap.files.flatMap(_.dv).map(_.cardinality).sum === 1L,
        "deletionVector descriptor lost across v2 sidecar replay")
      assert(DeltaTable.read(spark, t).select("id").as[Int].collect().sorted
        === Array(1, 3, 4))
    } finally spark.conf.unset("spark.graft.checkpoint.maxActionsPerFile")
    runValidator(t)
    // the PERIODIC auto-checkpoint honors the v2 policy: with
    // delta.checkpointInterval=2, the next even version checkpoints as
    // a manifest + sidecars, never the classic shape
    DeltaTable.setTableProperty(t, "delta.checkpointInterval", "2") // v5
    DeltaTable.write(employee1.coalesce(1)
      .withColumn("id", lit(8)), t, "append")                    // v6
    assert(DeltaLog.v2Manifest(t, 6L).isDefined,
      "auto-checkpoint under the v2 policy must write a v2 manifest")
    assert(jsonCheckpoints(t).isEmpty &&
      !java.nio.file.Files.exists(DeltaLog.parquetCheckpointPath(t, 6L)),
      "the v2 policy must not write classic checkpoint files")
    assert(DeltaTable.read(spark, t).count() === 4)
    runValidator(t)
  }

  test("version checksums: every commit writes an N.crc summarizing " +
      "the post-commit snapshot; the validator rejects a tampered one; " +
      "vacuum prunes them with their versions") {
    import scala.sys.process.{Process, ProcessLogger}
    val t = freshTable()
    DeltaTable.write(employees3.coalesce(1), t, "overwrite")     // v0
    DeltaTable.write(employee1.coalesce(1), t, "append")         // v1
    DeltaTable.enableDeletionVectors(t)                          // v2
    DeltaTable.delete(spark, t, $"id" === 2)                     // v3 vectored
    for (v <- 0L to 3L)
      assert(java.nio.file.Files.exists(DeltaLog.checksumPath(t, v)),
        s"commit $v wrote no checksum sidecar")
    val crc3 = DeltaLog.versionChecksum(t, 3L).get
    assert(crc3("numFiles") === "2")
    assert(crc3("numDeletedRecordsOpt") === "1")
    assert(crc3("protocol").contains("\"minReaderVersion\":3"),
      crc3("protocol")) // DV features gate
    // the commit path derives these INCREMENTALLY (pre-snapshot +
    // actions, round 11); a full log replay must serialize the
    // identical bytes for every version — the two derivations can
    // never drift
    for (v <- 0L to 3L) {
      val incremental = new String(java.nio.file.Files.readAllBytes(
        DeltaLog.checksumPath(t, v)), "UTF-8")
      DeltaLog.writeVersionChecksum(t, v) // full-replay form
      val replayed = new String(java.nio.file.Files.readAllBytes(
        DeltaLog.checksumPath(t, v)), "UTF-8")
      assert(incremental === replayed,
        s"v$v: incremental checksum drifted from the replay form")
    }
    def validate(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val (c1, o1) = validate()
    assert(c1 === 0, s"validator failed a healthy checksummed table:\n$o1")
    // tamper: misstate the file count — the log still parses, only the
    // checksum cross-check can notice
    val p = DeltaLog.checksumPath(t, 3L)
    val forged = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .replace("\"numFiles\":2", "\"numFiles\":7")
    java.nio.file.Files.write(p, forged.getBytes("UTF-8"))
    val (c2, o2) = validate()
    assert(c2 != 0 && o2.contains("numFiles"),
      s"validator missed the forged checksum:\n$o2")
    java.nio.file.Files.write(p, forged.replace("\"numFiles\":7",
      "\"numFiles\":2").getBytes("UTF-8"))
    // vacuum prunes the sidecars of pruned versions, keeps the rest
    DeltaTable.vacuum(t, 1)
    assert(!java.nio.file.Files.exists(DeltaLog.checksumPath(t, 0L)))
    assert(java.nio.file.Files.exists(DeltaLog.checksumPath(t, 3L)))
    val (c3, o3) = validate()
    assert(c3 === 0, s"validator failed the vacuumed table:\n$o3")
  }

  test("delta wire format: validator passes a widened table; flags an " +
      "ungated protocol and a narrowing in the typeChanges history") {
    import scala.sys.process.{Process, ProcessLogger}
    import org.apache.spark.sql.types._
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.alterColumnType(t, "id", LongType)
    def validate(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq("python3",
        new java.io.File("tools/delta_validate.py").getAbsolutePath, t))
        .!(ProcessLogger(s => out.append(s).append('\n'),
          s => out.append(s).append('\n')))
      (code, out.toString)
    }
    val (c1, o1) = validate()
    assert(c1 === 0, s"validator failed a healthy widened table:\n$o1")
    // tamper 1: downgrade the protocol below the features gate
    forgeProtocol(t, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val (c2, o2) = validate()
    assert(c2 != 0 && o2.contains("typeWidening"),
      s"validator missed the ungated typeChanges history:\n$o2")
    // tamper 2: restore the gate but forge a NARROWING into the history
    val snap = DeltaLog.snapshot(t)
    val schema = DataType.fromJson(snap.schemaJson.get).asInstanceOf[StructType]
    val narrowed = StructType(schema.fields.map(f =>
      if (f.name != "id") f
      else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putString("delta.typeChanges",
          """[{"fromType":"long","toType":"integer","tableVersion":9}]""")
        .build())))
    DeltaLog.commit(t, snap.version, Seq(
      DeltaLog.commitInfoAction("FORGE"),
      DeltaLog.protocolAction(3, 7, Seq("typeWidening"), Seq("typeWidening")),
      DeltaLog.metaDataAction(narrowed.json, snap.partitionColumns,
        DeltaLog.tableId(t), snap.configuration)))
    val (c3, o3) = validate()
    assert(c3 != 0 && o3.contains("not a widening"),
      s"validator missed the narrowing history:\n$o3")
  }

  // -- metadata-only COUNT(*) (MetadataOnlyCount optimizer rule) -------

  /** True iff the plan never touches a file: every optimized leaf is a
    * LocalRelation (the rewrite's output). */
  private def scanFree(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("metadata-only count: COUNT(*) answers from log stats, scan-free, " +
      "across append / vectored delete / time travel") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")            // v0
    DeltaTable.write(employee1, t, "append")                // v1
    DeltaTable.enableDeletionVectors(t)                     // v2
    DeltaTable.delete(spark, t, $"salary" > 72000L)         // v3 (vectored)
    val cnt = spark.read.format("graft-delta").load(t).groupBy().count()
    assert(scanFree(cnt), s"count(*) still scans:\n${cnt.queryExecution}")
    assert(cnt.as[Long].head() === 2L) // Alice(75k) + Carol(80k) dead
    // ds.count() takes the same path
    assert(spark.read.format("graft-delta").load(t).count() === 2L)
    // the TAGGED shape (q105's): CollapseProject folds the literal tag
    // into the aggregate list — must still rewrite scan-free
    val tagged = spark.read.format("graft-delta").load(t).groupBy().count()
      .select(lit("cur").as("state"), col("count").as("n_rows"))
    assert(scanFree(tagged), s"tagged count still scans:\n${tagged.queryExecution}")
    assert(tagged.as[(String, Long)].head() === (("cur", 2L)))
    // time travel: the pinned snapshot's own count, still scan-free
    val v1 = spark.read.format("graft-delta")
      .option("versionAsOf", 1).load(t).groupBy().count()
    assert(scanFree(v1))
    assert(v1.as[Long].head() === 4L)
  }

  test("metadata-only count bails where metadata cannot answer: " +
      "filters, COUNT(col), DISTINCT, grouping all still scan — correctly") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    DeltaTable.write(
      Seq((5, null.asInstanceOf[String], 60000L, "2024-01-19"))
        .toDF("id", "name", "salary", "date"), t, "append")
    val df = spark.read.format("graft-delta").load(t)
    val filtered = df.filter($"salary" > 66000L).groupBy().count()
    assert(!scanFree(filtered), "a filtered count must not shortcut")
    assert(filtered.as[Long].head() === 2L) // Alice 75k, Carol 80k
    val countCol = df.agg(count($"name"))
    assert(!scanFree(countCol), "COUNT(col) skips nulls; must scan")
    assert(countCol.as[Long].head() === 3L)
    val distinct = df.agg(countDistinct($"salary"))
    assert(!scanFree(distinct))
    assert(distinct.as[Long].head() === 4L)
    val grouped = df.groupBy($"date").count()
    assert(!scanFree(grouped))
    assert(grouped.count() === 4L)
    // a stats-less add (foreign writer shape) forfeits the shortcut
    // but never the answer
    val t2 = freshTable()
    DeltaTable.write(employees3, t2, "overwrite")
    val snap = DeltaLog.snapshot(t2)
    val stripped = snap.files.map(f =>
      DeltaLog.addAction(f.path, f.size, Map.empty, f.partitionValues))
    DeltaLog.commit(t2, snap.version,
      snap.files.map(f => DeltaLog.removeAction(f.path)) ++ stripped)
    val bare = spark.read.format("graft-delta").load(t2).groupBy().count()
    assert(!scanFree(bare), "stats-less files must fall back to scanning")
    assert(bare.as[Long].head() === 3L)
  }

  test("delta wire format: the validator passes a CONVERTED table and " +
      "a COPY INTO history (per-file ledger domains incl. checkpoint)") {
    // CONVERT: a pre-existing hive-partitioned parquet dir adopted
    // in place — the v0 commit must be protocol-complete and every
    // adopted add must reconcile against the on-disk layout
    val t = freshTable()
    employees3.withColumn("seg", $"id" % 2)
      .write.partitionBy("seg").parquet(t)
    DeltaTable.convertToDelta(spark, t)
    spark.sql(s"DELETE FROM delta.`$t` WHERE id = 1").collect()
    runValidator(t)
    // COPY INTO: ledger domains committed atomically with data, then
    // carried across a checkpoint+vacuum — the validator's domain and
    // checkpoint invariants must hold over the whole history
    val t2 = freshTable()
    val src = tempDir("graft-validator-copy").toString
    DeltaTable.write(employees3.limit(0), t2, "overwrite")
    employees3.coalesce(1).write.parquet(s"$src/b1")
    DeltaTable.copyInto(spark, t2, src)
    employees3.filter($"id" === 1).coalesce(1)
      .write.parquet(s"$src/b2")
    DeltaTable.copyInto(spark, t2, src)
    DeltaTable.vacuum(t2, 1) // checkpoint horizon; domains must survive
    runValidator(t2)
    assert(DeltaTable.copyInto(spark, t2, src)._2 === 0)
  }

  test("transact: an IllegalStateException raised by an op body " +
      "surfaces on the first attempt with its own message and commits " +
      "nothing") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                     // v0
    var calls = 0
    val e = intercept[IllegalStateException] {
      DeltaTable.transact(t, "probe") { _ =>
        calls += 1
        throw new IllegalStateException("probe refused")
      }
    }
    assert(e.getMessage === "probe refused")
    assert(calls === 1, "a body refusal is not a lost race: no retry")
    assert(DeltaLog.versions(t) === Seq(0L))
    // a real op: a log with no metaData has no schema to annotate
    val t2 = freshTable()
    DeltaLog.commit(t2, -1L, Seq(DeltaLog.commitInfoAction("CREATE"),
      DeltaLog.protocolAction()))
    val e2 = intercept[IllegalStateException](DeltaTable.enableColumnMapping(t2))
    assert(e2.getMessage.contains("no committed schema"), e2.getMessage)
    assert(!e2.getMessage.contains("lost the commit race"))
    assert(DeltaLog.versions(t2) === Seq(0L))
  }

  test("transact: every lost race, the last included, deletes that " +
      "attempt's staged files; the give-up names the op, table and 16") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")                     // v0
    import scala.jdk.CollectionConverters._
    val staged = scala.collection.mutable.ArrayBuffer[String]()
    val e = intercept[IllegalStateException] {
      DeltaTable.transact(t, "probe") { _ =>
        // this attempt's staged bytes, then a racer claims its version
        val name = s"part-probe-${staged.length}.parquet"
        val scratch = tempDir("graft-probe").resolve("d")
        employee1.coalesce(1).write.parquet(scratch.toString)
        val part = Files.list(scratch)
        try Files.move(part.iterator.asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get,
          java.nio.file.Paths.get(t).resolve(name))
        finally part.close()
        staged += name
        DeltaTable.write(employee1, t, "append")
        DeltaTable.Commit(Seq(DeltaLog.commitInfoAction("PROBE"),
          DeltaLog.addAction(name, Files.size(
            java.nio.file.Paths.get(t).resolve(name)))), Seq(name))
      }
    }
    assert(e.getMessage === s"probe($t): lost the commit race 16 times")
    assert(staged.length === 16)
    assert(staged.forall(n =>
      !Files.exists(java.nio.file.Paths.get(t).resolve(n))),
      "a lost attempt left its staged file behind")
    // the table is the racers' state: v0 + 16 appends, no probe commit
    assert(DeltaLog.versions(t) === (0L to 16L))
    assert(DeltaTable.read(spark, t).count() === 3L + 16L)
    assert(DeltaLog.snapshot(t).files.forall(!_.path.startsWith("part-probe")))
    runValidator(t)
  }

  test("merge(txn): two concurrent merges carrying the same txn land " +
      "exactly one MERGE commit") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    DeltaTable.write((0L until 10L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), t, "overwrite")                                  // v0
    for (round <- 1L to 4L) {
      // additive source: a second landing would double the inserts
      val src = (round * 100 until round * 100 + 5)
        .map(i => (i, i)).toDF("id", "v")
      val go = new java.util.concurrent.CountDownLatch(1)
      val twins = (0 until 2).map(_ => Future {
        go.await()
        DeltaTable.merge(spark, t, src, Seq("id"), txn = Some(("twin", round)))
      })
      go.countDown()
      Await.result(Future.sequence(twins), 120.seconds)
      val carrying = DeltaLog.versions(t).filter { v =>
        Files.readAllLines(DeltaLog.logDir(t).resolve(f"$v%020d.json"))
          .asScala.exists(l => l.contains("\"txn\"") &&
            l.contains("\"appId\":\"twin\"") &&
            l.contains(s"\"version\":$round}"))
      }
      assert(carrying.length === 1,
        s"round $round: txn landed in versions $carrying")
    }
    assert(DeltaTable.read(spark, t).count() === 10L + 4 * 5)
    runValidator(t)
  }

  /** Spark jobs `body` starts, tagged through a local property; a
    * sentinel job flushes the asynchronous listener bus first. */
  private def sparkJobs(body: => Unit): Int = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val (mine, sentinel) = (s"body-${System.nanoTime()}", "sentinel")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(tag))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, mine)
      try body finally sc.setLocalProperty(tag, null)
      sc.setLocalProperty(tag, sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains(sentinel), "listener bus never delivered the sentinel")
      started.asScala.count(_ == mine)
    } finally sc.removeSparkListener(listener)
  }

  /** A 400-row table of 4 files: k, g = k % 7, v = k / 2. */
  private def kgvTable(): String = {
    val t = freshTable()
    DeltaTable.write(spark.range(0, 400, 1, 4).select($"id".as("k"),
      ($"id" % 7).cast("int").as("g"), ($"id" * 0.5).as("v")), t, "overwrite")
    t
  }

  test("a DML or read shape compiles once: new constants add no " +
      "generated class, and scans keep their pushed filters") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val t = kgvTable()
    def round(m: Long, r: Long, dv: Double, lo: Long, hi: Long): Unit = {
      DeltaTable.update(spark, t, pmod($"k", lit(m)) === lit(r),
        Map("v" -> ($"v" + lit(dv))))
      DeltaTable.delete(spark, t, pmod($"k", lit(m + 2)) === lit(r))
      val read = DeltaTable.read(spark, t, None,
        Seq(GreaterThanOrEqual("k", lo), LessThan("k", hi)))
        .where($"k" >= lo && $"k" < hi)
      val got = read.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val files = DeltaLog.snapshot(t).files.map(f => s"$t/${f.path}")
      val plain = spark.read.parquet(files: _*)
        .where($"k" >= lo && $"k" < hi).select("k", "g", "v")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.nonEmpty && got.sameElements(plain))
      val plan = nodes(read.queryExecution.executedPlan)
      val pushed = plan.collect { case s: FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "") }.mkString
      assert(pushed.contains(s"GreaterThanOrEqual(k,$lo)") &&
        pushed.contains(s"LessThan(k,$hi)"), pushed)
      assert(plan.exists {
        case f: FilterExec => f.condition.exists(_.isInstanceOf[
          graft.plans.ParamLiteral])
        case _ => false
      }, s"the filter kept inlined constants:\n${plan.head}")
    }
    round(5L, 1L, 0.25, 100L, 300L)
    val compiled = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    round(7L, 3L, 1.5, 40L, 260L)
    assert(CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount ===
      compiled, "new constants compiled new classes")
  }

  test("merge's duplicate-key check decides as GROUP BY does: null, NaN, " +
      "+-0.0, binary, collated, two-column and file-backed keys") {
    import org.apache.spark.sql.DataFrame
    def oracle(df: DataFrame, keys: Seq[String]): Boolean =
      df.groupBy(keys.map(col): _*).count().filter($"count" > 1)
        .limit(1).count() > 0
    def verdict(dup: Boolean, df: DataFrame, keys: String*): Unit = {
      assert(oracle(df, keys) === dup, s"oracle on ${df.collect().toSeq}")
      assert(DeltaTable.duplicateKeys(df, keys) === dup,
        s"driver check on ${df.collect().toSeq}")
    }
    verdict(true, Seq[java.lang.Long](null, 1L, null).toDF("k"), "k")
    verdict(false, Seq[java.lang.Long](null, 1L).toDF("k"), "k")
    verdict(true, Seq(Double.NaN, 1.0, Double.NaN).toDF("k"), "k")
    verdict(false, Seq(Double.NaN, 1.0).toDF("k"), "k")
    verdict(true, Seq(0.0, -0.0).toDF("k"), "k")
    verdict(true, Seq(0.0f, -0.0f).toDF("k"), "k")
    verdict(true, Seq(Float.NaN, Float.NaN).toDF("k"), "k")
    verdict(true, Seq(Array[Byte](1, 2), Array[Byte](1, 2)).toDF("k"), "k")
    verdict(false, Seq(Array[Byte](1, 2), Array[Byte](1, 3)).toDF("k"), "k")
    verdict(true, Seq("a", "A").toDF("s")
      .select(collate($"s", "UTF8_LCASE").as("k")), "k")
    verdict(false, Seq("a", "A").toDF("k"), "k")
    val pairs = Seq[(java.lang.Integer, String)]((1, "a"), (1, "b"),
      (null, "a"), (2, null)).toDF("i", "s")
    verdict(false, pairs, "i", "s")
    verdict(true, pairs.union(Seq[(java.lang.Integer, String)](
      (null, "a")).toDF("i", "s")), "i", "s")
    verdict(true, pairs.union(Seq[(java.lang.Integer, String)](
      (2, null)).toDF("i", "s")), "i", "s")
    // a file-backed source, and the verdict through merge itself
    val dir = tempDir("graft-merge-dup-src")
    Seq((1L, 0.0), (2L, -0.0)).toDF("k", "v").write.parquet(s"$dir/a")
    Seq((1L, 1.0), (2L, 2.0), (1L, 3.0)).toDF("k", "v")
      .write.parquet(s"$dir/b")
    val clean = spark.read.parquet(s"$dir/a")
    val dup = spark.read.parquet(s"$dir/b")
    verdict(false, clean, "k")
    verdict(true, clean, "v")
    verdict(true, dup, "k")
    val t = freshTable()
    DeltaTable.write(Seq((1L, 9.0)).toDF("k", "v"), t, "overwrite")
    val ex = intercept[IllegalArgumentException] {
      DeltaTable.merge(spark, t, dup, Seq("k"))
    }
    assert(ex.getMessage.contains("duplicate keys"))
    DeltaTable.merge(spark, t, clean, Seq("k"))
    assert(DeltaTable.read(spark, t).orderBy("k").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 0.0), (2L, -0.0)))
  }

  test("a merge runs at most 4 Spark jobs, an update or a delete at most 2") {
    val t = kgvTable()
    val src = Seq((3L, 1, 9.0), (401L, 2, 4.0)).toDF("k", "g", "v")
    val merge = sparkJobs(DeltaTable.merge(spark, t, src, Seq("k")))
    val update = sparkJobs(DeltaTable.update(spark, t, $"k" === 7L,
      Map("v" -> ($"v" + lit(1.0)))))
    val delete = sparkJobs(DeltaTable.delete(spark, t, $"k" === 8L))
    assert(merge <= 4 && update <= 2 && delete <= 2,
      s"jobs: merge $merge, update $update, delete $delete")
    assert(DeltaTable.read(spark, t).count() === 400L)
    runValidator(t)
  }

  test("setTableProperties refuses every property an enable op owns") {
    val t = freshTable()
    DeltaTable.write(employees3, t, "overwrite")
    Seq("delta.enableDeletionVectors" -> "enableDeletionVectors",
      "delta.enableRowTracking" -> "enableRowTracking",
      "delta.enableInCommitTimestamps" -> "enableInCommitTimestamps",
      "delta.checkpointPolicy" -> "enableV2Checkpoints",
      "delta.enableTypeWidening" -> "alterColumnType").foreach {
      case (key, op) =>
        val ex = intercept[IllegalArgumentException] {
          DeltaTable.setTableProperty(t, key, if (key.endsWith("Policy"))
            "v2" else "true")
        }
        assert(ex.getMessage.contains(op), ex.getMessage)
    }
    assert(DeltaLog.versions(t) === Seq(0L))
    runValidator(t)
  }

  test("COPY INTO commits its ledger under the domainMetadata writer feature") {
    val t = freshTable()
    val src = tempDir("graft-copy-domain-src").toString
    DeltaTable.write(Seq.empty[(Long, Long)].toDF("id", "v"), t, "overwrite")
    Seq((1L, 1L), (2L, 2L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$src/b0")
    assert(DeltaTable.copyInto(spark, t, src)._2 === 1)
    val snap = DeltaLog.snapshot(t)
    assert(snap.domainMetadata.keys.exists(_.startsWith("graft.copyInto.")))
    assert(snap.minWriterVersion === 7 &&
      snap.writerFeatures.contains("domainMetadata"))
    runValidator(t)
  }

  test("row tracking on a partitioned shallow clone: ids equal the " +
      "source's; delete, update and merge rewrite the cloned files") {
    val src = freshTable()
    DeltaTable.write(Seq((1, 0, 10L), (2, 0, 20L), (3, 1, 30L), (4, 1, 40L))
      .toDF("id", "p", "v").coalesce(1), src, "overwrite",
      partitionBy = Seq("p"))
    DeltaTable.enableRowTracking(src)
    val tgt = freshTable()
    DeltaTable.shallowClone(src, tgt)
    val srcIds = idsOf(src)
    assert(srcIds.size === 4)
    assert(idsOf(tgt) === srcIds)
    // partition values come from the log for the cloned (absolute) adds
    assert(DeltaTable.readWithRowIds(spark, tgt).select("id", "p")
      .as[(Int, Int)].collect().sorted === Array((1, 0), (2, 0), (3, 1), (4, 1)))
    DeltaTable.delete(spark, tgt, $"id" === 1)
    assert(idsOf(tgt) === srcIds - 1, "a delete must not renumber survivors")
    DeltaTable.update(spark, tgt, $"id" === 2,
      Map("v" -> (lit(21L): org.apache.spark.sql.Column)))
    val afterUpdate = idsOf(tgt)
    assert(afterUpdate - 2 === srcIds - 1 - 2)
    assert(!srcIds.values.toSet.contains(afterUpdate(2)),
      "the updated row draws a fresh id")
    DeltaTable.merge(spark, tgt,
      Seq((3, 1, 33L), (5, 1, 50L)).toDF("id", "p", "v"), Seq("id"))
    val afterMerge = idsOf(tgt)
    assert(afterMerge.keySet === Set(2, 3, 4, 5))
    assert(afterMerge(4) === srcIds(4), "an untouched row keeps its id")
    assert(afterMerge(2) === afterUpdate(2))
    assert(afterMerge.values.toSet.size === 4)
    assert(!srcIds.values.toSet.contains(afterMerge(3)) &&
      !srcIds.values.toSet.contains(afterMerge(5)))
    assert(DeltaTable.read(spark, tgt).select("id", "p", "v")
      .as[(Int, Int, Long)].collect().sorted ===
      Array((2, 0, 21L), (3, 1, 33L), (4, 1, 40L), (5, 1, 50L)))
    // the source is untouched
    assert(idsOf(src) === srcIds)
    assert(DeltaTable.read(spark, src).select("id", "v").as[(Int, Long)]
      .collect().sorted === Array((1, 10L), (2, 20L), (3, 30L), (4, 40L)))
    runValidator(tgt)
  }

  test("read returns one column order whether files survive skipping, " +
      "all are skipped, or the version has none") {
    import org.apache.spark.sql.sources.GreaterThan
    val t = freshTable()
    // the committed schema lists the partition column first
    DeltaTable.write(Seq((0, 1L, 10L), (1, 2L, 20L)).toDF("p", "k", "v"),
      t, "overwrite", partitionBy = Seq("p"))                    // v0
    DeltaTable.delete(spark, t, lit(true))                       // v1: no files
    assert(DeltaLog.snapshot(t).files.isEmpty)
    val survived = DeltaTable.read(spark, t, Some(0L))
    val skipped = DeltaTable.read(spark, t, Some(0L),
      Seq(GreaterThan("k", 100L)))
    val none = DeltaTable.read(spark, t)
    assert(survived.collect().length === 2)
    assert(skipped.collect().isEmpty && none.collect().isEmpty)
    assert(skipped.columns.toSeq === survived.columns.toSeq)
    assert(none.columns.toSeq === survived.columns.toSeq)
  }

  test("reads and DML over a table of more than 32 files run no " +
      "file-listing job") {
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    // paths, a path-listed parquet read starts one more job to list them
    def table(nFiles: Int): String = {
      val t = freshTable()
      DeltaTable.write(spark.range(0, 4L * nFiles, 1, nFiles).toDF("k")
        .withColumn("v", $"k" * 10), t, "overwrite")
      assert(DeltaLog.snapshot(t).files.length === nFiles)
      t
    }
    val (small, large) = (table(2), table(40))
    def readJobs(t: String): Int =
      sparkJobs(DeltaTable.read(spark, t).collect())
    def deleteJobs(t: String): Int =
      sparkJobs(DeltaTable.delete(spark, t, $"k" === 1L))
    assert(readJobs(large) === readJobs(small))
    assert(deleteJobs(large) === deleteJobs(small))
    assert(DeltaTable.read(spark, large).count() === 4L * 40 - 1)
  }
}

/** The rendezvous of DeltaSpec's concurrent-staging test: a JVM-global
  * latch both writes' tasks count down (local mode runs them in this
  * JVM). */
object ConcurrentStaging {
  @volatile var latch = new java.util.concurrent.CountDownLatch(0)
}
