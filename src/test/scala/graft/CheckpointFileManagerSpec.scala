package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import graft.streaming.{GraftCheckpointFileManager, StreamingOps}
import graft.streaming.StreamingOps.Event

/** [[GraftCheckpointFileManager]]: the put-if-absent and overwrite
  * primitives, the fallback for other schemes, and checkpoints that
  * move between it and Spark's default manager in both directions
  * without a replayed micro-batch. */
class CheckpointFileManagerSpec extends SparkSpec {
  import spark.implicits._

  private def manager(root: java.nio.file.Path) =
    new GraftCheckpointFileManager(new Path(root.toUri), new Configuration())

  private def put(m: CheckpointFileManager, f: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(f, overwrite)
    try { out.write(text.getBytes(UTF_8)); out.close() }
    catch { case t: Throwable => out.cancel(); throw t }
  }

  private def get(m: CheckpointFileManager, f: Path): String = {
    val in = m.open(f)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every entry of `dir`, hidden ones included. */
  private def entries(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("put-if-absent on an existing file throws and keeps its bytes; " +
      "overwrite replaces them and drops a stale checksum") {
    val dir = tempDir("graft-ckpt-atomic")
    val m = manager(dir)
    val f = new Path(dir.toUri.toString, "7")
    put(m, f, "first", overwrite = false)
    val again = m.createAtomic(f, overwriteIfPossible = false)
    again.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](again.close())
    again.cancel()
    assert(get(m, f) === "first")
    assert(entries(dir) === Set("7"), "a refused write left its temp file")
    // a checksum Spark's manager wrote beside the file: listings skip
    // it, and an overwrite removes it with the bytes it covered
    Files.write(dir.resolve(".7.crc"), Array[Byte](1, 2, 3))
    assert(m.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq === Seq("7"))
    put(m, f, "third", overwrite = true)
    assert(get(m, f) === "third")
    assert(entries(dir) === Set("7"))
    m.delete(f)
    assert(!m.exists(f) && entries(dir).isEmpty)
    intercept[java.io.FileNotFoundException](m.open(f))
  }

  test("cancel publishes nothing and leaves no temp file") {
    val dir = tempDir("graft-ckpt-cancel")
    val m = manager(dir)
    val f = new Path(dir.toUri.toString, "3")
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("half a batch".getBytes(UTF_8))
    assert(entries(dir).exists(_.startsWith(".3.")), "writes go to a hidden temp")
    out.cancel()
    assert(!m.exists(f))
    assert(entries(dir).isEmpty)
  }

  test("a non-file: checkpoint falls back to Spark's default manager") {
    val dir = tempDir("graft-ckpt-fallback")
    val conf = new Configuration()
    conf.set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
    conf.setBoolean("fs.graftcount.impl.disable.cache", true)
    val root = new Path("graftcount", null, dir.toString)
    val m = new GraftCheckpointFileManager(root, conf)
    m.mkdirs(root)
    val renames = CountingLocalFs.renames.get
    put(m, new Path(root, "0"), "offsets", overwrite = false)
    assert(CountingLocalFs.renames.get === renames + 1,
      "the write did not go through the scheme's own file system")
    assert(get(m, new Path(root, "0")) === "offsets")
    assert(m.list(root).map(_.getPath.getName).toSeq === Seq("0"))
    assert(Files.readString(dir.resolve("0")) === "offsets")
  }

  /** Run `body` with the session naming manager `cls` (None: none, so
    * the streams install graft's), then restore the session's setting. */
  private def withManager[T](cls: Option[String])(body: => T): T = {
    val key = GraftCheckpointFileManager.ConfKey
    val prev = spark.conf.getOption(key)
    cls.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A file-source → graft-delta ingest (offsets, commits, metadata and
    * the file source's log in the checkpoint): two batches under
    * `first`, then one more batch after a restart under `second`. The
    * restart must run batch 2 only, and the table must hold each event
    * once. Returns the checkpoint's entries after the first run. */
  private def resumeAcross(prefix: String, first: Option[String],
      second: Option[String]): Set[String] = {
    val base = tempDir(prefix)
    val (src, table, ckpt) = (s"$base/src", s"$base/tbl", s"$base/ckpt")
    def drop(id: Long): Unit =
      Seq(Event(id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1,
        "click", 1.0 + id)).toDF().write.mode("append").parquet(src)
    drop(0)
    withManager(first) {
      val q = StreamingOps.fileDeltaIngestPipeline(spark, src, table, ckpt)
      try {
        q.processAllAvailable()
        drop(1)
        q.processAllAvailable()
      } finally q.stop()
    }
    val written = entries(Paths.get(ckpt, "offsets"))
    drop(2)
    withManager(second) {
      val q = StreamingOps.fileDeltaIngestPipeline(spark, src, table, ckpt)
      try {
        q.processAllAvailable()
        assert(q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
          .toSeq === Seq(2L), "the restart replayed a batch")
      } finally q.stop()
    }
    assert(entries(Paths.get(ckpt, "commits")).filterNot(_.startsWith(".")) ===
      Set("0", "1", "2"))
    assert(spark.read.format("graft-delta").load(table)
      .select("event_id").as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L))
    written
  }

  test("a checkpoint Spark's default manager wrote resumes under graft's " +
      "with no replay") {
    val written = resumeAcross("graft-ckpt-from-spark",
      Some(classOf[FileContextBasedCheckpointFileManager].getName), None)
    assert(written.contains(".0.crc"), "the default manager wrote no checksums")
  }

  test("a checkpoint graft's manager wrote resumes under Spark's default " +
      "with no replay") {
    val written = resumeAcross("graft-ckpt-to-spark", None,
      Some(classOf[FileContextBasedCheckpointFileManager].getName))
    assert(written === Set("0", "1"), "graft's manager left more than the log")
  }
}

/** A local file system under its own `graftcount:` scheme that counts its
  * renames: a non-`file:` store for the fallback case. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object CountingLocalFs {
  val renames = new AtomicInteger()
}
