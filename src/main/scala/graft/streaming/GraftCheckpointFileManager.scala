package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Paths, Path => NioPath}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import graft.sources.DeltaTable

/** The checkpoint file manager of graft's streams: a `file:` checkpoint
  * (offsets, commits, metadata, source and sink logs, state files) is
  * served with `java.nio`; any other scheme goes to Spark's default
  * manager.
  *
  * Spark's default manager writes a local checkpoint file through
  * Hadoop's `FileContext` over `RawLocalFileSystem`, which without the
  * Hadoop native library sets and reads permissions and resolves links
  * by forking `chmod` and `readlink`: six processes per file, twelve per
  * micro-batch for the offsets and commit files. A log store needs only
  * two primitives (the Delta Lake paper's `LogStore` contract), and
  * `java.nio` has both:
  *   - put-if-absent: the bytes go to a hidden temp file, which
  *     `Files.createLink` links into place; the link fails if the
  *     target exists — the same commit point as
  *     [[graft.sources.DeltaLog.commit]];
  *   - overwrite: the temp file is moved over the target with
  *     ATOMIC_MOVE.
  *
  * On disk a checkpoint stays one either manager reads: the same file
  * names and bytes, and hidden temp names (`.<name>.<uuid>.tmp`) a
  * crash may leave and every log listing skips. This manager writes no
  * `.crc` checksum files; it skips the ones Spark's manager wrote when
  * it lists, deletes them with their file, and deletes a file's stale
  * one before overwriting it, so Spark's manager never checks new bytes
  * against an old checksum. Spark takes the class through
  * [[GraftCheckpointFileManager.ConfKey]]. */
final class GraftCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  import GraftCheckpointFileManager._

  private val local = Option(path.toUri.getScheme)
    .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Spark's own manager for `path`: the one it builds with no manager
    * class named. */
  private lazy val fallback: CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ConfKey)
    CheckpointFileManager.create(path, c)
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local) fallback.createAtomic(p, overwriteIfPossible)
    else {
      val dst = nio(p)
      new AtomicOutput(
        dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp"),
        dst, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream =
    if (!local) fallback.open(p)
    else new FSDataInputStream(new BufferedFSInputStream(
      new ChannelInput(found(p)(FileChannel.open(nio(p)))), 64 << 10))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (!local) fallback.list(p, filter)
    else {
      val s = found(p)(Files.list(nio(p)))
      try s.iterator.asScala
        .filterNot(f => isChecksum(f.getFileName.toString))
        .flatMap(f => status(new Path(p, f.getFileName.toString), f))
        .filter(st => filter.accept(st.getPath)).toArray
      finally s.close()
    }

  override def mkdirs(p: Path): Unit =
    if (!local) fallback.mkdirs(p) else Files.createDirectories(nio(p))

  override def exists(p: Path): Boolean =
    if (!local) fallback.exists(p) else Files.exists(nio(p))

  override def delete(p: Path): Unit =
    if (!local) fallback.delete(p)
    else {
      DeltaTable.deleteRecursively(nio(p))
      Files.deleteIfExists(checksumOf(nio(p)))
    }

  override def isLocal: Boolean = local || fallback.isLocal

  override def createCheckpointDirectory(): Path =
    if (!local) fallback.createCheckpointDirectory()
    else new Path("file", null,
      Files.createDirectories(nio(path).toAbsolutePath).toString)

  override def close(): Unit = if (!local) fallback.close()
}

object GraftCheckpointFileManager {

  /** The session conf Spark reads a streaming checkpoint manager class
    * from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  /** Hadoop's checksum file rule (`ChecksumFs.isChecksumFile`). */
  private def isChecksum(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  private def checksumOf(f: NioPath): NioPath =
    f.resolveSibling(s".${f.getFileName}.crc")

  /** `op` on `p`, with a missing file reported as Hadoop reports it. */
  private def found[T](p: Path)(op: => T): T =
    try op
    catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }

  /** `f`'s status under the Hadoop path `hp`; None if it vanished after
    * the listing (a concurrent rename or delete). */
  private def status(hp: Path, f: NioPath): Option[FileStatus] =
    try {
      val a = Files.readAttributes(f, classOf[BasicFileAttributes])
      Some(new FileStatus(a.size, a.isDirectory, 1, 0L,
        a.lastModifiedTime.toMillis, hp))
    } catch { case _: NoSuchFileException => None }

  /** Bytes go to the hidden `tmp`; [[close]] publishes them at `dst` —
    * put-if-absent through a hard link, which throws Hadoop's
    * `FileAlreadyExistsException` (what Spark's metadata logs catch) if
    * `dst` exists, or with `overwrite` an atomic rename over it — and
    * removes `tmp`. [[cancel]] removes `tmp` and publishes nothing. */
  private final class AtomicOutput(tmp: NioPath, dst: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp, CREATE_NEW, WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(checksumOf(dst))
            Files.move(tmp, dst, ATOMIC_MOVE, REPLACE_EXISTING)
          } else
            try Files.createLink(dst, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$dst already exists")
            }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close() finally Files.deleteIfExists(tmp)
      }
    }
  }

  /** A seekable stream over an open file channel. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) <= 0) -1 else b(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      ch.read(ByteBuffer.wrap(b, off, len))
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def close(): Unit = ch.close()
  }
}
