package graft.streaming

import java.io.{BufferedOutputStream, EOFException, InputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSDataOutputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import scala.jdk.CollectionConverters._

/** Checkpoint file manager for LOCAL checkpoint directories backed by
  * plain `java.nio` instead of Hadoop's local filesystem shims (r19,
  * guide §7.3 shape — the streaming twin of `destinations.LocalIo`).
  *
  * Why: without native libhadoop, every `FileContext`/`FileSystem` create
  * or mkdir on `file://` FORKS a `chmod` to apply permissions, and each
  * WAL entry (offset log, commit log, state-store delta) pays
  * FileContext resolution + that fork on every micro-batch. Profiled on
  * the stream-stream join gates: create/rename/mkdirs threads carried
  * several hundred ms per gate run. NIO performs the same create, the
  * same write, and the same atomic rename as syscalls.
  *
  * Semantics match Spark's own managers:
  *   - `createAtomic` writes a same-directory temp file and atomically
  *     renames into place on close; cancel deletes the temp (the exact
  *     RenameBasedFSDataOutputStream contract, re-implemented here
  *     because Spark's helper trait is sealed);
  *   - a close with `overwriteIfPossible = false` publishes with a hard
  *     link, which fails atomically with `FileAlreadyExistsException` when
  *     the destination exists — the signal HDFSMetadataLog uses to detect
  *     a lost commit race, as strict as FileContext's `Rename.NONE`;
  *   - `delete` ignores missing paths, also entries that vanish while it
  *     walks; `open` and `list` of a missing path throw
  *     `java.io.FileNotFoundException` like the Hadoop managers — the
  *     state store's snapshot probe catches exactly that type and falls
  *     back to replaying deltas.
  *
  * NON-local checkpoint locations (object stores, HDFS) delegate every
  * call to Spark's default [[FileContextBasedCheckpointFileManager]]:
  * this class is safe to install globally, and durable remote
  * checkpoints keep Spark's exact code path.
  */
final class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val scheme = Option(path.toUri.getScheme).getOrElse("file")
  private val delegate: Option[CheckpointFileManager] =
    if (scheme == "file") None
    else Some(new FileContextBasedCheckpointFileManager(path, conf))

  private def nio(p: Path): NioPath = {
    val u = p.toUri
    require(u.getScheme == null || u.getScheme == "file",
      s"NioCheckpointFileManager asked for non-local path $p under local root $path")
    Paths.get(u.getPath)
  }

  private def status(np: NioPath, p: Path): FileStatus = {
    val attrs = Files.readAttributes(np,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size(), attrs.isDirectory, 1, 33554432L,
      attrs.lastModifiedTime().toMillis, p)
  }

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate match {
      case Some(d) => d.createAtomic(p, overwriteIfPossible)
      case None =>
        val dst = nio(p)
        val parent = dst.getParent
        if (parent != null) Files.createDirectories(parent)
        // same-directory temp named like Spark's generateTempPath, so
        // renames stay within one directory (atomic on every local fs)
        val tmp = parent.resolve(
          s".${dst.getFileName}.${java.util.UUID.randomUUID()}.tmp")
        val out = Files.newOutputStream(tmp, StandardOpenOption.CREATE,
          StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
        new NioCheckpointFileManager.RenameOnCloseStream(
          tmp, dst, p, overwriteIfPossible,
          new BufferedOutputStream(out, 32 * 1024))
    }

  override def open(p: Path): FSDataInputStream =
    delegate match {
      case Some(d) => d.open(p)
      case None =>
        val ch =
          try FileChannel.open(nio(p), StandardOpenOption.READ)
          catch { case _: NoSuchFileException => throw new java.io.FileNotFoundException(p.toString) }
        new FSDataInputStream(new NioCheckpointFileManager.SeekableChannelStream(ch))
    }

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate match {
      case Some(d) => d.list(p, filter)
      case None =>
        val np = nio(p)
        if (!Files.exists(np))
          throw new java.io.FileNotFoundException(s"$p does not exist")
        if (!Files.isDirectory(np)) {
          val st = status(np, p)
          if (filter.accept(st.getPath)) Array(st) else Array.empty
        } else {
          val stream = Files.list(np)
          try stream.iterator().asScala.flatMap { c =>
            val cp = new Path(p, c.getFileName.toString)
            if (filter.accept(cp)) Some(status(c, cp)) else None
          }.toArray
          finally stream.close()
        }
    }

  override def mkdirs(p: Path): Unit =
    delegate match {
      case Some(d) => d.mkdirs(p)
      case None => Files.createDirectories(nio(p)): Unit
    }

  override def exists(p: Path): Boolean =
    delegate match {
      case Some(d) => d.exists(p)
      case None => Files.exists(nio(p))
    }

  override def delete(p: Path): Unit =
    delegate match {
      case Some(d) => d.delete(p)
      case None => graft.destinations.LocalIo.deleteTree(nio(p))
    }

  override def isLocal: Boolean = delegate.forall(_.isLocal)

  override def createCheckpointDirectory(): Path =
    delegate match {
      case Some(d) => d.createCheckpointDirectory()
      case None =>
        Files.createDirectories(nio(path))
        path
    }
}

object NioCheckpointFileManager {
  /** Temp-file stream that atomically publishes on close and deletes the
    * temp on cancel — RenameBasedFSDataOutputStream's contract (idempotent
    * terminal states). POSIX rename overwrites, so the no-overwrite publish
    * is a hard link instead: link creation fails atomically when the
    * destination exists, and only one of two racing writers can win.
    */
  private final class RenameOnCloseStream(
      tmp: NioPath, dst: NioPath, hadoopDst: Path, overwriteIfPossible: Boolean,
      underlying: java.io.OutputStream)
      extends CancellableFSDataOutputStream(underlying) {
    private var terminated = false
    override def close(): Unit = synchronized {
      if (terminated) return
      terminated = true
      super.close()
      if (overwriteIfPossible) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE): Unit
      else
        try Files.createLink(dst, tmp): Unit
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(
              s"rename destination $hadoopDst already exists")
        } finally Files.deleteIfExists(tmp): Unit
    }
    override def cancel(): Unit = synchronized {
      if (terminated) return
      terminated = true
      try super.close()
      catch { case scala.util.control.NonFatal(_) => () }
      finally { Files.deleteIfExists(tmp): Unit }
    }
  }

  /** NIO channel with the Seekable/PositionedReadable face
    * FSDataInputStream requires; positioned reads go through pread so
    * they never disturb the channel position (HDFSMetadataLog mixes
    * sequential and positioned access).
    */
  private final class SeekableChannelStream(ch: FileChannel)
      extends InputStream with Seekable with PositionedReadable {
    override def read(): Int = {
      val b = ByteBuffer.allocate(1)
      val n = ch.read(b)
      if (n <= 0) -1 else b.get(0) & 0xff
    }
    override def read(arr: Array[Byte], off: Int, len: Int): Int =
      ch.read(ByteBuffer.wrap(arr, off, len))
    override def available(): Int = {
      val rem = ch.size() - ch.position()
      if (rem > Int.MaxValue) Int.MaxValue else math.max(0, rem.toInt)
    }
    override def seek(pos: Long): Unit = { ch.position(pos): Unit }
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Int =
      ch.read(ByteBuffer.wrap(buffer, offset, length), position)
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Unit = {
      var done = 0
      while (done < length) {
        val n = read(position + done, buffer, offset + done, length - done)
        if (n < 0) throw new EOFException(
          s"reached end of stream after $done of $length bytes")
        done += n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
    override def close(): Unit = ch.close()
  }
}
