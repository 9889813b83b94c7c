package graft.streaming

import java.io.{File, FileNotFoundException}
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint manager for LOCAL file: paths backed by java.nio
  * directly — no Hadoop `LocalFileSystem` in the write path.
  *
  * Why it exists (measured with the JobTrace stack sampler, round 12):
  * this sandbox has no native Hadoop library, so every checkpoint file
  * the default manager creates — offsets, commits, and ONE STATE DELTA
  * PER STORE PER BATCH — goes through `RawLocalFileSystem.setPermission`,
  * which FORKS A SHELL (`chmod`) per file, plus a `.crc` sibling per
  * write through the checksum wrapper. A bounded stream replay paying
  * 15–30 such writes spends more wall-clock forking than aggregating
  * (stream_ohlc: ~0.6 s of its 1.0 s total). java.nio `Files.move`
  * gives the same atomic rename-into-place commit contract without the
  * fork or the checksum sibling.
  *
  * Crash debris contract: a killed writer leaves `.name.<uuid>.tmp`
  * siblings behind. They are invisible to readers (dotted names no
  * metadata/state log parses) and the manager does NO proactive orphan
  * cleanup — run-and-discard replay checkpoints delete the whole dir,
  * and a durable checkpoint's orphans are bounded by in-flight writers
  * at crash time. Recovery over exactly this debris (plus an
  * uncommitted offsets entry) is pinned by StreamsSpec's crash test.
  *
  * Scope honesty: this is the LOCAL-disk manager for run-and-discard
  * replay checkpoints (tmpfs-backed — see `replayCheckpointRoot`) and
  * local lake state. A production deployment checkpointing to HDFS/S3
  * simply does not set `spark.sql.streaming.checkpointFileManagerClass`
  * and gets the stock manager for that filesystem; the constructor
  * rejects non-file schemes loudly rather than mis-handling them.
  */
class LocalNioCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  require(root.toUri.getScheme == null || root.toUri.getScheme == "file",
    s"LocalNioCheckpointFileManager handles file: paths only, got $root " +
      "- unset spark.sql.streaming.checkpointFileManagerClass (or set it " +
      "to org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager, the stock manager) for " +
      "remote checkpoint locations")

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  override def isLocal: Boolean = true

  override def mkdirs(path: Path): Unit =
    Files.createDirectories(nio(path))

  override def exists(path: Path): Boolean = Files.exists(nio(path))

  override def delete(path: Path): Unit =
    graft.Artifacts.deleteRecursively(nio(path))

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(nio(root))
    root
  }

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = nio(path)
    if (dst.getParent != null) Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(
      s".${dst.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    val out = Files.newOutputStream(tmp)
    // rename-into-place on close — the same atomic commit contract the
    // stock manager's RenameBasedFSDataOutputStream provides
    new CancellableFSDataOutputStream(out) {
      private var done = false
      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          out.close()
          if (overwriteIfPossible)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          else {
            // No-overwrite commit must ARBITRATE, not check-then-move:
            // POSIX rename(2) (hence ATOMIC_MOVE) silently replaces an
            // existing destination, so an exists() pre-check leaves a
            // window where a racing writer's committed file is
            // clobbered instead of raising. link(2) is the atomic
            // claim: it fails with EEXIST iff the destination exists,
            // and on success the COMPLETE file appears at dst in one
            // syscall — the loser sees FileAlreadyExistsException, the
            // winner's content is never replaced. (This is the stock
            // manager's exactly-once batch-commit arbitration, without
            // its forked-chmod tax.)
            try {
              Files.createLink(dst, tmp)
              Files.deleteIfExists(tmp)
            } catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                Files.deleteIfExists(tmp)
                throw new FileAlreadyExistsException(
                  s"rename destination $path already exists" +
                    (if (e.getMessage != null) s" (${e.getMessage})" else ""))
              case _: UnsupportedOperationException =>
                // Link-less local filesystem (FAT/exFAT, some FUSE and
                // overlay mounts exposed under file:). Fall back to the
                // exists-check + ATOMIC_MOVE commit the manager shipped
                // with before link(2) arbitration — with its documented
                // RESIDUAL RACE: rename(2) replaces an existing
                // destination, so two writers racing the same batch file
                // in the check-to-move window can clobber instead of
                // raise. Spark's single-driver commit discipline makes
                // that window practically idle; filesystems WITH links
                // keep the fully atomic claim above (round-13 ADVICE).
                if (Files.exists(dst)) {
                  Files.deleteIfExists(tmp)
                  throw new FileAlreadyExistsException(
                    s"rename destination $path already exists")
                }
                Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
            }
          }
        }
      }
      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          out.close()
          Files.deleteIfExists(tmp)
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = {
    val p = nio(path)
    if (!Files.exists(p)) throw new FileNotFoundException(path.toString)
    new FSDataInputStream(new NioSeekableInputStream(p))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    val p = nio(path)
    if (!Files.exists(p))
      throw new FileNotFoundException(path.toString)
    val children =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.toArray(n => new Array[NioPath](n)) finally s.close()
      } else Array(p)
    children.flatMap { c =>
      val hp = new Path("file", null, c.toAbsolutePath.toString)
      if (filter == null || filter.accept(hp)) {
        val f = c.toFile
        Some(new FileStatus(f.length(), f.isDirectory, 1, 33554432L,
          f.lastModified(), hp))
      } else None
    }
  }
}

/** Minimal Seekable + PositionedReadable local input stream — the
  * contract `FSDataInputStream` requires of its wrapped stream. The
  * metadata/state logs read each checkpoint file once, forward-only;
  * positioned reads delegate to a pread on the channel.
  */
private[streaming] class NioSeekableInputStream(p: NioPath)
    extends java.io.InputStream with Seekable with PositionedReadable {
  private val ch = java.nio.channels.FileChannel.open(p,
    java.nio.file.StandardOpenOption.READ)
  private val one = java.nio.ByteBuffer.allocate(1)

  override def read(): Int = {
    one.clear()
    if (ch.read(one) <= 0) -1 else one.get(0) & 0xff
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    ch.read(java.nio.ByteBuffer.wrap(b, off, len))
  override def close(): Unit = ch.close()

  override def seek(pos: Long): Unit = ch.position(pos)
  override def getPos: Long = ch.position()
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Int =
    ch.read(java.nio.ByteBuffer.wrap(buffer, offset, length), position)
  override def readFully(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Unit = {
    var done = 0
    while (done < length) {
      val n = read(position + done, buffer, offset + done, length - done)
      if (n < 0) throw new java.io.EOFException(
        s"EOF at ${position + done} of $p")
      done += n
    }
  }
  override def readFully(position: Long, buffer: Array[Byte]): Unit =
    readFully(position, buffer, 0, buffer.length)
}
