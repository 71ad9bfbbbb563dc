package graft.streaming

import java.io.{BufferedOutputStream, DataOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's `CheckpointFileManager` for checkpoints on the local disk,
  * written with java.nio instead of Hadoop's local file system.
  *
  * Without libhadoop, Hadoop's local FS starts a child process for
  * metadata operations: `chmod` for every created file and directory
  * (`RawLocalFileSystem.setPermission`) and `readlink` for every
  * FileContext rename (`FileUtil.readLink`). Spark's default
  * `FileContextBasedCheckpointFileManager` pays both on every offset-log,
  * commit-log, file-source-log and state-store file, so each
  * micro-batch forked several processes. This manager does the same
  * writes as system calls:
  *
  *  - `createAtomic` writes a temp sibling `.<name>.<uuid>.tmp` (Spark's
  *    own naming, which `HDFSMetadataLog`'s batch filter and the state
  *    store's file parser both skip). Closing it with overwrite is one
  *    atomic rename; without overwrite it is a hard link plus an unlink
  *    of the temp, an atomic no-clobber write whose clash raises
  *    Hadoop's `FileAlreadyExistsException` ("a concurrent writer" to
  *    `HDFSMetadataLog`). `cancel` deletes the temp.
  *  - Files written here get no Hadoop `.<name>.crc` checksum. Before
  *    each publish the target's `.crc` sibling is deleted, so no reader
  *    ever checks new bytes against the checksum of old ones; `open` and
  *    `list` go through the raw local FS, which verifies none. A
  *    checkpoint written under Spark's default manager therefore
  *    restarts under this one, and the other way round.
  *  - `delete` also goes through the raw FS, which forks nothing for
  *    it; `mkdirs` and `exists` use java.nio (the raw FS's `mkdirs`
  *    forks a `chmod`).
  *  - No fsync, like the manager it replaces.
  *
  * It serves a `file:` path whose FS is `LocalFileSystem` or
  * `RawLocalFileSystem` (the types Spark's own `isLocal` tests). Any
  * other path goes to `CheckpointFileManager.create` on a copy of the
  * conf without [[ConfKey]], so HDFS or S3 keep Spark's own chain.
  * Installed by `EngineConf.tuned`; the engine's own sidecar swaps use
  * it directly through [[LocalCheckpointFileManager.replace]]. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val fs = path.getFileSystem(hadoopConf)

  /** Spark's manager for a path this one does not serve. */
  private val spark: Option[CheckpointFileManager] = fs match {
    case _: LocalFileSystem | _: RawLocalFileSystem
        if fs.getUri.getScheme == "file" => None
    case _ =>
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      Some(CheckpointFileManager.create(path, conf))
  }

  private lazy val raw: FileSystem = fs match {
    case l: LocalFileSystem => l.getRaw
    case r => r
  }

  private def nio(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    spark.fold[CancellableFSDataOutputStream] {
      val dst = nio(p)
      Files.createDirectories(dst.getParent)
      new AtomicFile(dst,
        dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"),
        overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream =
    spark.fold(raw.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    spark.fold(raw.listStatus(p, filter))(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    spark.fold[Unit](Files.createDirectories(nio(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean =
    spark.fold(Files.exists(nio(p)))(_.exists(p))

  override def delete(p: Path): Unit = spark.fold {
    raw.delete(p, true)
    Files.deleteIfExists(crcOf(nio(p)))
    ()
  }(_.delete(p))

  override def isLocal: Boolean = spark.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path =
    spark.fold {
      val q = fs.makeQualified(path)
      Files.createDirectories(nio(q))
      q
    }(_.createCheckpointDirectory())

  override def close(): Unit = spark.foreach(_.close())
}

object LocalCheckpointFileManager {
  /** The session setting that names a checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Replace `target` atomically with what `write` writes: readers see
    * the old file or the new one, never a torn or missing one. A failed
    * `write` leaves the old file in place. */
  def replace(target: Path, conf: Configuration)
             (write: DataOutputStream => Unit): Unit = {
    val out = new LocalCheckpointFileManager(target, conf)
      .createAtomic(target, overwriteIfPossible = true)
    try { write(out); out.close() }
    catch { case e: Throwable => out.cancel(); throw e }
  }

  private def crcOf(f: NioPath): NioPath =
    f.resolveSibling(s".${f.getFileName}.crc")

  /** A write to `tmp` that `close` publishes at `dst`. */
  private final class AtomicFile(dst: NioPath, tmp: NioPath,
                                 overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE))) {
    @volatile private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) try {
        underlyingStream.close()
        Files.deleteIfExists(crcOf(dst))
        if (overwrite)
          Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        else try Files.createLink(dst, tmp) catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$dst already exists")
        }
      } finally {
        terminated = true
        Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) try underlyingStream.close() catch {
        case NonFatal(_) =>
      } finally {
        terminated = true
        Files.deleteIfExists(tmp)
      }
    }
  }
}
