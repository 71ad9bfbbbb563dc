package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** A raw local FS under its own scheme that counts its renames: a path on
  * it must be served by Spark's own manager chain, not by nio. */
class GraftMockFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftmock:///")
  override def getScheme: String = "graftmock"
  override def rename(src: Path, dst: Path): Boolean = {
    GraftMockFileSystem.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object GraftMockFileSystem {
  val renames = new AtomicInteger
}

/** The engine's checkpoint manager on its own, with no Spark session. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def withDir(body: NioPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-lcfm")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(fm: CheckpointFileManager, f: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(f, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, f: Path): String = {
    val in = fm.open(f)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("a no-clobber write over an existing file raises Hadoop's " +
    "FileAlreadyExistsException and keeps the old bytes") {
    withDir { dir =>
      val fm = manager(dir)
      val f = new Path(dir.resolve("0").toUri)
      write(fm, f, "old", overwrite = false)
      val out = fm.createAtomic(f, overwriteIfPossible = false)
      out.write("new".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](out.close())
      out.cancel()
      assert(read(fm, f) === "old")
      assert(names(dir) === Set("0"))
    }
  }

  test("an overwriting write replaces the file and leaves no temp file") {
    withDir { dir =>
      val fm = manager(dir)
      val f = new Path(dir.resolve("1.delta").toUri)
      write(fm, f, "first", overwrite = true)
      write(fm, f, "second", overwrite = true)
      assert(read(fm, f) === "second")
      assert(names(dir) === Set("1.delta"))
    }
  }

  test("cancel leaves neither the temp file nor the target") {
    withDir { dir =>
      val fm = manager(dir)
      val out = fm.createAtomic(new Path(dir.resolve("2").toUri), false)
      out.write("torn".getBytes(UTF_8))
      assert(names(dir).exists(n => n.startsWith(".2.") && n.endsWith(".tmp")))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("a file Spark's default manager wrote with a .crc reads back " +
    "under either manager once this one rewrites it") {
    withDir { dir =>
      val spark = new FileContextBasedCheckpointFileManager(
        new Path(dir.toUri), conf)
      val f = new Path(dir.resolve("3").toUri)
      write(spark, f, "written with a checksum", overwrite = false)
      assert(names(dir) === Set("3", ".3.crc"))
      val fm = manager(dir)
      write(fm, f, "rewritten", overwrite = true)
      assert(names(dir) === Set("3"), "the stale checksum must go")
      assert(read(fm, f) === "rewritten")
      assert(read(spark, f) === "rewritten")
    }
  }

  test("mkdirs, list, exists and a recursive delete") {
    withDir { dir =>
      val fm = manager(dir)
      val sub = new Path(dir.resolve("state/0/1").toUri)
      fm.mkdirs(sub)
      write(fm, new Path(sub, "1.delta"), "d", overwrite = true)
      write(fm, new Path(sub, "2.delta"), "d", overwrite = true)
      assert(fm.list(sub, (p: Path) => p.getName.startsWith("2"))
        .map(_.getPath.getName).toSeq === Seq("2.delta"))
      val top = new Path(dir.resolve("state").toUri)
      assert(fm.exists(top))
      fm.delete(top)
      assert(!fm.exists(top))
      fm.delete(top) // absent: no error
    }
  }

  test("a path on another scheme goes to Spark's own manager chain") {
    withDir { dir =>
      val c = new Configuration(conf)
      c.set("fs.graftmock.impl", classOf[GraftMockFileSystem].getName)
      c.setBoolean("fs.graftmock.impl.disable.cache", true)
      // the session carries the key; the fallback must not loop back here
      c.set(LocalCheckpointFileManager.ConfKey,
        classOf[LocalCheckpointFileManager].getName)
      val base = new Path(s"graftmock:${dir.toUri.getPath}")
      val fm = CheckpointFileManager.create(base, c)
      assert(fm.isInstanceOf[LocalCheckpointFileManager])
      val before = GraftMockFileSystem.renames.get
      val f = new Path(base, "4")
      write(fm, f, "via spark", overwrite = false)
      assert(GraftMockFileSystem.renames.get > before,
        "Spark's manager renames through the mock FS; nio never does")
      assert(read(fm, f) === "via spark")
      assert(Files.readString(dir.resolve("4")) === "via spark")
    }
  }
}
