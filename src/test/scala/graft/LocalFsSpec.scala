package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funspec.AnyFunSpec
import graft.sources.LocalFs

/** [[LocalFs]] is what `file:` resolves to on a graft session, and it
  * answers like Hadoop's raw local filesystem without starting a
  * process. */
class LocalFsSpec extends AnyFunSpec {
  import SharedSpark.spark

  private val local = new URI("file:///")
  private def fresh[F <: FileSystem](fs: F): F = { fs.initialize(local, spark.sessionState.newHadoopConf()); fs }

  describe("registration") {
    it("a Session-built context resolves file: to LocalFs through FileSystem and FileContext") {
      val conf = spark.sessionState.newHadoopConf()
      FileSystem.get(local, conf) match {
        case fs: LocalFileSystem => assert(fs.getRaw.isInstanceOf[LocalFs])
        case other => fail(s"file: resolved to ${other.getClass}")
      }
      assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.isInstanceOf[LocalFs.Context])
    }
  }

  describe("LocalFs") {
    val fs = fresh(new LocalFs)
    val raw = fresh(new RawLocalFileSystem)

    it("setPermission round-trips the rwx bits exactly") {
      TempDir("graft_localfs") { tmp =>
        val dir = Paths.get(tmp)
        val f = Files.createFile(dir.resolve("perm"))
        Seq("rw-------" -> 0x180, "rw-r--r--" -> 0x1a4, "rwxr-xr-x" -> 0x1ed).foreach { case (want, bits) =>
          fs.setPermission(new Path(f.toUri), new FsPermission(bits.toShort))
          assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == want)
        }
      }
    }

    it("a sticky-bit permission falls back to Hadoop's path without throwing") {
      TempDir("graft_localfs") { tmp =>
        val dir = Paths.get(tmp)
        val d = Files.createDirectory(dir.resolve("sticky"))
        fs.setPermission(new Path(d.toUri), new FsPermission(0x3ed.toShort)) // 01755
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(d)) == "rwxr-xr-x")
      }
    }

    it("getFileLinkStatus equals RawLocalFileSystem's for a file, a directory and a symlink") {
      TempDir("graft_localfs") { tmp =>
        val dir = Paths.get(tmp)
        val f = Files.write(dir.resolve("data"), "x".getBytes)
        val d = Files.createDirectory(dir.resolve("sub"))
        val link = Files.createSymbolicLink(dir.resolve("link"), f)
        // qualified (file:/...) and bare paths: Hadoop's readlink only sees
        // a link through the bare form
        Seq(f, d, link).flatMap(p => Seq(new Path(p.toUri), new Path(p.toString))).foreach { p =>
          assert(fs.getFileLinkStatus(p).toString == raw.getFileLinkStatus(p).toString)
        }
        assert(fs.getFileLinkStatus(new Path(link.toString)).isSymlink)
      }
    }

    it("getFileLinkStatus throws FileNotFoundException for a missing path") {
      TempDir("graft_localfs") { tmp =>
        val dir = Paths.get(tmp)
        assertThrows[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toUri)))
      }
    }
  }

  describe("a StreamingPipeline drain") {
    it("starts no chmod or readlink process") {
      TickDrain.zone("graft_localfs_drain") { zone =>
        zone.land("a.csv", TickDrain.firstRows ++ TickDrain.closingRows)
        val rec = new Recording()
        rec.enable("jdk.ProcessStart")
        rec.start()
        try zone.drain() finally rec.stop()
        val jfr = Files.createTempFile("graft_drain", ".jfr")
        rec.dump(jfr)
        rec.close()
        val commands = RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command"))
        Files.delete(jfr)
        assert(Files.list(Paths.get(zone.dir, "out")).iterator.asScala.exists(_.toString.endsWith(".parquet")))
        val forks = commands.filter(c => c.contains("chmod") || c.contains("readlink"))
        assert(forks.isEmpty, s"${forks.size} of ${commands.size} process starts: ${forks.take(3)}")
        // a state store with a local working directory (RocksDB) deletes
        // it with a forked `rm -rf` on every commit
        val storeRms = commands.filter(_.contains("StateStoreId("))
        assert(storeRms.isEmpty, s"${storeRms.size} of ${commands.size} process starts: ${storeRms.take(3)}")
      }
    }
  }
}
