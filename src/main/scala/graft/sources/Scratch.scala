package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** Local scratch space and the one content-keyed cache on it.
  *
  * Two kinds of local artifacts live here. Throwaway ones (a streaming
  * lane's checkpoint and sink, a composite input) take a fresh [[dir]]
  * and are deleted after the run. Derived ones that depend only on an
  * input's content (the silver [[Marts]], the staged time-chunk replays
  * of the streaming lanes) go through [[cached]]: built once per
  * distinct input content and shared by every query, run and JVM that
  * asks for the same key. */
object Scratch {

  /** Scratch root: the RAM-backed /dev/shm when mounted, so the bench
    * measures the engine's micro-batch work, not the sandbox's
    * virtual-disk fsync latency (measured ~0.1 s per micro-batch commit
    * on /tmp's block device); else `java.io.tmpdir`.
    * PRODUCTION note: a real deployment's checkpointLocation must live
    * on durable shared storage (HDFS/S3) — that is exactly-once's
    * recovery log; only this local replay harness, whose inputs are
    * immutable staged files, may keep it in RAM. */
  def base: Path = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.toPath
    else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** A fresh, uniquely named directory under [[base]]. */
  def dir(prefix: String): String = Files.createTempDirectory(base, prefix).toString

  /** Recursive delete; a missing path is a no-op. */
  def deleteDir(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
  }

  /** Content digest of a dataset path for cache keys: full MD5 over
    * every regular file's RELATIVE path, length and mtime (recursing
    * into directories — a Spark-written dataset is a directory whose
    * own mtime/length do NOT change when its part files are regenerated
    * in place, so a directory-level key could silently serve stale
    * data), plus the root's absolute path. Metadata, not bytes: the
    * inputs are driver-generated immutable parquet, and any rewrite
    * touches part mtimes; hashing 100 K part STATS is cheap where
    * hashing bytes would re-read the table. */
  def contentKey(root: File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val rootPath = root.toPath
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else md.update(s"${rootPath.relativize(f.toPath)}:${f.length}:${f.lastModified}\n".getBytes(UTF_8))
    md.update(s"${root.getAbsolutePath}\n".getBytes(UTF_8))
    walk(root)
    hex(md.digest())
  }

  /** Completion marker: present only inside a finished, published build. */
  val Marker = "_CACHED"

  /** Content keys kept per cache name (plus the one being built). */
  private val Keep = 5

  /** The directory `graft_<name>_v<version>_<key>` under [[base]], built
    * by `build(dir)` unless a finished build of the same key exists.
    * The key is a full MD5 over each source's [[contentKey]], in order,
    * so regenerating an input in place gives a new key.
    *
    *   - A hit touches the directory's mtime, so the keep-newest rank
    *     below approximates least-recently-USED.
    *   - A miss first evicts this name's other versions and dead
    *     `.build` leftovers, and all but the newest [[Keep]] keys of this
    *     version: several inputs legitimately coexist (the sf dirs, a
    *     composite amplification), and evicting every other key on each
    *     build made alternating workloads rebuild on every switch.
    *   - `build` writes into a pid-suffixed temp directory that is
    *     published by an atomic rename, under one JVM-wide lock: a
    *     concurrent JVM cannot interleave files with ours, no published
    *     entry is ever rewritten in place, and a reader never sees a
    *     half-written entry. A `build` that throws publishes nothing and
    *     leaves nothing. */
  def cached(name: String, version: Int, srcs: Seq[File])(build: String => Unit): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    srcs.foreach(f => md.update(contentKey(f).getBytes(UTF_8)))
    val target = new File(base.toFile, s"graft_${name}_v${version}_${hex(md.digest())}")
    val marker = new File(target, Marker)
    this.synchronized {
      if (marker.exists) target.setLastModified(System.currentTimeMillis())
      else {
        evict(name, version, target)
        val tmp = new File(target.getParentFile,
          s"${target.getName}.build${ProcessHandle.current().pid()}")
        try {
          build(tmp.toString)
          new File(tmp, Marker).createNewFile()
          // a failed rename means the target exists: a concurrent JVM
          // published it (theirs wins), or an unmarked dir left by an
          // older layout holds the name (replace it)
          if (!tmp.renameTo(target) && !marker.exists) {
            deleteDir(target.toString)
            require(tmp.renameTo(target), s"Scratch.cached: cannot publish $target")
          }
        } finally deleteDir(tmp.toString) // no-op once published
      }
    }
    target.toString
  }

  private def evict(name: String, version: Int, target: File): Unit = {
    val entry = (s"graft_${java.util.regex.Pattern.quote(name)}_" +
      "(v\\d+_)?[0-9a-f]{32}(\\.build(\\d+))?").r
    val current = s"graft_${name}_v${version}_"
    val self = ProcessHandle.current().pid()
    val siblings = Option(target.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != target.getName)
      .flatMap(f => entry.unapplySeq(f.getName).map(f -> _))
    val (keys, stale) = siblings.partition { case (f, groups) =>
      groups(1) == null && f.getName.startsWith(current)
    }
    stale.foreach { case (f, groups) =>
      // another live JVM's build in progress is not a leftover
      val pid = Option(groups(2)).map(_.toLong)
      if (pid.forall(p => p == self || !ProcessHandle.of(p).isPresent)) deleteDir(f.toString)
    }
    keys.map(_._1).sortBy(-_.lastModified()).drop(Keep).foreach(f => deleteDir(f.toString))
  }

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString
}
