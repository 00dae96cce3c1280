package graft

import graft.sources.Scratch

/** A fresh temporary directory for one spec body, deleted when the body
  * ends, however it ends. */
object TempDir {
  def apply[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally Scratch.deleteDir(dir)
  }
}
