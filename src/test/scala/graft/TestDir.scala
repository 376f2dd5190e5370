package graft

import java.nio.file.Path

/** A fresh temp dir for a spec, named `prefix…` and deleted when the test
  * JVM exits: the program's exit-deleted dir
  * ([[graft.ops.Checkpoint.tempDir]]), so a suite run leaves nothing in
  * `java.io.tmpdir`. */
object TestDir {
  def apply(prefix: String): String = path(prefix).toString

  def path(prefix: String): Path = graft.ops.Checkpoint.tempDir(prefix)
}
