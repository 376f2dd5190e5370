package graft.ops

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** The one durable file commit (the Lucene commit-point recipe): every
  * commit point the program writes — a segment store's manifest, a
  * stored artifact's sidecar — goes through [[atomic]]. */
object Commit {

  /** Replace `path` with `bytes` so that a reader sees the old file or the
    * new one, never a torn one, and the new one survives power loss once
    * this returns: write `<name>.tmp` (truncating a stale one a crashed
    * write left), force its bytes, ATOMIC_MOVE it into place, then fsync
    * the directory so the rename itself is durable. */
  def atomic(path: Path, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
    val ch = FileChannel.open(tmp, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val buf = ByteBuffer.wrap(bytes)
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true) // bytes durable BEFORE the rename publishes them
    } finally ch.close()
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    fsyncDir(path.toAbsolutePath.getParent)
  }

  /** Where a directory cannot be OPENED for force() (e.g. Windows) the
    * rename stays atomic but not durable, which `Segments.latest`'s
    * torn-manifest fallback covers. Once the open succeeded, a force()
    * failure is a real I/O error, and swallowing it would make the
    * durability claim silently false, so it propagates. */
  private def fsyncDir(d: Path): Unit = {
    val ch =
      try FileChannel.open(d, StandardOpenOption.READ)
      catch {
        // platform/filesystem cannot open a directory channel: fsync
        // unsupported here, not an I/O fault
        case _: java.io.IOException | _: UnsupportedOperationException => return
      }
    try ch.force(true) finally ch.close()
  }
}
