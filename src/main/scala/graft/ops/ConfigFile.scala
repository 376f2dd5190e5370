package graft.ops

/** The file format of a stored index artifact's sidecar: one line of
  * comma-separated non-negative ints — the values the artifact's probes
  * MUST serve under (a modulus, a width, a geometry) and the content
  * fingerprints that prove its stores are one release. Written
  * durably through [[Commit.atomic]] (temp, force, atomic rename,
  * directory fsync: a crash mid-write can never leave a torn config next
  * to complete parquet, and a finished write survives power loss) and
  * parse-validated on read. Program code reaches it only through
  * [[Artifact]], which owns what the values mean: commit, validate-once
  * open and retire. */
object ConfigFile {

  def writeAtomic(dir: String, name: String, values: Seq[Int]): Unit =
    Commit.atomic(java.nio.file.Paths.get(dir, name), values.mkString(",")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def exists(dir: String, name: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, name))

  /** Between `nMin` and `nMax` non-negative ints — the back-compat read
    * for a sidecar format that GREW a trailing field (readers treat a
    * missing tail as its zero default; a length outside the window is
    * still a torn config, loud). */
  def readIntsRange(dir: String, name: String, nMin: Int, nMax: Int): Seq[Int] = {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, name)),
      java.nio.charset.StandardCharsets.UTF_8).trim
    val parts = raw.split(",")
    require(parts.length >= nMin && parts.length <= nMax
        && parts.forall(p => p.nonEmpty && p.forall(_.isDigit)),
      s"torn config $dir/$name: '$raw' (want $nMin..$nMax ints)")
    parts.toSeq.map(_.toInt)
  }
}
