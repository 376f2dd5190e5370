package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The program-source scan behind the guard specs: a guard names a
  * pattern that only one helper may contain, and fails on every other
  * `path:line` that matches. Run from the repository root. */
object SourceScan {

  val Main: Path = Paths.get("src", "main", "scala")
  val Test: Path = Paths.get("src", "test", "scala")

  /** `path:line` of each match of `pattern` in `src/main/scala`, except
    * in `allowed` (paths relative to that root). */
  def offenders(pattern: Regex, allowed: String*): List[String] =
    offendersUnder(Seq(Main), pattern, allowed: _*)

  /** As [[offenders]], over each of `roots`; `allowed` paths are relative
    * to every root. */
  def offendersUnder(roots: Seq[Path], pattern: Regex, allowed: String*): List[String] =
    roots.toList.flatMap { root =>
      require(Files.isDirectory(root), s"run from the repository root: no $root")
      val skip = allowed.map(root.resolve).toSet
      val stream = Files.walk(root)
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !skip(p))
        .flatMap { (p: Path) =>
          val text = new String(Files.readAllBytes(p), "UTF-8")
          pattern.findAllMatchIn(text).map { m =>
            s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}"
          }
        }.toList
      finally stream.close()
    }
}
