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

  /** `path:line` of each match of `pattern` in the one program file
    * `file` (relative to `Main`) outside the bodies of the `allowed`
    * members. A member of the file's object runs from its two-space
    * indented `def`/`val` line to the next one; comments are skipped, so
    * a scaladoc may name what the guard confines. */
  def offendersOutside(file: String, pattern: Regex, allowed: String*): List[String] = {
    val path = Main.resolve(file)
    require(Files.isRegularFile(path), s"run from the repository root: no $path")
    val member = """^  (?:private(?:\[\w+\])? )?(?:def|val) (\w+)""".r.unanchored
    var inComment = false
    var owner = ""
    Files.readAllLines(path).asScala.toList.zipWithIndex.flatMap { case (line, i) =>
      val outside =
        if (inComment) {
          val end = line.indexOf("*/")
          inComment = end < 0
          if (inComment) "" else line.substring(end + 2)
        } else line
      val open = outside.indexOf("/*")
      if (open >= 0 && outside.indexOf("*/", open) < 0) inComment = true
      val code = (if (open >= 0) outside.substring(0, open) else outside).split("//")(0)
      code match {
        case member(name) => owner = name
        case _ =>
      }
      if (allowed.contains(owner) || pattern.findFirstIn(code).isEmpty) Nil
      else List(s"$path:${i + 1} (in $owner)")
    }
  }

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
