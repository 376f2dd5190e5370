package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The reachability guard: each public top-level type under
  * `src/main/scala`, and each public def or val that an object there
  * declares, is referenced from the program (`src/main/scala` or
  * `perfbench/src/main/scala`), or is in [[ReachabilitySpec.Kept]] with
  * its reason. A name only the specs call is dead weight: delete it with
  * the cases that test it.
  *
  * The scan is by name. Comments are stripped first, and a use inside a
  * declaration of the same name (recursion, an overload calling its
  * sibling) does not count. Out of scope, because their callers do not
  * name them: objects that declare `main` (the entry points), `apply` and
  * `unapply`, and `override` and `implicit` members, which Spark or the
  * compiler calls through their supertype or type (VendorApiSource's
  * DSv2 callbacks are such overrides). A `private[pkg]` member is visible
  * to the whole project, so it counts as public. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  test("every public name in src/main is reached from the program or kept for a reason") {
    val unreached = scan.filter(d => !d.used && !d.keptBy(Kept.keySet)).map(_.where)
    assert(unreached.isEmpty,
      "no entry point reaches these; delete them (and the spec cases that test " +
        "only them) or keep them in ReachabilitySpec.Kept with a reason:\n" +
        unreached.mkString("\n"))
  }

  test("every Kept entry names a declared, unreferenced name") {
    val decls = scan
    val stale = Kept.keySet.filter { k =>
      val named = decls.filter(_.qualified == k)
      named.isEmpty || named.exists(_.used)
    }
    assert(stale.isEmpty,
      s"Kept entries that name nothing or a referenced name (drop them): $stale")
  }
}

object ReachabilitySpec {

  private val Reference =
    "a reference that a remaining spec compares a reached path against"
  private val Port =
    "ports an sc-crawler function; its scaladoc, or its object's, cites the reference file"
  private val TwinOrHook =
    "the Column twin of a registered SQL function, or a hook that a guard spec reads"
  private val StreamingStore =
    "a streaming index store ROADMAP B5 will test, or a batch maintenance def it is pinned to"

  /** Unreached names that stay, each with the one reason it may. An
    * object's entry covers its members. */
  val Kept: Map[String, String] = Map(
    "Cosine.dotHof" -> Reference,
    "Cosine.bqTopK" -> Reference,
    "Cosine.ivfAdcTopKMultiprobe" -> Reference,
    "Cosine.ivfAdcResidualMultiprobe" -> Reference,
    "Cosine.prefixTopKRotated" -> Reference,
    "WorkloadScores.configMatches" -> Reference,
    "SimHash.fingerprintsComposable" -> Reference,
    "TextAnalysis.rollingFingerprint" -> Reference,
    "TextAnalysis.winnowedFingerprint" -> Reference,
    "InspectorParsers.parseStressNg" -> Port,
    "InspectorParsers.parsePassmark" -> Port,
    "InspectorParsers.parseGeekbench" -> Port,
    "InspectorParsers.parseLlmSpeed" -> Port,
    "InspectorParsers.parseRps" -> Port,
    "HardwareParsers.parseLsblkDisks" -> Port,
    "HardwareParsers.storageSummary" -> Port,
    "HardwareParsers.hardware" -> Port,
    "StrUtils" -> Port,
    "RawFetchStore" -> Port,
    "Enums" -> Port,
    "Scd.asOf" -> Port,
    "Scd.withValidity" -> Port,
    "TierOps.maxTierPrice" -> Port,
    "TierOps.cumulativeBoundsArray" -> Port,
    "Migrations.requireHead" -> Port,
    "Dedup.duplicateCount" -> Port,
    "Sync.syncGuarded" -> Port,
    "BloomSketchAgg.bloomMerge" -> TwinOrHook,
    "MisraGriesAgg.mgMerge" -> TwinOrHook,
    "ParquetOpen.sessionsHeld" -> TwinOrHook,
    "Artifact.openedEntries" -> TwinOrHook,
    "FrameSegments.deleteFold" -> StreamingStore,
    "StreamingLshMaintenance" -> StreamingStore,
    "StreamingIvfMaintenance" -> StreamingStore,
    "StreamingPqMaintenance" -> StreamingStore,
    "StreamingTrainedPqMaintenance" -> StreamingStore,
    "StreamingResidualPqMaintenance" -> StreamingStore,
    "StreamingPrefixMaintenance" -> StreamingStore,
    "StreamingSq8Maintenance" -> StreamingStore,
    "StreamingBqMaintenance" -> StreamingStore,
    "StreamingRepIndexMaintenance" -> StreamingStore,
    "StreamingIndexMaintenance.deleteSink" -> StreamingStore,
    "StreamingIndexMaintenance.publish" -> StreamingStore,
    "Segments.prune" -> StreamingStore,
    "Cosine.sq8DeleteCodes" -> StreamingStore,
    "MinHash.deleteFromSnapshotIndex" -> StreamingStore,
    "Cosine.writePrefixIndex" -> StreamingStore)

  private val Bench: Path = Paths.get("perfbench", "src", "main", "scala")

  /** One in-scope declaration: `owners` are its enclosing objects, outer
    * first; `used` is whether the program references its name. */
  final case class Decl(path: Path, line: Int, name: String, owners: List[String],
                        used: Boolean) {
    def qualified: String = (owners :+ name).mkString(".")
    def keptBy(kept: Set[String]): Boolean =
      kept(qualified) || owners.indices.exists(i => kept(owners.take(i + 1).mkString(".")))
    def where: String = s"$path:$line $qualified"
  }

  /** A file with comments blanked (`code`), and also string bodies
    * blanked (`shape`, for the brace structure). Offsets and newlines
    * are kept in both. */
  private final case class Source(path: Path, text: String, code: String, shape: String)

  private def load(path: Path): Source = {
    val text = new String(Files.readAllBytes(path), "UTF-8")
    val code = text.toCharArray; val shape = text.toCharArray
    def blank(from: Int, to: Int, both: Boolean): Unit =
      (from until to).foreach { k =>
        if (text(k) != '\n') { shape(k) = ' '; if (both) code(k) = ' ' }
      }
    val n = text.length
    var i = 0
    while (i < n) {
      if (text.startsWith("//", i)) {
        val j = { val e = text.indexOf('\n', i); if (e < 0) n else e }
        blank(i, j, both = true); i = j
      } else if (text.startsWith("/*", i)) {
        var depth = 1; var j = i + 2
        while (j < n && depth > 0) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j, both = true); i = j
      } else if (text.startsWith("\"\"\"", i)) {
        var j = { val e = text.indexOf("\"\"\"", i + 3); if (e < 0) n else e + 3 }
        while (j < n && text(j) == '"') j += 1
        blank(i + 3, j - 3, both = false); i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        blank(i + 1, j, both = false); i = j + 1
      } else if (text(i) == '\'' && i + 2 < n &&
          (text(i + 2) == '\'' || (text(i + 1) == '\\' && i + 3 < n && text(i + 3) == '\''))) {
        val j = i + (if (text(i + 2) == '\'') 3 else 4)
        blank(i + 1, j - 1, both = false); i = j
      } else i += 1
    }
    Source(path, text, new String(code), new String(shape))
  }

  private val DeclRx =
    ("""(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|""" +
      """implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+|@\w+(?:\([^)]*\))?\s+)*)""" +
      """(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)""").r
  private val IdentRx = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** A declaration as written, before scoping: `depth` counts the braces
    * open at it, `encl` the kinds of those braces (innermost first). */
  private final case class Raw(src: Source, mods: String, kind: String, name: String,
                               start: Int, depth: Int, encl: List[(String, String)]) {
    def line: Int = src.text.substring(0, start).count(_ == '\n') + 1
  }

  private def declarations(src: Source): Vector[Raw] = {
    val at = DeclRx.findAllMatchIn(src.shape).map(m => m.start -> m).toMap
    val out = Vector.newBuilder[Raw]
    var open = List.empty[(String, String)] // (kind, name) per open brace
    var pending: (String, String) = ("other", "")
    src.shape.indices.foreach { i =>
      at.get(i).foreach { m =>
        val kind = m.group(2)
        out += Raw(src, m.group(1), kind, m.group(3), m.start(3), open.length, open)
        pending = if (Set("object", "class", "trait")(kind)) (kind, m.group(3)) else ("other", "")
      }
      src.shape(i) match {
        case '{' => open = pending :: open; pending = ("other", "")
        case '}' => if (open.nonEmpty) open = open.tail
        case _ =>
      }
    }
    out.result()
  }

  /** Every in-scope declaration under `src/main/scala`, with whether the
    * program references it. */
  def scan: Seq[Decl] = {
    val mains = sources(SourceScan.Main)
    val all = mains ++ sources(Bench)
    val raws = all.map(s => s.path -> declarations(s)).toMap
    val entryObjects = raws.values.flatten.collect {
      case r if r.kind == "def" && r.name == "main" && r.encl.headOption.exists(_._1 == "object") =>
        r.encl.head._2
    }.toSet
    val unqualifiedPrivate = """(private|protected)(?!\[)""".r
    def inScope(r: Raw): Boolean = {
      val topType = r.encl.isEmpty && Set("object", "class", "trait")(r.kind) &&
        !(r.kind == "object" && entryObjects(r.name))
      val member = r.encl.headOption.exists(_._1 == "object") &&
        Set("def", "val", "var")(r.kind) &&
        !r.mods.contains("override") && !r.mods.contains("implicit") &&
        !Set("main", "apply", "unapply")(r.name)
      unqualifiedPrivate.findFirstIn(r.mods).isEmpty && (topType || member)
    }
    val scoped = mains.flatMap(s => raws(s.path).filter(inScope))
    val names = scoped.map(_.name).toSet
    val used = all.flatMap { s =>
      // a declaration's extent runs to the next declaration at its depth
      // or shallower; a use of its own name inside it does not count
      val rs = raws(s.path)
      val extents = rs.indices.collect { case k if names(rs(k).name) && inScope(rs(k)) =>
        val r = rs(k)
        (r.name, r.start, rs.drop(k + 1).find(_.depth <= r.depth).fold(s.code.length)(_.start))
      }
      IdentRx.findAllMatchIn(s.code).collect {
        case m if names(m.matched) &&
            !extents.exists { case (n, a, b) => n == m.matched && a <= m.start && m.start < b } =>
          m.matched
      }
    }.toSet
    scoped.map(r => Decl(r.src.path, r.line, r.name,
      r.encl.reverse.collect { case ("object", n) => n }, used(r.name)))
  }

  private def sources(root: Path): Seq[Source] = {
    require(Files.isDirectory(root), s"run from the repository root: no $root")
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toVector.sortBy(_.toString).map(load)
    finally stream.close()
  }
}
