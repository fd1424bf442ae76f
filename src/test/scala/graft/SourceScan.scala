package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Line-level scans of the engine's own sources, shared by the specs that
  * pin a coding rule across `src/main/scala`. */
object SourceScan {

  val root: Path = Paths.get("src/main/scala")

  /** The line with any comment removed, or "" for a comment line. */
  def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
    else t.indexOf("//") match {
      case -1 => t
      case i => t.substring(0, i)
    }
  }

  /** Every `.scala` file under [[root]]; run from the project root. */
  def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the project root: $root")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  /** Each source line as (file, 1-based line number, lines of its file). */
  def lines: Seq[(Path, Int, IndexedSeq[String])] = for {
    p <- sources
    all = Files.readAllLines(p).asScala.toIndexedSeq
    i <- all.indices
  } yield (p, i + 1, all)
}
