package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `graft.ops.Stored` is the engine's one way to store a frame eagerly:
  * no code line under `src/main/scala` outside `ops/Stored.scala` calls an
  * eager `localCheckpoint`, `persist` or `cache`. A lazy
  * `localCheckpoint(eager = false)`, whose storage a later action
  * materializes, is allowed; comments are not code. */
class OneStoreSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val storedFile = root.resolve("graft/ops/Stored.scala")

  private val eagerStore =
    """\.localCheckpoint\(\s*(eager\s*=\s*)?(true)?\s*\)|\.persist\(|\.cache\(""".r

  /** The line with any comment removed, or "" for a comment line. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
    else t.indexOf("//") match {
      case -1 => t
      case i => t.substring(0, i)
    }
  }

  private def stores(line: String): Boolean = eagerStore.findFirstIn(code(line)).isDefined

  test("the matcher flags eager stores and passes comments and lazy checkpoints") {
    Seq("val x = df.localCheckpoint()", "df.localCheckpoint(eager = true)",
      "df.localCheckpoint(true).count()", "df.persist(StorageLevel.DISK_ONLY)",
      "  .cache()").foreach(l => assert(stores(l), l))
    Seq("// localCheckpoint() (eager) first.", "  * `persist` once, `.cache()` never",
      ".localCheckpoint(eager = false)", "val s = Stored.checkpoint(df) // not .persist(",
      "spark.catalog.cacheTable(t)").foreach(l => assert(!stores(l), l))
  }

  test("no eager localCheckpoint, persist or cache in src/main outside ops/Stored.scala") {
    assert(Files.isRegularFile(storedFile), s"run from the project root: $storedFile")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != storedFile).toSeq
    assert(sources.size > 20, sources)
    val hits = for {
      p: Path <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if stores(line)
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("eager stores outside graft.ops.Stored:\n", "\n", ""))
  }
}
