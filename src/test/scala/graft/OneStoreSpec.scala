package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.ops.Stored` is the engine's one way to store a frame eagerly:
  * no code line under `src/main/scala` outside `ops/Stored.scala` calls an
  * eager `localCheckpoint`, `persist` or `cache`. A lazy
  * `localCheckpoint(eager = false)`, whose storage a later action
  * materializes, is allowed; comments are not code. */
class OneStoreSpec extends AnyFunSuite {
  import SourceScan.code

  private val storedFile = SourceScan.root.resolve("graft/ops/Stored.scala")

  private val eagerStore =
    """\.localCheckpoint\(\s*(eager\s*=\s*)?(true)?\s*\)|\.persist\(|\.cache\(""".r

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
    assert(java.nio.file.Files.isRegularFile(storedFile), s"run from the project root: $storedFile")
    val sources = SourceScan.sources.filter(_ != storedFile)
    assert(sources.size > 20, sources)
    val hits = SourceScan.lines.collect {
      case (p, n, all) if p != storedFile && stores(all(n - 1)) => s"$p:$n: ${all(n - 1).trim}"
    }
    assert(hits.isEmpty, hits.mkString("eager stores outside graft.ops.Stored:\n", "\n", ""))
  }
}
