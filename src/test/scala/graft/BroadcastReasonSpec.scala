package graft

import org.scalatest.funsuite.AnyFunSuite

/** The planner picks every join strategy from the sizes it is given:
  * the statistics of a stored frame's measured rows, and AQE's runtime
  * sizes. A `broadcast(` hint overrides that choice, so each one under
  * `src/main/scala` states why the planner cannot make it: a
  * `// broadcast:` comment on the hinted line or the line above names the
  * measured size the hint guards or the planner limit behind it. */
class BroadcastReasonSpec extends AnyFunSuite {
  import SourceScan.code

  private val hintCall = """(?<![\w.])broadcast\(|functions\.broadcast\(""".r
  private val reason = """//\s*broadcast:\s*\S""".r

  private def hints(line: String): Boolean = hintCall.findFirstIn(code(line)).isDefined

  /** Whether line `n` (1-based) of `all` hints a broadcast without a reason. */
  private def unexplained(all: IndexedSeq[String], n: Int): Boolean =
    hints(all(n - 1)) &&
      !(all(n - 1) +: all.lift(n - 2).toSeq).exists(reason.findFirstIn(_).isDefined)

  test("the matcher flags hint calls and passes comments, plan names and reasons") {
    Seq("val s = e.join(broadcast(q))", "  broadcast(words.select(",
      "x.crossJoin(functions.broadcast(w))").foreach(l => assert(hints(l), l))
    Seq("// crossJoin(broadcast(nAgg)) was a job per round", "  * broadcast(r)-join",
      "assert(plan.contains(\"BroadcastHashJoin\"))", "val b = sc.broadcast(table)",
      "val x = y // not broadcast(y)").foreach(l => assert(!hints(l), l))
    val kept = IndexedSeq(
      "// broadcast: 10 query rows; no equi-key, so a static estimate plans a CartesianProduct",
      "e.join(broadcast(q), col(\"a\") =!= col(\"b\"))",
      "e.join(broadcast(q)) // broadcast: one row")
    assert(!unexplained(kept, 2) && !unexplained(kept, 3))
    assert(unexplained(IndexedSeq("val a = 1", "e.join(broadcast(q))"), 2))
    assert(unexplained(IndexedSeq("// broadcast:", "e.join(broadcast(q))"), 2),
      "a reason must say something")
    assert(unexplained(IndexedSeq("e.join(broadcast(q))"), 1))
  }

  test("every broadcast hint in src/main carries a // broadcast: reason") {
    val all = SourceScan.lines
    assert(all.map(_._1).distinct.size > 20, "too few sources scanned")
    val hits = all.collect {
      case (p, n, lines) if unexplained(lines, n) => s"$p:$n: ${lines(n - 1).trim}"
    }
    assert(hits.isEmpty, hits.mkString("broadcast hints without a reason:\n", "\n", ""))
  }
}
