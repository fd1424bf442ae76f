package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Star-contraction CC contracts: equality with driver-side union-find
  * on the real pair graph and on generated graphs, the deep-chain case
  * (the diameter shape that motivates the O(log n) algorithm), the
  * mega-hub skew case, and the empty graph.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def labelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.largeStarSmallStar(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star contraction == driver-side union-find on the real q32 pair graph") {
    val pairs = graft.queries.LlmOps.q32NearDupPairs
      .fn(spark, "/root/testdata/sf0.001")
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, "fixture regression: no near-dup pairs at sf0.001")
    assert(labelsOf(pairs) === graft.UnionFind.labels(pairs))
  }

  test("property: star contraction == union-find on generated graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
    (0 until 8).foreach { i =>
      val pairs = edgeGen(Gen.Parameters.default, Seed(0xCAFEL + i)).get
        .filter { case (a, b) => a != b }
      assert(labelsOf(pairs) === graft.UnionFind.labels(pairs), s"case $i: $pairs")
    }
  }

  test("deep chain (the O(diameter) killer) resolves to a single min-labeled component") {
    val chain = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val m = labelsOf(chain)
    assert(m.size === 200 && m.values.forall(_ == 0L))
  }

  test("mega-hub skew (degree 1e5) resolves without windowing the adjacency") {
    // One hub (node 1) adjacent to 100k larger ids, plus a chain hanging
    // off the far end and a smaller id bridged in so the hub is not the
    // component minimum. The per-node neighborhood min is a partial
    // aggregate (map-side combine) — this graph is the shape that
    // serializes through one WindowExec task in the window formulation.
    import spark.implicits._
    val n = 100000L
    val hub = (2L to n).map(i => (1L, i + 1000000L))
    val bridge = Seq((1L, 0L), (1000002L, 2000000L), (2000000L, 2000001L))
    val df = (hub ++ bridge).toDF("id_a", "id_b").repartition(8)
    val out = ConnectedComponents.largeStarSmallStar(df)
    val labels = out.select(countDistinct(col("lbl")),
      min(col("lbl")), count(lit(1))).head
    assert(labels.getLong(0) === 1L, "expected a single component")
    assert(labels.getLong(1) === 0L, "component label must be the global min")
    // vertices: hub 1, its n-1 neighbors (1000002..1000000+n), 0,
    // 2000000, 2000001
    assert(labels.getLong(2) === n + 3, "every vertex must be labeled")
  }

  test("empty and self-loop-only inputs yield an empty labeling") {
    assert(labelsOf(Nil).isEmpty)
    assert(labelsOf(Seq((5L, 5L))).isEmpty)
  }
}
