package graft.ops

import graft.SparkSpec
import graft.wiki.Categorize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the dense surrogate ids Categorize mints (`Categorize.mintIds`,
  * BlockRanks over one constant block) ≡ the global
  * `row_number() OVER (ORDER BY key)` window they replace — dense,
  * 1-based + offset, ordered by natural key — across partition counts
  * (including p far larger than the row count, so most ranges are
  * empty), offsets, and the empty frame.
  */
class DenseIdsSpec extends SparkSpec {
  import spark.implicits._

  private def ids(df: DataFrame): Seq[(String, Long)] =
    df.select(col("file_name"), col("id"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)

  private def windowForm(df: DataFrame, offset: Long): Seq[(String, Long)] =
    ids(df.withColumn("id",
      row_number().over(Window.orderBy(col("file_name"))).cast("long") + lit(offset)))

  /** The constant-block rank at an explicit partition count, plus the
    * offset — `mintIds` with its p pinned. */
  private def blockForm(df: DataFrame, offset: Long, p: Int): Seq[(String, Long)] =
    ids(BlockRanks.withBlockRank(df.withColumn("blk", lit(0L)), "blk",
        Seq(col("file_name")), "id", p)
      .withColumn("id", col("id") + lit(offset)))

  private def fixture: DataFrame = {
    // unique string keys, unsorted arrival order, skewed prefixes
    val keys = (1 to 257).map(i => f"k${(i * 7919) % 1000}%03d-$i") ++
      Seq("aaa", "zzz", "m")
    new scala.util.Random(42).shuffle(keys).toDF("file_name")
  }

  test("ids ≡ global-window form across partition counts and offsets") {
    val df = fixture
    for (off <- Seq(0L, 17L)) {
      val expected = windowForm(df, off)
      for (p <- Seq(1, 3, 8, 1024))
        assert(blockForm(df, off, p) == expected, s"p=$p offset=$off diverged")
      assert(ids(Categorize.mintIds(df, "file_name", off)) == expected,
        s"mintIds offset=$off diverged")
    }
  }

  test("ids are dense 1..n + offset") {
    val got = ids(Categorize.mintIds(fixture, "file_name", 100L)).map(_._2).sorted
    assert(got == (101L to 100L + fixture.count()).toSeq)
  }

  test("empty input yields empty output with the id column present") {
    val empty = Seq.empty[String].toDF("file_name")
    val out = Categorize.mintIds(empty, "file_name", 0L)
    assert(out.columns.contains("id") && out.count() == 0)
  }

  test("reserved temp-column collision is rejected") {
    val bad = fixture.withColumn("__pid", lit(1))
    val e = intercept[IllegalArgumentException] {
      Categorize.mintIds(bad, "file_name", 0L)
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("row-number window is range-keyed, not a global sort") {
    // With no knownRows the mint takes the range split: the corpus-sized
    // row_number window must be partitioned by the range id (__pid) — a
    // global window would plan with an empty partition spec over a
    // SinglePartition exchange. The range exchange runs inside the eager
    // checkpoint that pins the sampled boundaries, so the visible plan
    // shows the checkpoint scan.
    val plan = Categorize.mintIds(fixture, "file_name", 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      s"expected the checkpointed ranged scan in:\n$plan")
    val rnLines = plan.linesIterator.filter(_.contains("row_number")).toSeq
    assert(rnLines.nonEmpty && rnLines.forall(_.contains("__pid")),
      s"row_number window not keyed by __pid:\n${rnLines.mkString("\n")}")
  }
}
