package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins BlockRanks.withBlockRank ≡ `row_number() OVER (PARTITION BY
  * block ORDER BY key, id)` — the physical-rewrite contract that lets
  * q44/q128 keep their oracles untouched — across partition counts,
  * on sort-value ties (broken by the unique id the callers pass), and
  * on the PLANTED MEGA-BLOCK geometry the round-15 verdict asked to
  * close: one block holding ~all rows must still rank identically
  * while its sort runs across many range partitions instead of one
  * window task.
  */
class BlockRanksSpec extends SparkSpec {
  import spark.implicits._

  private def windowForm(df: DataFrame): Seq[(Long, Long, Long)] =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(col("blk")).orderBy(col("k"), col("id"))).cast("long"))
      .select(col("blk"), col("id"), col("rn"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))

  /** The split takes its range count from the session's shuffle
    * partitions when it is built (its ranged frame is checkpointed
    * there), so `p` is set for the build only. */
  private def ranked(df: DataFrame, p: Int): DataFrame =
    withConf("spark.sql.shuffle.partitions" -> p.toString) {
      BlockRanks.withBlockRank(df, "blk", Seq(col("k"), col("id")), "rn")
    }

  private def blockForm(df: DataFrame, p: Int): Seq[(Long, Long, Long)] =
    ranked(df, p)
      .select(col("blk"), col("id"), col("rn"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))

  /** Several blocks of uneven size, shuffled arrival, duplicate sort
    * values (k = id % 17) so the id tie-break is exercised on every
    * block. */
  private def fixture: DataFrame = {
    val rows = new scala.util.Random(7).shuffle(
      (1L to 613L).map(i => (i % 7, i % 17, i)))
    rows.toDF("blk", "k", "id")
  }

  test("ranks ≡ per-block global-window form across partition counts, with ties") {
    val df = fixture
    val expected = windowForm(df)
    for (p <- Seq(1, 3, 8, 1024))
      assert(blockForm(df, p) == expected, s"p=$p diverged")
  }

  test("planted mega-block: identical ranks, sort spread across range partitions") {
    // the q128 adversary: 100k rows, 98% in ONE block — uncapped this
    // was the geometry whose window sorted in a single task
    val n = 100000L
    val mega = spark.range(1, n + 1)
      .select(when(col("id") % 50 === 0, col("id") % 3 + 1).otherwise(0L).as("blk"),
        // many ties plus full-range values: rank order is data-like
        (col("id") * 7919 % 1024).as("k"), col("id"))
    val p = 32
    // equality with the single-task window form on the whole frame
    val expected = mega.withColumn("rn", row_number().over(
        Window.partitionBy(col("blk")).orderBy(col("k"), col("id"))).cast("long"))
    val got = ranked(mega, p)
    assert(got.select("blk", "id", "rn")
      .except(expected.select("blk", "id", "rn")).isEmpty &&
      expected.select("blk", "id", "rn")
        .except(got.select("blk", "id", "rn")).isEmpty,
      "mega-block ranks diverged from the window form")
    // the scale claim itself: the ranged frame spreads the mega block
    // over many partitions — no single task owns the block's sort
    val perPart = mega.repartitionByRange(p, col("blk"), col("k"), col("id"))
      .groupBy(spark_partition_id().as("pid")).count()
      .select(max(col("count"))).head().getLong(0)
    assert(perPart < n / 4,
      s"range split left $perPart of $n rows in one partition — " +
        "the mega-block sort is not being spread")
  }

  test("ranks are dense 1..pop within every block") {
    val got = ranked(fixture, 8)
    val bad = got.groupBy(col("blk"))
      .agg(count(lit(1)).as("pop"), min(col("rn")).as("lo"),
        max(col("rn")).as("hi"), countDistinct(col("rn")).as("d"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("pop") || col("d") =!= col("pop"))
    assert(bad.isEmpty, "a block's ranks are not dense 1..pop")
  }

  test("knownRows threshold picks the path; both paths produce identical ranks") {
    val df = fixture
    val expected = windowForm(df)
    val small = BlockRanks.withBlockRank(df, "blk", Seq(col("k"), col("id")),
      "rn", knownRows = df.count())
    val large = BlockRanks.withBlockRank(df, "blk", Seq(col("k"), col("id")),
      "rn", knownRows = BlockRanks.windowFormMaxRows + 1)
    def tuples(g: DataFrame) = g.select(col("blk"), col("id"), col("rn"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(tuples(small) == expected && tuples(large) == expected)
    // the physical claim behind the branch: the small-input path is the
    // plain window over the raw frame (no checkpointed ranged RDD, no
    // offset join); the above-threshold path reads the eagerly
    // checkpointed ranged frame (its LogicalRDD is the range split's
    // footprint — the exchange itself is behind the checkpoint cut)
    val smallPlan = small.queryExecution.optimizedPlan.toString
    assert(!smallPlan.contains("LogicalRDD"),
      "small-input path should not materialize a ranged checkpoint")
    assert(large.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      "above-threshold path must go through the checkpointed range split")
    // and its input-sized row_number window is keyed by the range id,
    // so every window task holds one range, never a whole block
    val rnLines = large.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("row_number")).toSeq
    assert(rnLines.nonEmpty && rnLines.forall(_.contains("__pid")),
      s"row_number window not keyed by __pid:\n${rnLines.mkString("\n")}")
  }

  test("reserved temp columns are rejected") {
    val df = fixture.withColumn("__pid", lit(1))
    intercept[IllegalArgumentException] {
      BlockRanks.withBlockRank(df, "blk", Seq(col("id")), "rn")
    }
  }
}
