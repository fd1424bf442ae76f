package graft.wiki

import graft.ops.Stored
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The crawler's cyclic queue topology (SURVEY.md §3.3) rendered as
  * iterative batch BFS — the idiomatic Spark shape for a self-feeding
  * cycle, since Structured Streaming forbids cyclic dataflows.
  *
  * Reference mapping (file:line under /root/reference/):
  *  - fetch (fetcher main.py:90): join the frontier against a `web`
  *    frame (url, html) — the test fixture stands in for HTTP (O-3 is
  *    scoped out of the oracle set per SURVEY.md §2.1);
  *  - parse links (fetcher main.py:116-123): `explode(extractLinksUdf)`
  *    — the set-comprehension dedup is inside the UDF (O-23/O-24);
  *  - normalize + domain filter (parser main.py:15-40): Urls.normalize +
  *    Urls.isWikipedia (O-11/O-14);
  *  - Redis seen-set SISMEMBER/SADD (redis_api.py:18-28): LEFT-ANTI join
  *    of the new frontier against the accumulated `seen` frame — the
  *    batch rendering of stateful stream dedup (§1.4);
  *  - queue cycle valid→check→dups→valid (.env.example:9-11): the loop.
  *
  * Each iteration is one narrow plan; storing each level's frontier and
  * seen set ([[graft.ops.Stored]]) truncates the lineage so depth-k BFS
  * doesn't build a k-deep recursive DAG (at cluster scale use reliable
  * checkpoint dirs instead). The loop stops on the row count the
  * frontier's own storing job observed, so termination costs no job of
  * its own and ships no row data to the driver.
  */
object Crawl {

  /** BFS from `seedUrl` over `web` (columns: url, html), following only
    * en.wikipedia.org links, visiting each normalized URL once. Returns
    * (url, depth) for every URL *enqueued for fetching* — including
    * frontier URLs with no page in `web` (the reference also marks URLs
    * seen when they enter the dedup filter, not when fetched). `depth`
    * is the BFS level (seed = 0).
    */
  def crawl(spark: SparkSession, web: DataFrame, seedUrl: String,
      maxDepth: Int = 25): DataFrame = {
    import spark.implicits._
    val seed = Seq(seedUrl).toDF("raw")
      .select(Urls.normalize(col("raw")).as("url"), lit(0).as("depth"))
    var frontier = Stored.checkpoint(seed)
    var seen = frontier.df
    var depth = 0
    while (depth < maxDepth && frontier.rows > 0) {
      val fetched = frontier.df.join(web, "url")
      val links = fetched
        .select(explode(Html.extractLinksUdf(col("html"), col("url"))).as("link"))
        .filter(Urls.isWikipedia(col("link")))
        .select(Urls.normalize(col("link")).as("url"))
        .distinct()
      depth += 1
      frontier = Stored.checkpoint(links
        .join(seen.select("url"), Seq("url"), "left_anti")
        .withColumn("depth", lit(depth)))
      seen = Stored.checkpoint(seen.unionByName(frontier.df)).df
    }
    seen
  }
}
