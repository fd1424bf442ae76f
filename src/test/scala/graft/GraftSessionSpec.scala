package graft

import org.apache.spark.SparkEnv

/** The shared test session is built by GraftSession, so specs run the
  * serializer, shuffle writer, codegen cache and time handling that
  * Bench and Verify run. */
class GraftSessionSpec extends SparkSpec {

  test("the live test session carries GraftSession's confs") {
    val want = GraftSession.confs.toMap
    val sc = spark.sparkContext // starts the session, and with it SparkEnv
    assert(SparkEnv.get.serializer.getClass.getName === want("spark.serializer"))
    assert(sc.getConf.get("spark.shuffle.sort.bypassMergeThreshold") ===
      want("spark.shuffle.sort.bypassMergeThreshold"))
    Seq("spark.sql.codegen.cache.maxEntries", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong").foreach { k =>
      assert(spark.conf.get(k) === want(k), k)
    }
  }
}
