package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files

/** Profile's per-query measurement and name resolution. */
class ProfileSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val q01 = "q01_pricing_summary"

  /** q01, a grouped aggregation, through `Profile.query`: its record and
    * the plan file it wrote. */
  private lazy val (record, plan) = {
    val probe = new Profile.Probe
    spark.sparkContext.addSparkListener(probe)
    val dir = Files.createTempDirectory("graft_profile")
    try (Profile.query(spark, probe, sf, q01, dir), Files.readString(dir.resolve(s"$q01.txt")))
    finally spark.sparkContext.removeSparkListener(probe)
  }

  test("per-query record: JSON with jobs, tasks, input bytes and per-job callsites") {
    val j = new ObjectMapper().readTree(record)
    assert(j.get("target").asText === q01)
    val jobs = j.get("jobs").asLong
    assert(jobs >= 1)
    assert(j.get("tasks").asLong >= jobs)
    assert(j.get("input_bytes").asLong > 0)
    val walls = j.get("job_walls")
    assert(walls.size === jobs)
    walls.forEach { w =>
      val cs = w.get("callsite").asText
      assert(cs.nonEmpty && cs != "?", record)
    }
  }

  test("per-query record: plan_desc_max_bytes holds the largest plan description posted") {
    val j = new ObjectMapper().readTree(record)
    val n = j.get("plan_desc_max_bytes").asLong
    // the measured run posts at least its execution start, whose text
    // is q01's whole formatted plan
    assert(n > 1000 && n < (1L << 20), record)
  }

  test("the written plan is AQE-final: the measured run drives the frame's own execution") {
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!plan.contains("isFinalPlan=false"), plan)
  }

  test("an unknown name or an ambiguous prefix fails naming the candidates") {
    assert(Profile.resolve("q01") === q01)
    val unknown = intercept[IllegalArgumentException](Profile.resolve("q999_nope"))
    assert(unknown.getMessage.contains(q01))
    val ambiguous = intercept[IllegalArgumentException](Profile.resolve("q12"))
    val matching = SparkEntry.queries.keys.filter(_.startsWith("q12")).toSeq
    assert(matching.size > 1)
    matching.foreach(n => assert(ambiguous.getMessage.contains(n)))
  }
}
