package graft.queries

import graft.SparkSpec

/** Statistical-contract tests for the sketch ops — properties the oracle
  * hash-compare can't express (it proves both engines compute the same
  * numbers; these prove the numbers MEAN something).
  */
class SketchSpec extends SparkSpec {

  test("q63 KMV estimate lands within the k=64 error envelope of the exact count") {
    val rows = PipelineOps.q63KmvDistinct.fn(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(r.fieldIndex("n_exact")).toDouble
      val est = r.getDouble(r.fieldIndex("kmv_estimate"))
      // rsd of KMV at k=64 is ~1/sqrt(k-2) ≈ 12.7%; 35% is a ~2.75σ
      // bound — and the data is fixed, so this is a deterministic check
      // that the estimator formula is wired correctly, not a flaky
      // statistical assertion
      assert(math.abs(est / exact - 1.0) < 0.35,
        s"source=${r.getString(0)}: exact=$exact est=$est")
    }
  }

  test("q99 HLL++ estimate lands within 5·rsd of the exact count per source") {
    // The engine-side gate for the oracle-less query: HLL++ with
    // rsd=0.02 has standard error 2%; 5 sigma is a deterministic-given-
    // data bound (the sketch is deterministic, this guards regressions
    // in how we call it, e.g. a lossy pre-projection).
    val rows = PipelineOps.q99HllDistinct.fn(spark, "/root/testdata/sf0.001")
      .collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val relErr = r.getDouble(3)
      assert(relErr <= 0.10,
        s"source=${r.getString(0)} rel_err=$relErr exceeds the 5·rsd envelope")
    }
  }

  test("q99 HLL++ estimate lands within 5·rsd of an exact count taken outside q99") {
    // the rel_err q99 reports is its own arithmetic over its own exact
    // column; here the exact per-source vocabulary is counted on the
    // driver from the raw rows, with Java's split (the corpus is ASCII,
    // so lower-casing and single-space splitting agree with Spark's)
    val sf = "/root/testdata/sf0.01"
    val exact = graft.Tables.documents(spark, sf).select("source", "text").collect()
      .groupBy(_.getString(0))
      .map { case (src, rows) =>
        src -> rows.iterator.flatMap(r => Option(r.getString(1)))
          .flatMap(_.toLowerCase.split(" ", -1))
          .filter(_.nonEmpty).toSet.size.toLong
      }
    val est = PipelineOps.q99HllDistinct.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("hll_estimate"))).toMap
    assert(est.keySet === exact.keySet)
    exact.foreach { case (src, n) =>
      assert(n > 0, src)
      val relErr = math.abs(est(src) - n).toDouble / n
      assert(relErr <= 0.10, s"source=$src exact=$n estimate=${est(src)} rel_err=$relErr")
    }
  }

  test("minhash64 sketch similarity tracks true Jaccard (the q33 LSH premise)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // deterministic universe of shingles; pairs at controlled overlap
    val universe = (0 until 200).map(i => s"shingle_$i")
    def setAt(start: Int, n: Int) = universe.slice(start, start + n).toList
    // (a, b, true Jaccard): 80/120 shared = 2/3; 40/160 = 1/4; disjoint = 0
    val pairs = Seq(
      (setAt(0, 100), setAt(20, 100), 80.0 / 120.0),
      (setAt(0, 100), setAt(60, 100), 40.0 / 160.0),
      (setAt(0, 100), setAt(100, 100), 0.0))
    val rows = pairs.map { case (a, b, j) => (a, b, j) }.toDF("a", "b", "jac")
      .select(col("jac"),
        graft.functions.GraftFunctions.minhash64(col("a"), 128).as("ma"),
        graft.functions.GraftFunctions.minhash64(col("b"), 128).as("mb"))
      .select(col("jac"),
        (expr("size(filter(zip_with(ma, mb, (x, y) -> x = y), t -> t))").cast("double")
          / 128.0).as("est"))
      .collect()
    rows.foreach { r =>
      val (jac, est) = (r.getDouble(0), r.getDouble(1))
      // E[est] = J, sd = sqrt(J(1-J)/128) <= 0.045; 0.15 is a >3σ bound
      // and the inputs are fixed, so this is deterministic
      assert(math.abs(est - jac) < 0.15, s"true=$jac est=$est")
    }
  }

  test("q63 KMV degenerates to the exact count when a group has fewer than k hashes") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // 10 distinct tokens < k=64 → the sketch holds the whole set
    val tiny = (1 to 10).map(i => (s"tok$i", "only")).toDF("t", "source")
    val hashed = tiny.select(col("source"),
      expr("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)").as("h")).distinct()
    assert(hashed.count() === 10) // no collisions at this scale
    // the query's CASE arm: n_hashes < k → estimate = n_hashes exactly
    val est = hashed.groupBy("source").count().collect()(0).getLong(1).toDouble
    assert(est === 10.0)
  }

  test("q113 KMV value sample obeys the merge law: k-min of shard k-mins == global k-min") {
    import org.apache.spark.sql.functions._
    val k = 256
    val sf = "/root/testdata/sf0.01"
    val hashed = graft.Tables.lineitem(spark, sf)
      .select(
        col("l_extendedprice").cast(graft.Qdsl.D2).as("v"),
        expr("cast(conv(substring(md5(concat(cast(l_orderkey as string), '_', " +
          "cast(l_linenumber as string))), 1, 15), 16, 10) as bigint)").as("h"),
        (col("l_suppkey") % 7).as("shard"))
    val global = hashed.orderBy(col("h"), col("v")).limit(k)
      .collect().map(r => (r.getLong(1), r.getDecimal(0))).toSet
    // per-shard k-min samples, then k-min of their union — the
    // mergeable path a 100 TB run takes (no re-read of shard data)
    val merged = (0 until 7).map { g =>
        hashed.filter(col("shard") === g).orderBy(col("h"), col("v")).limit(k)
      }.reduce(_ union _)
      .orderBy(col("h"), col("v")).limit(k)
      .collect().map(r => (r.getLong(1), r.getDecimal(0))).toSet
    assert(merged === global, "shard-merged KMV sample must equal the direct global sample")
  }

  test("q113 sample quantiles land within the k=256 sampling-error envelope of exact quantiles") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.01"
    val got = AnalyticsOps.q113KmvQuantiles.fn(spark, sf).collect()
      .map(r => r.getDouble(r.fieldIndex("q")) ->
        r.getDecimal(r.fieldIndex("v_at_q")).doubleValue).toMap
    assert(got.keySet === Set(0.25, 0.5, 0.75, 0.9))
    val values = graft.Tables.lineitem(spark, sf)
      .select(col("l_extendedprice")).collect().map(_.getDouble(0)).sorted
    val n = values.length.toDouble
    got.foreach { case (q, v) =>
      // empirical CDF at the sampled quantile value vs the target rank:
      // sd of a k=256 sample rank is sqrt(q(1-q)/k); 5 sigma + 1/k slack
      // makes this a deterministic wiring check on fixed data, not a
      // flaky statistical one
      val cdf = values.count(_ <= v) / n
      val bound = 5 * math.sqrt(q * (1 - q) / 256) + 1.0 / 256
      assert(math.abs(cdf - q) <= bound,
        s"quantile $q: sampled value $v sits at CDF $cdf, outside +-$bound")
    }
  }
}
