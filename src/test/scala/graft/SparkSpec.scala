package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session (tests
  * run in sbt's forked JVM; getOrCreate dedupes across suites) built by
  * `GraftSession`, so specs run Bench's serializer and shuffle path.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import org.apache.spark.sql.functions.col

  /** Evaluate a single-column expression over given input strings. */
  def evalStr(input: Seq[String], c: org.apache.spark.sql.Column): Seq[Any] = {
    import spark.implicits._
    input.toDF("s").select(c.as("r")).collect().toSeq.map(r => r.get(0))
  }

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Run `body` with session confs temporarily set, then restore each
    * key to its prior value (or unset it if it had none).
    *
    * All 36+ suites share ONE JVM-wide session, so a conf left behind by
    * any suite silently changes every later suite's plans — the
    * suite-order-drift class behind round 9's ZOrderSpec flake. Every
    * conf-mutating test must go through this (or an equivalent
    * try/finally restore); never bare `spark.conf.set`.
    */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, prev) =>
      prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
