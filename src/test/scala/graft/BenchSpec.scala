package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}

/** Measurement integrity of `graft.Bench`: a query that throws is a
  * failure, never a fast time, and a previous run is compared against
  * only when it ran at the same SF and core count.
  */
class BenchSpec extends SparkSpec {

  test("a query that throws is reported failed and records no time") {
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      "q_throws_at_run" -> ((s, _) => s.range(3).select(raise_error(lit("boom")))),
      "q_throws_at_plan" -> ((_, _) => throw new IllegalStateException("no plan")))
    val (times, failed) = Bench.runPass(spark, queries, sf, "timed")
    assert(times.map(_._1) == Seq("q_ok"))
    assert(failed.sorted == Seq("q_throws_at_plan", "q_throws_at_run"))
  }

  test("vs_prev refuses a previous run at another SF or core count") {
    val prev = """{"metric":"total","value":1.0,"sf":"/data/sf0.1","cpus":4}"""
    assert(Bench.comparable(prev, "/data/sf0.1", "4"))
    assert(!Bench.comparable(prev, "/data/sf0.1", "32"))
    assert(!Bench.comparable(prev, "/data/sf0.01", "4"))
    assert(!Bench.comparable("""{"sf":"/data/sf0.1"}""", "/data/sf0.1", "4"),
      "a run without a recorded core count is not comparable")
  }
}
