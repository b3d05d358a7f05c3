package graft

import graft.operators.{Dedup, TextAnalysis}

/** Spark jobs of the curate pass: table opens take their schema from a
  * footer read on the driver, and the dedup pipeline and curation
  * funnel each run a fixed number of jobs.
  */
class CurateJobsSpec extends SparkSpec {

  test("Tables.load opens every table without a Spark job") {
    for (t <- Tables.all) {
      val jobs = countJobs(Tables.load(spark, sf, t))
      assert(jobs == 0, s"$t: opening the table scheduled $jobs jobs")
    }
  }

  test("Tables.load schema equals spark.read.parquet's for every table") {
    // the fixture tables come from another writer (no Spark row schema
    // in the footer), so this is the converted-footer path
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for (t <- Tables.all)
      assert(Tables.load(spark, sf, t).schema == spark.read.parquet(s"$sf/$t.parquet").schema, t)
  }

  test("the curate pass runs its pinned job counts") {
    // each count includes the jobs that materialize the pipeline's
    // shared frame while the DataFrame is built
    val jobs = Map(
      "d_pipeline" -> countJobs(Dedup.dPipeline(spark, sf).collect()),
      "t_curation_pipeline" -> countJobs(TextAnalysis.tCurationPipeline(spark, sf).collect()))
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(jobs == Map("d_pipeline" -> 11, "t_curation_pipeline" -> 11), s"jobs per pipeline: $jobs")
  }
}
