package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf

  /** Spark jobs scheduled while running `body`, via a job group +
    * status tracker (listener-bus timing smoothed by a short retry).
    * The group is a thread-local property: jobs `body` submits from
    * this thread, or from the broadcast threads that inherit it, count.
    */
  def countJobs(body: => Unit): Int = {
    val group = s"count-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "job count", interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
    var n = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    var tries = 0
    while (tries < 20) {
      Thread.sleep(50)
      val m = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      if (m == n) tries = 20 else { n = m; tries += 1 }
    }
    n
  }

  /** Assert the query's EXECUTED plan carries a live
    * DynamicPruningExpression — not Spark's literal-true fallback,
    * which AQE substitutes when it declines to prune (e.g. when
    * broadcast reuse fails) and which a bare
    * `plan.contains("dynamicpruning")` check cannot distinguish.
    * Runs collect() on THIS DataFrame first: a noop-write executes a
    * cloned QueryExecution and leaves this df's AdaptiveSparkPlan
    * unfinalized, so asserting before an action only ever sees the
    * initial plan (where DPP is always live). Returns the finalized
    * executed-plan string for further shape assertions.
    */
  def assertLiveDpp(df: org.apache.spark.sql.DataFrame, label: String): String = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruningexpression("),
      s"$label: expected a DynamicPruningExpression on the partitioned scan; plan:\n${plan.take(4000)}")
    assert(!plan.toLowerCase.contains("dynamicpruningexpression(true)"),
      s"$label: DPP degraded to the literal-true fallback — planned but NOT pruning at runtime; plan:\n${plan.take(4000)}")
    plan
  }

  /** Post-execution partitions-read of every file scan in the
    * finalized plan that carries a dynamic pruning partition filter
    * (recursing through AQE roots, query stages, and subqueries).
    * Call after an action; compares against on-disk partition counts
    * to prove pruning skipped directories, not just planned to.
    */
  def dppScanPartitionsRead(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
    executedFileScans(df)
      .filter(_.partitionFilters.exists(
        _.exists(_.isInstanceOf[DynamicPruningExpression])))
      .map(_.metrics("numPartitions").value)
  }

  /** Every FileSourceScanExec in the finalized plan, recursing through
    * AQE roots, query stages, and subqueries. Call after an action so
    * stage plans and metrics are populated.
    */
  def executedFileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other =>
        other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
