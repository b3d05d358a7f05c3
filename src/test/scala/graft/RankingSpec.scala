package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import graft.plans.{Ranking, TopKScore}

/** [[Ranking]]'s rankings against the literal window formulation,
  * written as SQL: ROW_NUMBER() OVER (PARTITION BY … ORDER BY …) cast
  * to BIGINT, kept where it is k or better.
  */
class RankingSpec extends SparkSpec {

  private val nan = Double.NaN

  /** (query_id, neighbor_id, score) candidates: query 1 has ties, a NULL,
    * a NaN and both zeros; query 2 has fewer rows than any k here;
    * query 3 scores only NULLs.
    */
  private def cands(score: String): DataFrame = {
    val rows = Seq[(Long, Long, java.lang.Double)](
      (1, 3, 0.5), (1, 1, 0.5), (1, 2, 0.5), (1, 4, null), (1, 5, nan),
      (1, 6, 0.9), (1, 8, 0.0), (1, 7, -0.0),
      (2, 1, 0.3), (2, 9, 0.7),
      (3, 2, null), (3, 1, null))
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (q, n, s) => Row(q, n, s) }: _*),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("neighbor_id", LongType, nullable = false),
        StructField(score, DoubleType, nullable = true))))
  }

  private def literal(df: DataFrame, partition: String, order: String, k: Int,
                      rank: String): DataFrame = {
    df.createOrReplaceTempView("ranking_spec_cands")
    spark.sql(s"""
      SELECT * FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY $partition ORDER BY $order) AS BIGINT)
          AS $rank
        FROM ranking_spec_cands)
      WHERE $rank <= $k""")
  }

  private def rows(df: DataFrame, by: String*): Seq[Row] =
    df.orderBy(by.map(col): _*).collect().toSeq

  /** (query_id, rnk, neighbor_id, score) in rank order. */
  private def ranked(df: DataFrame, score: String): Seq[(Long, Long, Long, Option[Double])] =
    rows(df, "query_id", "rnk").map { r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"), r.getAs[Long]("neighbor_id"),
        Option(r.getAs[java.lang.Double](score)).map(_.doubleValue))
    }

  test("topK equals the window formulation: ties, NULL and NaN in both directions") {
    for ((dir, k) <- Seq(("DESC", 3), ("ASC", 3), ("DESC", 10), ("ASC", 10))) {
      val order = if (dir == "DESC") col("s").desc else col("s").asc
      val got = Ranking.topK(cands("s"), Seq("query_id"), Seq(order, col("neighbor_id").asc), k)
      val want = literal(cands("s"), "query_id", s"s $dir, neighbor_id", k, "rnk")
      assert(got.schema == want.schema, s"$dir k=$k")
      assert(got.schema("rnk").dataType == LongType && !got.schema("rnk").nullable)
      val g = rows(got, "query_id", "rnk")
      assert(g == rows(want, "query_id", "rnk"), s"$dir k=$k")
      // k past a group's size keeps the whole group
      assert(g.count(_.getLong(0) == 2L) == 2 && g.count(_.getLong(0) == 3L) == 2)
    }
  }

  test("topK over a two-column partition, under another rank name, and uncut") {
    val df = cands("s").withColumn("alpha", (col("neighbor_id") % 2).cast("double"))
    val got = Ranking.topK(df, Seq("alpha", "query_id"),
      Seq(col("s").desc, col("neighbor_id").asc), 2, "rn")
    val want = literal(df, "alpha, query_id", "s DESC, neighbor_id", 2, "rn")
    assert(got.schema == want.schema && got.schema("rn").dataType == LongType)
    assert(rows(got, "alpha", "query_id", "rn") == rows(want, "alpha", "query_id", "rn"))
    assert(got.count() == 8)
    val all = Ranking.topK(df, Seq("alpha", "query_id"), Seq(col("neighbor_id").asc),
      Int.MaxValue, "rn")
    assert(all.count() == df.count())
  }

  test("scored: cosine ranks sim DESC NULLS LAST, ADC adc_dist ASC NULLS FIRST, then id") {
    val cos = Ranking.scored(cands("sim"), TopKScore.Cosine, 10)
    assert(cos.columns.toSeq == Seq("query_id", "rnk", "neighbor_id", "sim"))
    assert(cos.schema("rnk").dataType == LongType)
    assert(rows(cos, "query_id", "rnk") == rows(literal(cands("sim"), "query_id",
      "sim DESC, neighbor_id", 10, "rnk").select("query_id", "rnk", "neighbor_id", "sim"),
      "query_id", "rnk"))
    // NaN above every number, -0.0 ties 0.0 (id 7 before 8), NULL last
    assert(ranked(cos, "sim").filter(_._1 == 1L).map(_._3) == Seq(5L, 6L, 1L, 2L, 3L, 7L, 8L, 4L))
    assert(ranked(cos, "sim").filter(_._1 == 3L).map(r => (r._3, r._4)) ==
      Seq((1L, None), (2L, None)))

    val adc = Ranking.scored(cands("adc_dist"), TopKScore.Adc, 4)
    assert(adc.columns.toSeq == Seq("query_id", "rnk", "neighbor_id", "adc_dist"))
    assert(rows(adc, "query_id", "rnk") == rows(literal(cands("adc_dist"), "query_id",
      "adc_dist ASC, neighbor_id", 4, "rnk").select("query_id", "rnk", "neighbor_id", "adc_dist"),
      "query_id", "rnk"))
    assert(ranked(adc, "adc_dist").filter(_._1 == 1L).map(_._3) == Seq(4L, 7L, 8L, 1L))
    assert(ranked(adc, "adc_dist").filter(_._1 == 2L).map(_._3) == Seq(1L, 9L))
  }

  /** Ranking.scored and the literal window over `df`, for every k in
    * `ks` and both score directions: equal schemas (types and
    * nullability) and equal rows.
    */
  private def assertScoredIsWindow(df: DataFrame, ks: Seq[Int]): Unit =
    for (score <- Seq(TopKScore.Cosine, TopKScore.Adc); k <- ks) {
      val cands = df.withColumnRenamed("s", score.name)
      val got = Ranking.scored(cands, score, k)
      val dir = if (score.descending) "DESC" else "ASC"
      val want = literal(cands, "query_id", s"${score.name} $dir, neighbor_id", k, "rnk")
        .select("query_id", "rnk", "neighbor_id", score.name)
      assert(got.schema == want.schema, s"${score.name} k=$k")
      assert(rows(got, "query_id", "rnk") == rows(want, "query_id", "rnk"), s"${score.name} k=$k")
    }

  private def frame(idType: DataType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("query_id", LongType), StructField("neighbor_id", idType),
        StructField("s", DoubleType, nullable = false))))

  test("scored equals ROW_NUMBER(): duplicates, NULL ids, nullable and non-null columns") {
    assertScoredIsWindow(cands("s"), Seq(1, 3, 10))
    // duplicate (query, neighbor, score) rows each take a rank; NULL
    // neighbor ids tie-break first, a NULL query_id is one more group
    val dup = frame(LongType, Seq(
      Row(1L, 4L, 0.5), Row(1L, 4L, 0.5), Row(1L, 4L, 0.5), Row(1L, 2L, 0.5), Row(1L, null, 0.5),
      Row(1L, null, 0.9), Row(1L, 9L, 0.1), Row(1L, 4L, 0.2),
      Row(null, 3L, 0.7), Row(null, 1L, 0.7), Row(null, null, 0.2),
      Row(2L, 5L, 0.4), Row(2L, 5L, 0.4)))
    assertScoredIsWindow(dup, Seq(1, 2, 4, 7, 50))
    val top = Ranking.scored(dup.withColumnRenamed("s", "sim"), TopKScore.Cosine, 5)
    assert(!top.schema("sim").nullable && top.schema("neighbor_id").nullable &&
      top.schema("query_id").nullable && !top.schema("rnk").nullable)
    assert(rows(top, "query_id", "rnk").filter(r => r.getAs[Any]("query_id") == 1L)
      .map(r => Option(r.getAs[Any]("neighbor_id"))) ==
      Seq(None, None, Some(2L), Some(4L), Some(4L)))
  }

  test("scored equals ROW_NUMBER() over string and decimal neighbor ids") {
    assertScoredIsWindow(frame(StringType, Seq(
      Row(1L, "b", 0.5), Row(1L, "a", 0.5), Row(1L, "ab", 0.5), Row(1L, "", 0.5),
      Row(1L, null, 0.5), Row(1L, "zz", 0.8), Row(1L, "b", 0.5), Row(2L, "x", 0.1))),
      Seq(1, 3, 6, 20))
    assertScoredIsWindow(frame(DecimalType(20, 4), Seq(
      Row(1L, BigDecimal("10.5").bigDecimal, 0.5), Row(1L, BigDecimal("-2").bigDecimal, 0.5),
      Row(1L, BigDecimal("10.4999").bigDecimal, 0.5), Row(1L, null, 0.3),
      Row(1L, BigDecimal("1e10").bigDecimal, 0.9), Row(2L, BigDecimal("0").bigDecimal, 0.1))),
      Seq(1, 2, 5, 20))
  }

  /** Scored candidates over a multi-partition scan: `queries` query ids,
    * `per` candidates each, scores with ties and NULLs.
    */
  private def wide(queries: Int, per: Int, parts: Int): DataFrame =
    spark.range(0, queries.toLong * per, 1, parts)
      .select((col("id") % queries).as("query_id"), (col("id") * 7 % 101).as("neighbor_id"),
        expr("CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id * 37 % 17 AS DOUBLE) / 16 END")
          .as("s"))

  test("scored equals ROW_NUMBER() past the aggregate's 128-key hash map in one partition") {
    // 300 queries in ONE scan partition: the partial aggregation spills
    // past ObjectHashAggregate's sort-based fallback threshold
    assertScoredIsWindow(wide(300, 6, 1), Seq(1, 4, 10))
    assertScoredIsWindow(wide(300, 6, 3).union(wide(300, 6, 2)), Seq(2, 7))
  }

  test("scored plans as a bounded-heap aggregate: no sort or window, one exchange on query_id") {
    val got = Ranking.scored(wide(40, 25, 3).withColumnRenamed("s", "sim"), TopKScore.Cosine, 5)
    got.collect()
    val helper = new AdaptiveSparkPlanHelper {}
    val plan: SparkPlan = got.queryExecution.executedPlan
    def nodes(pf: PartialFunction[SparkPlan, SparkPlan]) = helper.collect(plan)(pf)
    assert(nodes { case p @ (_: SortExec | _: WindowExec | _: WindowGroupLimitExec) => p }.isEmpty,
      plan.toString)
    val exchanges = nodes { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1, plan.toString)
    assert((exchanges.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
      case _ => Nil
    }) == Seq("query_id"), plan.toString)
    assert(nodes { case a: ObjectHashAggregateExec => a }.length == 2, plan.toString)
    assert(got.count() == 40 * 5)
  }
}
