package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, TextAnalysis}

/** The one-frame `dPipeline` and the one-branch `tCurationPipeline`
  * return exactly what their previous formulations return. Those are
  * kept below verbatim as references and run side by side on the
  * fixture corpus and on an edge corpus built to hit every case the
  * rewrites reason about.
  */
class CurateEquivalenceSpec extends SparkSpec {

  /** The previous `Dedup.dPipeline`: keepers from `dExact`, candidate
    * pairs from `dMinhashPairs`, losers among keepers, `except`.
    */
  private def refDPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val keep1 = Dedup.dExact(spark, dir).select(col("keep_doc_id").as("doc_id"))
    val est = Dedup.dMinhashPairs(spark, dir).filter(col("jacc_est") >= 0.25)
      .select(col("doc1"), col("doc2"))
    val losers = est
      .join(keep1.select(col("doc_id").as("ka")), col("doc1") === col("ka"))
      .join(keep1.select(col("doc_id").as("kb")), col("doc2") === col("kb"))
      .select(col("doc2").as("doc_id")).distinct()
    val finalKeep = keep1.except(losers)
    docs
      .join(keep1.withColumn("ex", lit(1)), Seq("doc_id"), "left")
      .join(finalKeep.withColumn("fi", lit(1)), Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(col("ex")).as("n_exact_keep"),
        count(col("fi")).as("n_final_keep"))
      .withColumn("keep_ratio",
        round(col("n_final_keep") / col("n_docs").cast("double"), 4))
      .orderBy("lang")
  }

  /** The previous `TextAnalysis.tCurationPipeline`: a survivor-only
    * capping window joined back to a second per-source aggregate.
    */
  private def refTCurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.tGopherQuality(spark, dir).select(col("doc_id"), col("keep"))
    val spanDrop = Dedup.dSpanDedup(spark, dir)
      .select(col("doc_id").as("sd_id"), col("drop_flag"))
    val ord = graft.functions.HashFns
      .md5Long(concat(lit("cap_"), col("doc_id").cast("string")), 15)
    val staged = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), ord.as("ord"))
      .join(quality, "doc_id")
      .join(spanDrop, col("doc_id") === col("sd_id"), "left")
      .withColumn("survives", col("keep") && !coalesce(col("drop_flag"), lit(false)))
    val w = Window.partitionBy("source").orderBy(col("ord"), col("doc_id"))
    val capped = staged.filter(col("survives"))
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_survive"),
        sum(when(col("rn") <= Dedup.SourceCap, 1L).otherwise(0L)).as("n_kept"))
    staged.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"))
      .join(capped, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_quality"),
        coalesce(col("n_survive"), lit(0L)).as("n_survive"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Lowercase pseudo-words of 3-8 letters plus the stop words the
    * Gopher gate counts, so generated texts pass the quality rules.
    */
  private def words(seed: Int, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(if (r.nextInt(6) == 0) Seq("the", "of", "and")(r.nextInt(3))
      else Seq.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }

  /** `base` with every `every`-th word replaced: a MinHash-near copy. */
  private def edited(base: Seq[String], tag: String, every: Int = 25): String =
    base.zipWithIndex.map { case (w, i) => if (i % every == 7) s"$tag$i" else w }.mkString(" ")

  /** The edge corpus, one case per comment. Source `q` holds more
    * quality survivors than the per-source cap; sources `e`, `n` and `z`
    * hold none.
    */
  private lazy val edgeDir: String = {
    val a = words(1, 60)
    val e = words(2, 60)
    val docs = Seq[(Long, String, String, String)](
      // a keeper that is near a smaller keeper (2 loses to 1)
      (1L, a.mkString(" "), "en", "n"),
      (2L, edited(a, "x"), "en", "n"),
      // an exact duplicate under normalization only: 3 keeps, 4 does not
      (3L, e.mkString(" ").toUpperCase, "fr", "z"),
      (4L, e.mkString(" "), "fr", "z"),
      // near the non-keeper 4 only (3's upper-case shingles differ):
      // the pair (4, 5) has a non-keeper end, so 5 stays
      (5L, edited(e, "y"), "fr", "z"),
      // a language whose keepers all lose (to 1, in another language)
      (6L, edited(a, "w"), "de", "n"),
      (7L, edited(a, "v", every = 30), "de", "n"),
      (8L, a.mkString(" "), "de", "n"),
      // null text (one exact group of its own), text shorter than
      // ShingleK, and texts without tokens ("" and "   " normalize alike)
      (9L, null, "xx", "e"),
      (10L, null, "xx", "e"),
      (11L, "abc", "xx", "e"),
      (12L, "", "xx", "e"),
      (13L, "   ", "xx", "e")) ++
      // distinct quality texts beyond the per-source cap
      (0 until Dedup.SourceCap + 5).map(i =>
        (100L + i, words(100 + i, 45).mkString(" "), "es", "q"))
    val rows = docs.map { case (id, t, l, s) =>
      Row(id, t, l, s, if (t == null) null else java.lang.Long.valueOf(t.length)) }
    val dir = java.nio.file.Files.createTempDirectory("curate_edge").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def assertSame(got: DataFrame, want: DataFrame, label: String): Array[Row] = {
    val (g, w) = (got.collect(), want.collect())
    assert(got.schema == want.schema, s"$label schema: ${got.schema} != ${want.schema}")
    assert(g.toSeq == w.toSeq, s"$label rows:\n${g.mkString("\n")}\n!=\n${w.mkString("\n")}")
    g
  }

  test("dPipeline equals its previous formulation on the fixture and the edge corpus") {
    assertSame(Dedup.dPipeline(spark, sf), refDPipeline(spark, sf), "d_pipeline sf0.001")
    val rows = assertSame(Dedup.dPipeline(spark, edgeDir), refDPipeline(spark, edgeDir),
      "d_pipeline edge").map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the corpus hits the cases it is built for
    assert(rows("en") == ((2L, 2L, 1L)), s"en: the near keeper must lose, $rows")
    assert(rows("fr") == ((3L, 2L, 2L)), s"fr: a non-keeper must not make a loser, $rows")
    assert(rows("de") == ((3L, 2L, 0L)), s"de: every keeper loses, $rows")
    assert(rows("xx") == ((5L, 3L, 3L)), s"xx: null and short texts, $rows")
  }

  test("tCurationPipeline equals its previous formulation on the fixture and the edge corpus") {
    assertSame(TextAnalysis.tCurationPipeline(spark, sf), refTCurationPipeline(spark, sf),
      "t_curation_pipeline sf0.001")
    val rows = assertSame(TextAnalysis.tCurationPipeline(spark, edgeDir),
      refTCurationPipeline(spark, edgeDir), "t_curation_pipeline edge")
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(rows("q") == ((Dedup.SourceCap + 5L, Dedup.SourceCap.toLong)),
      s"q: survivors beyond the cap, $rows")
    assert(Seq("e", "n", "z").forall(s => rows(s) == ((0L, 0L))), s"sources without survivors, $rows")
  }

  test("t_gopher_quality: a document without tokens gets NULL per-word features and keep = false") {
    val g = TextAnalysis.tGopherQuality(spark, edgeDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(12L, 13L)) {
      val r = g(id)
      assert(r.getAs[Long]("n_words") == 0L, s"$id: $r")
      assert(r.isNullAt(r.fieldIndex("mean_wlen")) && r.isNullAt(r.fieldIndex("alpha_frac")), s"$id: $r")
      assert(!r.getAs[Boolean]("keep"), s"$id: $r")
    }
    // the quality texts pass, so the funnel above is not vacuous
    assert((100L until 100L + Dedup.SourceCap + 5).forall(id => g(id).getAs[Boolean]("keep")))
    val cp = TextAnalysis.tCurationPipeline(spark, edgeDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cp("e") == 5L, s"t_curation_pipeline counts the token-less docs: $cp")
  }
}
