package graft.bench

import java.util.SplittableRandom
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.{Dedup, TextAnalysis}

/** Seeded `documents` corpus (the test-data schema) with exact and near
  * duplicates planted at known shares. Doc i is an original, an exact
  * copy of an earlier original, or a near copy of one (a few words
  * replaced), decided by (seed, i) alone.
  */
final case class DocGen(seed: Long, n: Int) {
  val Vocab: Array[String] = ("a the data table query spark join merge window column vector " +
    "stream value small big filter group hash customer sort order slow fast line part row " +
    "agg key scan batch index store shard").split(' ')
  val Langs = Array("en", "en", "es", "zh", "de", "fr")
  val Sources = 20
  val ExactShare = 0.10
  val NearShare = 0.10

  private def rng(i: Long, s: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 31 + s)

  /** 0 = original, 1 = exact copy, 2 = near copy; ids below 100 are originals. */
  def kind(i: Int): Int = {
    if (i < 100) 0
    else {
      val u = rng(i, 1).nextDouble()
      if (u < ExactShare) 1 else if (u < ExactShare + NearShare) 2 else 0
    }
  }

  /** The original a copy was taken from (an earlier original). */
  def parent(i: Int): Int = {
    val r = rng(i, 2)
    var p = r.nextInt(i)
    while (kind(p) != 0) p = r.nextInt(i)
    p
  }

  private def originalWords(i: Int): Array[String] = {
    val r = rng(i, 3)
    Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
  }

  def text(i: Int): String = kind(i) match {
    case 0 => originalWords(i).mkString(" ")
    case 1 => text(parent(i))
    case _ =>
      val w = originalWords(parent(i))
      val r = rng(i, 4)
      // replace ~10% of the words, at least one, with a word not in the vocabulary
      (0 until math.max(1, w.length / 10)).foreach(j => w(r.nextInt(w.length)) = s"edit$i$j")
      w.mkString(" ")
  }

  def lang(i: Int): String = Langs(rng(i, 5).nextInt(Langs.length))
  def source(i: Int): String = s"src${rng(i, 6).nextInt(Sources)}"

  def row(i: Int): Row = {
    val t = text(i)
    Row(i.toLong, t, lang(i), source(i), t.length.toLong)
  }

  val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
}

/** `curate`: the training-data path — dedup pipeline, then the curation
  * funnel — over a generated corpus written as one parquet file.
  */
final class CurateWorkload(b: Bench) extends Workload {
  val N = 5000
  private var g: DocGen = _
  private var dir: String = _

  def setup(round: Int): Unit = {
    g = DocGen(b.opts.seed, N)
    dir = s"${b.opts.work}/curate-$round"
    val gen = g
    val rows = b.sc.parallelize(0 until N, b.cores).map(gen.row)
    b.spark.createDataFrame(rows, g.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    b.inputs("docs") = N
  }

  def warmUp(): Unit = pass()
  val mainKind = "pass"

  /** One curation pass; returns the two small reports. */
  private def pass(): (Array[Row], Array[Row]) = (
    b.tracer.span("operators.dedup.pipeline")(Dedup.dPipeline(b.spark, dir).collect()),
    b.tracer.span("operators.text.curation_pipeline")(TextAnalysis.tCurationPipeline(b.spark, dir).collect()))

  def run(deadlineNs: Long): Unit = {
    val perSource = (0 until N).groupBy(g.source).map { case (s, xs) => s -> xs.size.toLong }
    val perLang = (0 until N).groupBy(g.lang).map { case (l, xs) => l -> xs.size.toLong }
    b.timedLoop(deadlineNs) { _ =>
      b.op("pass")(pass()).foreach { case (dp, cp) =>
        val id = b.ops.size - 1
        val gotSource = cp.map(r => r.getAs[String]("source") -> r.getAs[Long]("n_docs")).toMap
        if (gotSource != perSource) b.wrong(id, s"per-source n_docs $gotSource != generated $perSource")
        val gotLang = dp.map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_docs")).toMap
        if (gotLang != perLang) b.wrong(id, s"per-language n_docs $gotLang != generated $perLang")
      }
    }
  }

  def finish(): Unit = {
    b.phase("check")
    // exact-dedup keepers: one per distinct text, the lowest doc_id of each
    val keepers = Dedup.dExact(b.spark, dir).select("keep_doc_id", "n_docs").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0 until N).groupBy(i => g.text(i)).values
      .map(xs => xs.min.toLong -> xs.size.toLong).toMap
    b.check(keepers == want,
      s"dExact keepers: ${keepers.size} groups, generator planted ${want.size}")
    if (b.opts.trace) traced()
    val passes = b.okMs("pass")
    b.check(passes.nonEmpty, "no curation pass completed")
    if (passes.nonEmpty) {
      b.e2e("op_p50_ms", Stats.median(passes), "ms")
      b.layer("op_p90_ms", Stats.quantile(passes, 0.9), "ms")
      b.e2e("work_per_s", N / (Stats.median(passes) / 1000), "1/s")
    }
  }

  /** Per-layer numbers only a traced run gathers: each pipeline stage as
    * its own call, the hashing kernels through SQL, and job counters.
    */
  private def traced(): Unit = {
    val passes = b.ops.filter(o => o.ok && o.kind == "pass").toSeq
    val js = passes.map(o => b.opJobs(o.id))
    b.layer("spark.jobs_per_pass", Layers.medianOf(js.map(_.jobs.toDouble)), "count")
    b.layer("spark.driver_gap_s_per_pass", Layers.medianOf(passes.map(b.driverGapMs)) / 1000, "s")
    b.layer("spark.shuffle_bytes_per_pass", Layers.medianOf(js.map(_.shuffleBytes.toDouble)), "bytes")
    val noop = (df: org.apache.spark.sql.DataFrame) => df.write.format("noop").mode("overwrite").save()
    Seq("operators.dedup.exact" -> (() => Dedup.dExact(b.spark, dir)),
      "operators.dedup.minhash_pairs" -> (() => Dedup.dMinhashPairs(b.spark, dir)),
      "operators.dedup.span_dedup" -> (() => Dedup.dSpanDedup(b.spark, dir)),
      "operators.text.gopher_quality" -> (() => TextAnalysis.tGopherQuality(b.spark, dir)))
      .foreach { case (name, df) => b.layer(s"${name}_s", Layers.probe(b, name, 1)(noop(df())) / 1000, "s") }
    val planted = (0 until N).count(i => g.kind(i) != 0)
    b.layer("operators.dedup.pairs_per_planted_near_dup",
      Dedup.dMinhashPairs(b.spark, dir).count().toDouble / planted, "ratio")
    graft.GraftFunctions.register(b.spark)
    val docs = b.spark.read.parquet(s"$dir/documents.parquet").select("text").cache()
    docs.count()
    docs.createOrReplaceTempView("bench_docs")
    for (f <- Seq("graft_shingle_hashes", "graft_minhash_sig")) {
      val ms = Layers.probe(b, s"expressions.$f", 1) {
        b.spark.sql(s"SELECT sum(size($f(text))) FROM bench_docs CROSS JOIN range(10)").collect()
      }
      b.layer(s"expressions.$f.rows_per_s", N * 10 / (ms / 1000), "rows/s")
    }
    docs.unpersist()
  }
}
