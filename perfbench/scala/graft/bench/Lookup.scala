package graft.bench

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.sources.{IndexStore, IvfIndexStore, IvfPqIndexStore, PqIndexStore, StoreMaintenance}

/** Persisted vector stores over one seeded corpus, the similar-case
  * lookup against them (search → metadata sidecar → label vote), and the
  * driver-side reference the answers are checked against.
  */
final class VectorStores(val b: Bench, val g: VecGen, val n: Long, val dir: String) {
  val spark: SparkSession = b.spark
  import spark.implicits._

  val flat = s"$dir/flat"
  val ivf = s"$dir/ivf"
  val ivfpq = s"$dir/ivfpq"
  val K = 5

  // driver-side copy of the corpus for the reference answers
  val vecs = scala.collection.mutable.LongMap[Array[Double]]()
  val norms = scala.collection.mutable.LongMap[Double]()
  def addRef(id: Long, v: Array[Double]): Unit = { vecs(id) = v; norms(id) = Exact.norm(v) }

  def corpusFrame(from: Long, until: Long): DataFrame = {
    val gen = g
    val rows = spark.sparkContext.parallelize(from until until, b.cores)
      .map(i => Row(i, gen.vector(i).toSeq, gen.label(i), s"case-$i"))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false),
      StructField("case_name", StringType, nullable = false))))
  }

  def queryFrame(qs: Seq[(Long, Array[Double])]): DataFrame =
    qs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")

  /** Builds the flat (with metadata sidecar), IVF and IVF-PQ stores; the
    * IVF-PQ store reuses the IVF store's trained coarse quantizer, as a
    * deployment that trains once would. Returns seconds per store.
    */
  def build(): Seq[(String, Double)] = {
    val corpus = corpusFrame(0, n).cache()
    corpus.count()
    def timed(t: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      b.tracer.span(s"sources.$t.write")(body)
      t -> (System.nanoTime() - t0) / 1e9
    }
    val times = Seq(
      timed("flat") {
        IndexStore.write(corpus, "id", "v", flat, g.dim)
        IndexStore.writeMetadata(corpus.select("id", "label", "case_name"), flat)
      },
      timed("ivf")(IvfIndexStore.write(corpus, "id", "v", ivf)),
      timed("ivfpq")(IvfPqIndexStore.write(corpus, "id", "v", ivfpq,
        ivfModel = Some(IvfIndexStore.readCentroids(spark, ivf)))))
    corpus.unpersist()
    times
  }

  def loadRef(): Unit = (0L until n).foreach(i => addRef(i, g.vector(i)))

  /** One tier's top-K for a set of queries: query id → ranked (id, score). */
  def search(tier: String, qs: Seq[(Long, Array[Double])]): Map[Long, Seq[(Long, Double)]] = {
    val q = queryFrame(qs)
    val rows = b.tracer.span(s"sources.$tier.search") {
      val res = tier match {
        case "flat" => IndexStore.search(IndexStore.read(spark, flat), q, "id", "v", K)
        case "lsh" => IndexStore.searchAnnProbed(spark, flat, q, "id", "v", K, g.dim)
        case "ivf" => IvfIndexStore.search(spark, ivf, q, "id", "v", K)
        case "ivfpq" => IvfPqIndexStore.search(spark, ivfpq, q, "id", "v", K)
          .withColumnRenamed("adc_dist", "sim")
      }
      res.select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim").cast("double")).collect()
    }
    rowsByQuery(rows)
  }

  def rowsByQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getLong(0)).map { case (qid, rs) =>
      qid -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
    }

  /** The similar-case lookup: top-K, their metadata, majority label. */
  def lookup(tier: String, qid: Long, v: Array[Double]): (Seq[(Long, Double)], Int) = {
    val hits = search(tier, Seq(qid -> v)).getOrElse(qid, Nil)
    val label = b.tracer.span("lookup.meta_vote") {
      val ids = hits.map(_._1)
      val labels = IndexStore.readMetadata(spark, flat).where(col("id").isin(ids: _*))
        .select("id", "label").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      require(ids.forall(labels.contains),
        s"metadata sidecar lacks ${ids.count(!labels.contains(_))} of ${ids.size} neighbors")
      vote(ids.map(labels))
    }
    (hits, label)
  }

  /** Majority label; ties go to the smaller label. */
  def vote(labels: Seq[Int]): Int =
    -labels.groupBy(identity).map { case (l, xs) => (xs.size, -l) }.max._2

  def exact(v: Array[Double]): Seq[(Long, Double)] =
    Exact.topK(v, vecs.keysIterator, vecs(_), norms(_), K)
}

/** `lookup`: the paper's Stage 2 against already-built stores. A single
  * closed-loop client sends one-vector lookups over a seeded tier mix;
  * every fifth request is a 100-query IVF batch search instead.
  */
final class LookupWorkload(b: Bench) extends Workload {
  val N = 10000L
  // many small clusters, so the 8 IVF lists hold similar shares of the
  // corpus under every seed and the Zipf-hot clusters do not make one
  // seed's requests much heavier than another's
  val Clusters = 256
  val Tiers = Seq("flat", "lsh", "ivf", "ivfpq")
  val BatchEvery = 5
  val BatchSize = 100
  val RecallQueries = 40
  val traceBlock = 4
  private var st: VectorStores = _
  private var cents: Array[(Int, Array[Double])] = _
  private val cidOf = scala.collection.mutable.LongMap[Int]()
  private val writeTimes = scala.collection.mutable.ArrayBuffer[Seq[(String, Double)]]()

  def setup(round: Int): Unit = {
    st = new VectorStores(b, VecGen(b.opts.seed, Clusters), N, s"${b.opts.work}/lookup-$round")
    writeTimes += st.build()
    b.inputs("corpus_rows") = N
    b.inputs("dim") = st.g.dim
  }

  val mainKind = "lookup"

  def warmUp(): Unit = {
    st.loadRef()
    cents = IvfIndexStore.readCentroids(b.spark, st.ivf)
    st.vecs.foreach { case (id, v) => cidOf(id) = Exact.assign(v, st.norms(id), cents) }
    // two rounds of every request shape: the first runs of each plan
    // shape still pay code generation and JIT warm-up
    val qg = new QueryGen(st.g, N, 99)
    for (_ <- 0 until 2) {
      Tiers.foreach(t => st.lookup(t, 2000000000L, qg.next()))
      batch((0 until BatchSize).map(i => (2000000001L + i, qg.next())))
    }
  }

  /** Reference answer of the IVF tier: exact top-K inside the probed lists. */
  private def exactIvf(v: Array[Double]): Seq[(Long, Double)] = {
    val probed = Exact.probes(v, cents, graft.operators.Knn.IvfNprobe)
    Exact.topK(v, st.vecs.keysIterator.filter(id => probed(cidOf(id))), st.vecs(_), st.norms(_), st.K)
  }

  private def batch(qs: Seq[(Long, Array[Double])]): Map[Long, Seq[(Long, Double)]] =
    st.rowsByQuery(b.tracer.span("sources.ivf.search_batch") {
      IvfIndexStore.searchBatch(b.spark, st.ivf, st.queryFrame(qs), "id", "v", st.K)
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim")).collect()
    })

  def run(deadlineNs: Long): Unit = {
    val qg = new QueryGen(st.g, N, b.opts.seed)
    var order = Seq.empty[String]
    var qid = 1000000000L
    b.timedLoop(deadlineNs) { i =>
      if (i % BatchEvery == BatchEvery - 1) {
        val qs = (0 until BatchSize).map { _ => qid += 1; (qid, qg.next()) }
        b.op("batch", "ivf", traceBlock)(batch(qs)).foreach { got =>
          qs.find { case (id, v) => got.getOrElse(id, Nil) != exactIvf(v) }
            .foreach { case (id, _) => b.wrong(b.ops.size - 1, s"batch query $id differs from the IVF reference") }
        }
      } else {
        if (order.isEmpty) order = Tiers.sortBy(_ => qg.nextInt(1 << 20))
        val tier = order.head
        order = order.tail
        qid += 1
        val v = qg.next()
        b.op("lookup", tier, traceBlock)(st.lookup(tier, qid, v))
          .foreach { case (hits, label) => checkLookup(b.ops.size - 1, tier, v, hits, label) }
      }
    }
  }

  private def checkLookup(opId: Int, tier: String, v: Array[Double], hits: Seq[(Long, Double)], label: Int): Unit =
    tier match {
      case "flat" =>
        val want = st.exact(v)
        if (hits != want) b.wrong(opId, s"flat top-5 $hits != reference $want")
        else if (label != st.vote(want.map(h => st.g.label(h._1))))
          b.wrong(opId, s"label vote $label disagrees with the reference")
      case "ivf" =>
        val want = exactIvf(v)
        if (hits != want) b.wrong(opId, s"ivf top-5 $hits != reference $want")
      case _ =>
        if (hits.map(_._1).distinct.size != st.K || !hits.forall(h => st.vecs.contains(h._1)))
          b.wrong(opId, s"$tier returned $hits, not ${st.K} distinct corpus ids")
    }

  /** Recall@5 of each ANN tier against exact top-5 on a fixed seeded
    * query set, so it is a pure function of the seed.
    */
  private def recall(): Map[String, Double] = {
    val qg = new QueryGen(st.g, N, -b.opts.seed - 1)
    val qs = (0 until RecallQueries).map(i => (1500000000L + i, qg.next()))
    val want = qs.map { case (id, v) => id -> st.exact(v).map(_._1).toSet }.toMap
    Seq("lsh", "ivf", "ivfpq").map { t =>
      val got = st.search(t, qs)
      t -> Stats.mean(qs.map { case (id, _) =>
        got.getOrElse(id, Nil).map(_._1).count(want(id)).toDouble / st.K })
    }.toMap
  }

  def finish(): Unit = {
    b.phase("check")
    val rec = recall()
    // floors well below the seeds' values: a tier under its floor is broken, not fast
    Seq("lsh" -> 0.6, "ivf" -> 0.6, "ivfpq" -> 0.2).foreach { case (t, floor) =>
      b.check(rec(t) >= floor, f"$t recall@5 ${rec(t)}%.3f is below its floor $floor")
    }
    val lookups = b.okMs("lookup")
    val batches = b.okMs("batch")
    b.check(lookups.nonEmpty, "no lookup completed")
    b.check(batches.nonEmpty, "no batch request completed")
    // the tier mix of a short run varies with the seed, and the tiers'
    // latencies differ by ~2x, so the median is taken per tier and averaged
    val perTier = Tiers.map(t => b.okMs("lookup", t)).filter(_.nonEmpty)
    if (perTier.nonEmpty) b.e2e("op_p50_ms", Stats.mean(perTier.map(Stats.median)), "ms")
    if (lookups.nonEmpty) b.layer("op_p90_ms", Stats.quantile(lookups, 0.9), "ms")
    if (batches.nonEmpty) b.e2e("work_per_s", BatchSize / (Stats.median(batches) / 1000), "1/s")
    rec.foreach { case (t, r) => b.layer(s"lookup.recall_at_5.$t", r, "ratio") }
    for (t <- Seq("flat", "ivf", "ivfpq"))
      b.layer(s"sources.$t.write_s", Stats.median(writeTimes.map(_.toMap.apply(t)).toSeq), "s")
    if (b.opts.trace) traced()
  }

  /** Per-layer numbers only a traced run gathers. */
  private def traced(): Unit = {
    val lk = b.ops.filter(o => o.ok && o.kind == "lookup").toSeq
    for (t <- Tiers) {
      val os = lk.filter(_.tier == t)
      b.layer(s"spark.jobs_per_lookup.$t", Layers.medianOf(os.map(o => b.opJobs(o.id).jobs.toDouble)), "count")
      b.layer(s"spark.input_rows_per_lookup.$t",
        Layers.medianOf(os.map(o => b.opJobs(o.id).inputRecords.toDouble)) / st.K, "rows/result")
      b.layer(s"sources.$t.search_ms", Layers.spanP50(b, s"sources.$t.search", os), "ms")
    }
    b.layer("spark.job_ms_per_lookup", Layers.medianOf(lk.map(o => b.opJobs(o.id).jobMs)), "ms")
    b.layer("spark.driver_gap_ms_per_lookup", Layers.medianOf(lk.map(b.driverGapMs)), "ms")
    b.layer("lookup.meta_vote_ms", Layers.spanP50(b, "lookup.meta_vote", lk), "ms")
    // a batch op is the searchBatch call alone, so every batch op counts
    b.layer("sources.ivf.search_batch_ms", Layers.medianOf(b.okMs("batch")), "ms")
    // the model-sidecar reads every compressed-store search opens with
    b.layer("sources.ivf.read_centroids_ms",
      Layers.probe(b, "sources.ivf.read_centroids")(IvfIndexStore.readCentroids(b.spark, st.ivf)), "ms")
    b.layer("sources.pq.read_books_ms",
      Layers.probe(b, "sources.pq.read_books")(PqIndexStore.readBooks(b.spark, st.ivfpq)), "ms")
    kernels()
    maintenance()
  }

  /** graft_dot / graft_cosine through SQL, over the corpus × 50 queries. */
  private def kernels(): Unit = {
    graft.GraftFunctions.register(b.spark)
    val c = IndexStore.read(b.spark, st.flat).select("id", "v").cache()
    c.count()
    c.createOrReplaceTempView("bench_corpus")
    val qg = new QueryGen(st.g, N, 5)
    st.queryFrame((0 until 50).map(i => (i.toLong, qg.next()))).cache().createOrReplaceTempView("bench_q")
    for (f <- Seq("graft_dot", "graft_cosine")) {
      val ms = Layers.probe(b, s"expressions.$f") {
        b.spark.sql(s"SELECT sum($f(c.v, q.v)) FROM bench_corpus c CROSS JOIN bench_q q").collect()
      }
      b.layer(s"expressions.$f.rows_per_s", N * 50 / (ms / 1000), "rows/s")
    }
    c.unpersist()
  }

  /** StoreMaintenance on the IVF store: seeded appends of 1000 rows with
    * the frozen model, each followed by compactIfNeeded, the row count
    * and a read-your-write lookup checked after every append.
    */
  private def maintenance(): Unit = {
    val appends = 4
    var rows = N
    var inputBytes = N * st.g.dim * 8
    val appendMs, compactMs, jobs, files = scala.collection.mutable.ArrayBuffer[Double]()
    var rewritten = 0L
    for (k <- 0 until appends) {
      val from = N + k * 1000L
      val batch = st.corpusFrame(from, from + 1000).select("id", "v").cache()
      batch.count()
      val before = Layers.dataFiles(st.ivf).toSet
      val opId = b.ops.size
      b.op("append", "ivf", 1) {
        appendMs += Layers.timedMs(b.tracer.span("sources.ivf.append")(IvfIndexStore.append(batch, "id", "v", st.ivf)))
        val live = Layers.dataFiles(st.ivf).map(Files.size).sum
        compactMs += Layers.timedMs(b.tracer.span("sources.compact") {
          StoreMaintenance.compactIfNeeded(b.spark, st.ivf, maxFiles = 4).foreach(_ => rewritten += live)
        })
      }
      batch.unpersist()
      files += (Layers.dataFiles(st.ivf).toSet -- before).size
      jobs += b.opJobs(opId).jobs
      rows += 1000
      inputBytes += 1000L * st.g.dim * 8
      b.phase("check")
      val n = b.spark.read.parquet(st.ivf).count()
      b.check(n == rows, s"IVF store holds $n rows after append $k, expected $rows")
      // read-your-write: an appended vector under a fresh query id comes back top-1 at sim 1.0
      val id = from + 17
      val qid = 3000000000L + k
      val top = st.search("ivf", Seq(qid -> st.g.vector(id))).getOrElse(qid, Nil).headOption
      b.check(top.contains(id -> 1.0), s"read-your-write after append $k: got $top, want ($id, 1.0)")
    }
    b.layer("sources.ivf.append_ms", Stats.median(appendMs.toSeq), "ms")
    b.layer("sources.compact_ms", compactMs.max, "ms")
    b.layer("sources.compact_bytes_rewritten", rewritten.toDouble, "bytes")
    b.layer("spark.jobs_per_append", Stats.median(jobs.toSeq), "count")
    b.layer("spark.files_written_per_append", Stats.median(files.toSeq), "count")
    val parts = Layers.partitionDirs(st.ivf)
    b.layer("sources.files_per_partition",
      parts.map(p => Layers.dataFiles(p.toString).size.toDouble).sum / parts.size, "count")
    b.layer("sources.store_bytes_per_input_byte",
      Layers.treeBytes(st.ivf).toDouble / inputBytes, "ratio")
  }
}
