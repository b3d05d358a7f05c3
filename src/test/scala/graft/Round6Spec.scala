package graft

import org.apache.spark.sql.functions._
import graft.sources.Formats

/** Round-6 invariants: partitioned layout + dynamic partition pruning,
  * and the shared trained-model registry for the ANN paths.
  */
class Round6Spec extends SparkSpec {

  test("src_partitioned: fact scan carries a DynamicPruningExpression") {
    val df = Formats.srcPartitioned(spark, sf)
    // the pruning subquery must be LIVE in the finalized plan — not
    // the dynamicpruningexpression(true) fallback AQE substitutes
    // when it declines to prune
    assertLiveDpp(df, "src_partitioned")
    // and the pruning is effective: the result only contains 1996
    // months even though the fact table holds 1995-2001
    val months = df.select("o_month").distinct().collect().map(_.getString(0))
    assert(months.nonEmpty && months.forall(_.startsWith("1996")))
  }

  test("src_partitioned: partitioned write produces one directory per month") {
    Formats.srcPartitioned(spark, sf).collect() // force the write
    val out = new java.io.File("target").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("roundtrip_part_"))
      .maxBy(_.lastModified)
    val parts = out.listFiles().filter(_.getName.startsWith("o_month="))
    assert(parts.length > 12, s"expected >12 month partitions, got ${parts.length}")
  }

  test("v_pairs_near: result is pair-grid-size invariant (hash-stable conf)") {
    import graft.operators.Knn
    def run(): Array[String] =
      Knn.vPairsNear(spark, sf).collect().map(_.toString)
    val atDefault = run()
    spark.conf.set(Knn.PairGridConf, "7")
    try {
      assert(run().sameElements(atDefault),
        "the grid only partitions the pair space; scores and top-100 must not change")
    } finally spark.conf.unset(Knn.PairGridConf)
  }

  test("embedStageArrow: bit-equal to the row-based embedStage") {
    import graft.operators.BatchInference._
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 30)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .repartition(3)
    val viaRows = embedStage(base, "payload", new Md5EmbedLoader(8), batchSize = 7)
      .select("doc_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaArrow = embedStageArrow(base, "payload", new Md5ArrowEmbedLoader(8), batchSize = 7)
      .select("doc_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(viaArrow.keySet == viaRows.keySet && viaArrow.keySet.size == 30)
    viaArrow.foreach { case (id, v) =>
      assert(v == viaRows(id), s"doc $id: arrow and row paths must agree bit-for-bit")
    }
  }

  test("streaming embed-ingest: wave-2 vectors searchable with no rebuild, no retrain") {
    import graft.operators.BatchInference.Md5EmbedLoader
    import graft.sources.PqIndexStore
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("ingest_stream").toString
    val (src, ckpt, idx) = (s"$base/src", s"$base/ckpt", s"$base/idx")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val loader = new Md5EmbedLoader(64)
    // wave 1: lands 40 docs, trains the codebooks, builds the index
    docs.filter(col("doc_id") < 40).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runEmbedIngest(spark, src, ckpt, idx, loader)
    assert(spark.read.parquet(s"$idx.codes").count() == 40)
    def flatBooks = PqIndexStore.readBooks(spark, idx).toSeq.flatMap(_.toSeq.flatMap(_.toSeq))
    val books1 = flatBooks
    // wave 2: 20 new files in the landing zone; the checkpointed source
    // processes ONLY the delta, and append encodes with frozen books
    docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
      .write.mode("append").parquet(src)
    graft.streaming.EventStreams.runEmbedIngest(spark, src, ckpt, idx, loader)
    assert(spark.read.parquet(s"$idx.codes").count() == 60,
      "wave 2 must add exactly its own code rows")
    assert(flatBooks == books1, "append must not retrain the codebooks")
    // searchable without rebuild: a full ranking from a wave-1 query
    // covers every wave-2 vector
    val q = graft.operators.BatchInference.embedStage(
      docs.filter(col("doc_id") === 0), "payload", loader)
      .select(col("doc_id"), col("embedding"))
    val neighbors = PqIndexStore.search(spark, idx, q, "doc_id", "embedding", 59)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert((40L until 60L).forall(neighbors.contains),
      "every wave-2 vector must rank in the appended index")
  }

  test("round-6 operators are result-identical under cluster-safe materialization") {
    val qs = Seq("v_pq", "v_ivf_pq", "m_pipeline")
    def run(q: String): Array[String] =
      SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted
    val local = qs.map(q => q -> run(q)).toMap
    spark.conf.set(Materialize.ConfKey, "replicated")
    try qs.foreach { q =>
      assert(run(q).sameElements(local(q)),
        s"$q must not change under replicated (cluster-safe) materialization")
    } finally {
      spark.conf.unset(Materialize.ConfKey)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  test("IvfIndexStore: persisted search == v_ivf, frozen-centroid append, file-pruned probes") {
    import graft.sources.IvfIndexStore
    import graft.operators.Knn
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("ivf_store").toString + "/idx"
    IvfIndexStore.write(emb, "vec_id", "embedding", path)
    // searching the persisted lists must reproduce the in-session
    // v_ivf ranking exactly (same deterministic training, same probe
    // formula, same rescoring)
    val queries = emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val viaStore = IvfIndexStore.search(spark, path, queries, "vec_id", "embedding", Knn.DefaultK)
      .collect().map(_.toString).sorted
    val viaQuery = Knn.vIvf(spark, sf).collect().map(_.toString).sorted
    assert(viaStore.sameElements(viaQuery), "persisted-index search must equal v_ivf")
    // probing is file-level: a cid filter reads strictly fewer files
    val allFiles = spark.read.parquet(path).select(input_file_name()).distinct().count()
    val prunedFiles = spark.read.parquet(path).where(col("cid").isin(0, 1))
      .select(input_file_name()).distinct().count()
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"cid filter must prune list directories ($prunedFiles of $allFiles)")
    // append: frozen centroids, new rows land in their lists, sidecar
    // and existing rows untouched, searches immediately cover the union
    val before = spark.read.parquet(path).count()
    val extra = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000).as("vec_id"), reverse(col("embedding")).as("embedding"))
    IvfIndexStore.append(extra, "vec_id", "embedding", path)
    assert(spark.read.parquet(path).count() == before + 20)
    assert(IvfIndexStore.readCentroids(spark, path).length == Knn.IvfClusters,
      "append must not touch the centroid sidecar")
    val after = IvfIndexStore.search(spark, path, queries, "vec_id", "embedding", 1000)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert((1000L until 1020L).exists(after.contains),
      "appended vectors must be reachable by probes with no rebuild")
  }

  test("runtime bloom-filter pruning: selective dim join injects a row-level filter") {
    import org.apache.spark.sql.functions._
    // the row-level sibling of DPP: for a shuffle join against a
    // selective dim, Spark's InjectRuntimeFilter builds a bloom filter
    // from the dim side and applies it to the fact scan side, pruning
    // rows before the shuffle. Thresholds are tuned down to fire on
    // test-sized data; on a cluster the defaults (10MB creation side)
    // apply.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val dim = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_extendedprice"))
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloom"),
        s"expected an injected bloom runtime filter on the fact side; plan:\n$plan")
      assert(joined.collect().head.getLong(0) > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("map-side ADC plan shape: top-k window + ordering are the only exchanges") {
    // regression pin for the r6 ADC rework: encode and scoring are
    // map-side, so v_pq/v_ivf_pq must not re-grow an exploded-code
    // join or a groupBy re-merge (each would add hash exchanges)
    for (q <- Seq("v_pq", "v_ivf_pq")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.write.format("noop").mode("overwrite").save() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange (hash|range|RoundRobin|SinglePartition)".r
        .findAllIn(plan).size
      assert(exchanges <= 2,
        s"$q should shuffle only for the top-k window (+ final ordering), got $exchanges:\n$plan")
    }
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("IvfIndexStore.searchBatch: DPP-pruned probe, result-equal to the collect path") {
    import graft.sources.IvfIndexStore
    import graft.operators.Knn
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("ivf_dpp").toString + "/idx"
    IvfIndexStore.write(emb, "vec_id", "embedding", path)
    val queries = emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val batch = IvfIndexStore.searchBatch(spark, path, queries,
      "vec_id", "embedding", Knn.DefaultK)
    // the distributed-probe plan must prune the list scan dynamically
    // AT RUNTIME (no literal-true fallback in the finalized plan)
    assertLiveDpp(batch, "IvfIndexStore.searchBatch")
    // and be row-for-row identical to the driver-collected probe path
    val viaCollect = IvfIndexStore.search(spark, path, queries,
      "vec_id", "embedding", Knn.DefaultK).collect().map(_.toString).sorted
    assert(batch.collect().map(_.toString).sorted.sameElements(viaCollect))
  }

  test("replicated materialization is a plan barrier and release drops the blocks") {
    import org.apache.spark.sql.functions._
    spark.conf.set(Materialize.ConfKey, "replicated")
    try {
      val df = Tables.documents(spark, sf)
        .select(col("doc_id")).filter(col("doc_id") < 10)
        .transform(Materialize.forceCached)
      // downstream plans must see a leaf (LogicalRDD), not the source
      // relation — without this, iterative supersteps nest their plans
      // exponentially (the d_components replicated-mode OOM)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
        s"replicated forceCached must cut lineage to an RDD leaf; plan:\n$plan")
      assert(!plan.contains("parquet"),
        "the original scan must not be reachable from the truncated plan")
      assert(!spark.sharedState.cacheManager.isEmpty, "blocks must be cached")
      Materialize.release(df)
      assert(spark.sharedState.cacheManager.isEmpty,
        "release must drop the superseded persisted blocks")
    } finally {
      spark.conf.unset(Materialize.ConfKey)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  test("ANN model registry: recall gate reuses the trained model (no second training)") {
    graft.operators.Knn.clearModelCache()
    // first call trains; the gate's internal re-derivation must be
    // hash-identical to the standalone query it evaluates
    val ivf1 = graft.operators.Knn.vIvf(spark, sf).collect()
    val ivf2 = graft.operators.Knn.vIvf(spark, sf).collect()
    assert(ivf1.sameElements(ivf2),
      "cached-model search must be bit-identical to the training run's search")
  }
}
