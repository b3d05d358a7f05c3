package graft

import org.apache.spark.sql.functions._

/** Round-11 additions: residual-aware batch serving, deferred
  * first-wave training for the streaming IVF-PQ maintainer, the SQL
  * IVF-PQ serving leg, and the round's new gates.
  */
class Round11Spec extends SparkSpec {

  test("IvfPqIndexStore.searchBatch honors the residual brand (≡ search)") {
    import graft.sources.IvfPqIndexStore
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("ivfpqres_batch").toString
    val store = s"$base/res"
    IvfPqIndexStore.write(emb, "vec_id", "embedding", store, byResidual = true)
    assert(IvfPqIndexStore.isResidual(store))
    val q = emb.filter(col("vec_id") < 5)
    val single = IvfPqIndexStore.search(spark, store, q, "vec_id", "embedding", 5)
      .orderBy("query_id", "rnk").collect().map(_.toString)
    val batch = IvfPqIndexStore.searchBatch(spark, store, q, "vec_id", "embedding", 5)
      .orderBy("query_id", "rnk").collect().map(_.toString)
    assert(single.nonEmpty)
    assert(batch.sameElements(single),
      "batch serving must build residual ADC tables on a residual-branded store")
    // and the residual tables genuinely differ from raw ones: a RAW
    // store over the same data must NOT rank identically everywhere
    // (else the brand branch is untestable dead code)
    val rawStore = s"$base/raw"
    IvfPqIndexStore.write(emb, "vec_id", "embedding", rawStore,
      ivfModel = Some(graft.sources.IvfIndexStore.readCentroids(spark, store)))
    val raw = IvfPqIndexStore.searchBatch(spark, rawStore, q, "vec_id", "embedding", 5)
      .orderBy("query_id", "rnk").collect().map(_.toString)
    assert(!raw.sameElements(batch),
      "raw-store batch results should differ from residual-store results")
  }

  /** Max parquet files in any leaf dir of a (possibly partitioned)
    * store layout — what compactIfNeeded's budget bounds.
    */
  private def maxLeafFiles(path: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.listFiles().exists(d => d.isDirectory && d.getName.contains("=")))
        f.listFiles().filter(d => d.isDirectory && d.getName.contains("=")).toSeq
          .flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path))
      .map(_.listFiles().count(x => x.isFile && x.getName.endsWith(".parquet")))
      .max
  }

  test("runMaxsimIngest: auto-compaction bounds file debt, search unchanged") {
    import graft.sources.MaxsimStore
    val base = java.nio.file.Files.createTempDirectory("maxsim_ac").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/idx")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    for (w <- 0 to 2) {
      docs.filter(col("doc_id") % 3 === w).write.mode("append").parquet(src)
      graft.streaming.EventStreams.runMaxsimIngest(spark, src, ckpt, store,
        autoCompactMaxFiles = Some(2))
    }
    assert(maxLeafFiles(store) <= 2,
      s"file budget violated after 3 waves: ${maxLeafFiles(store)} > 2")
    MaxsimStore.write(docs, s"$base/one")
    val q = docs.filter(col("doc_id") < 3)
    assert(MaxsimStore.search(spark, store, q, 5).collect().map(_.toString).sorted
      .sameElements(MaxsimStore.search(spark, s"$base/one", q, 5)
        .collect().map(_.toString).sorted),
      "compacted streamed store must serve exactly as the batch build")
  }

  test("runPhashIngest: auto-compaction bounds file debt, radius search unchanged") {
    import spark.implicits._
    import graft.sources.BqIndexStore
    val payloads = (0L until 9L)
      .map(id => (id, operators.ImageDecode.syntheticPng(16, 16, (31 * id + 5).toInt)))
      .toDF("doc_id", "payload")
    val base = java.nio.file.Files.createTempDirectory("phash_ac").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/mih")
    for (w <- 0 to 2) {
      payloads.filter(col("doc_id") % 3 === w).write.mode("append").parquet(src)
      graft.streaming.EventStreams.runPhashIngest(spark, src, ckpt, store,
        autoCompactMaxFiles = Some(2))
    }
    assert(maxLeafFiles(store) <= 2,
      s"file budget violated after 3 waves: ${maxLeafFiles(store)} > 2")
    val codes = operators.ImagePipeline.phashFromFrame(
        operators.ImageDecode.pixelFrame(payloads, "doc_id", "payload"))
      .select(col("doc_id").as("id"),
        col("phash").bitwiseAND(lit(4294967295L)).as("code_lo"),
        shiftrightunsigned(col("phash"), 32).as("code_hi"))
    BqIndexStore.appendMihCodes(codes, s"$base/batch")
    val q = codes.select(col("id").as("query_id"),
      col("code_lo").bitwiseXOR(lit(0x13L)).as("qlo"), col("code_hi").as("qhi"))
    def res(p: String) = BqIndexStore.searchRadius(spark, p, q, radius = 7)
      .collect().map(_.toString).sorted
    assert(res(store).sameElements(res(s"$base/batch")),
      "compacted streamed MIH store must answer radius probes as the batch build")
    assert(res(store).nonEmpty)
  }

  test("runEmbedIngest: auto-compaction bounds the flat code table, search unchanged") {
    import graft.operators.BatchInference.Md5EmbedLoader
    import graft.sources.PqIndexStore
    val base = java.nio.file.Files.createTempDirectory("embed_ac").toString
    val (src, ckpt, idx) = (s"$base/in", s"$base/ckpt", s"$base/idx")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val loader = new Md5EmbedLoader(64)
    // wave 1 must carry the doc_id<500 training prefix → range split
    val cuts = Seq(0L -> 40L, 40L -> 50L, 50L -> 60L)
    for ((lo, hi) <- cuts) {
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .write.mode("append").parquet(src)
      graft.streaming.EventStreams.runEmbedIngest(spark, src, ckpt, idx, loader,
        autoCompactMaxFiles = Some(2))
    }
    assert(maxLeafFiles(s"$idx.codes") <= 2,
      s"flat code table over budget: ${maxLeafFiles(s"$idx.codes")} > 2")
    // batch twin with the SAME books (frozen-model appends make the
    // streamed store's codes equal to one encode pass over the union)
    val all = graft.operators.BatchInference
      .embedStage(docs.filter(col("doc_id") < 60), "payload", loader)
    PqIndexStore.write(all, "doc_id", "embedding", s"$base/one",
      model = Some(PqIndexStore.readBooks(spark, idx)))
    val q = graft.operators.BatchInference.embedStage(
      docs.filter(col("doc_id") === 0), "payload", loader)
      .select(col("doc_id"), col("embedding"))
    def res(p: String) = PqIndexStore.search(spark, p, q, "doc_id", "embedding", 5)
      .collect().map(_.toString).sorted
    assert(res(idx).sameElements(res(s"$base/one")),
      "compacted streamed PQ index must search exactly as the batch build")
  }

  test("v_sql_store_ivfpq: live DPP, scan reads exactly the probed lists (both flavors)") {
    for ((name, fn) <- Seq(
        "v_sql_store_ivfpq" -> (operators.Knn.vSqlStoreIvfPq _),
        "v_sql_store_ivfpq_res" -> (operators.Knn.vSqlStoreIvfPqRes _),
        "v_sql_store_ivfbq" -> (operators.Knn.vSqlStoreIvfBq _))) {
      val sfx = name.stripPrefix("v_sql_store_").replace("_res", "res")
      val df = fn(spark, sf)
      // live in the FINALIZED plan: the probe CTE is exchange-free by
      // construction (array ops, no window), so AQE broadcast reuse
      // holds and the cid-partitioned code scan prunes AT RUNTIME
      assertLiveDpp(df, name)
      // and EFFECTIVE: partitions-read == the probe set's distinct
      // list count, independently recomputed (equality, not <, so the
      // metric is pinned to the probe values even when tiny sf covers
      // every list)
      val probedDistinct = spark.sql(s"""
        SELECT COUNT(DISTINCT pcid) FROM (
          SELECT explode(transform(slice(array_sort(transform(cp.cents,
              c -> struct(-ROUND(graft_dot(qv, c.cv) / (graft_norm(qv) * graft_norm(c.cv)), 6) AS nsim,
                          c.cid AS cid))), 1, ${operators.Knn.IvfNprobe}),
            s -> s.cid)) AS pcid
          FROM (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv
                FROM graft_sql_emb_$sfx
                WHERE vec_id < ${operators.Knn.NumQueries}) q
          CROSS JOIN graft_store_${sfx}_cents cp)""").collect()(0).getLong(0)
      val read = dppScanPartitionsRead(df)
      assert(read.nonEmpty,
        s"$name: no executed scan carries a dynamic pruning partition filter")
      assert(read.forall(_ == probedDistinct),
        s"$name: DPP scan read $read list partitions; the probe set covers " +
          s"$probedDistinct — the scan must read exactly the probed lists")
    }
  }

  test("v_sql_store_annmp: live DPP over band0, scan reads exactly the probed buckets") {
    val df = operators.Knn.vSqlStoreAnnMp(spark, sf)
    assertLiveDpp(df, "v_sql_store_annmp")
    // independent probe-set recompute: band0 from first principles
    // (hyperplaneSign + HALF_UP quantize — the banding the store and
    // the SQL statement must both reproduce), probes = own bucket + 4
    // single-bit flips over the 10 queries
    val qs = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < operators.Knn.NumQueries)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    def band0(v: Array[Double]): Int = {
      val vq = v.map(x => BigDecimal(x * 1000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      (0 until 4).map { j =>
        val dot = vq.indices.map(d =>
          graft.functions.HashFns.hyperplaneSign(j, d + 1) * vq(d)).sum
        if (dot > 0) 1 << j else 0
      }.sum
    }
    val probed = qs.flatMap { v =>
      val b = band0(v); Seq(b, b ^ 1, b ^ 2, b ^ 4, b ^ 8)
    }.distinct.length.toLong
    val read = dppScanPartitionsRead(df)
    assert(read.nonEmpty, "no executed scan carries a dynamic pruning partition filter")
    assert(read.forall(_ == probed),
      s"DPP scan read $read band partitions; the probe set covers $probed")
  }

  test("maximal-span excision: overlapping spans merge, short duplicates survive") {
    import spark.implicits._
    // a 10-word duplicated PASSAGE (six overlapping bad 5-gram starts
    // merge into one maximal span of length 10 >= 8) and an isolated
    // duplicated 5-gram (length 5 < 8 — must SURVIVE the floor, the
    // behavior that distinguishes this from d_span_excise)
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    val short5 = "s1 s2 s3 s4 s5"
    val docs = Seq(
      (1L, s"keeper intro $passage keeper tail $short5"),
      (2L, s"other opening $passage closing words"),
      (3L, s"unrelated body holding $short5 and nothing else dup"),
      (4L, "totally unique text with no shared span at all here")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.spanExciseMax(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    // keeper (doc 1) keeps everything
    assert(out(1L).getLong(2) == 0 && out(1L).getLong(3) == 0,
      "keeper must keep its copy of every span")
    // doc 2 loses exactly the 10-word passage as ONE maximal span
    assert(out(2L).getLong(2) == 1, s"expected 1 maximal span, got ${out(2L).getLong(2)}")
    assert(out(2L).getLong(3) == 10,
      s"the merged maximal span covers 10 words, removed ${out(2L).getLong(3)}")
    // doc 3's isolated duplicated 5-gram is BELOW the floor: untouched
    assert(out(3L).getLong(2) == 0 && out(3L).getLong(3) == 0,
      "an isolated duplicated 5-gram is below the length floor and must survive")
    // while the fixed-granularity excision WOULD have removed it
    val fixed = graft.operators.Dedup.spanExcise(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fixed(3L) == 5,
      "sanity: fixed-granularity excision removes the short duplicate (the floor is the difference)")
    // doc 2's rewritten text is exactly the passage-free original
    val expect = docs.sparkSession.createDataFrame(Seq(
      Tuple1("other opening closing words"))).toDF("t")
      .select(org.apache.spark.sql.functions.md5(col("t").cast("binary")))
      .collect()(0).getString(0)
    assert(out(2L).getString(4) == expect, "rewritten text must drop only the passage")
  }

  test("clustered corpus: the quality gates discriminate where isotropic ties") {
    import graft.operators.{Dedup, Knn}
    val clu = sf + Knn.ClusteredSuffix
    // the headline separation the residual tier was built for: faiss's
    // by_residual default WINS when the coarse quantizer explains real
    // cluster structure (isotropic corpus measured an exact 13=13 tie)
    val res = Knn.vIvfPqResRecall(spark, clu).collect()
    val resHits = res.map(_.getAs[Long]("hits")).sum
    val rawHits = res.map(_.getAs[Long]("raw_hits")).sum
    assert(resHits > rawHits,
      s"residual IVF-PQ must beat raw encoding on clustered data ($resHits vs $rawHits)")
    // blocking recall: near pairs now exist, and the banded LSH must
    // catch them — clustered recall strictly above the honest
    // isotropic number (0.26–0.40)
    val dcRecall = Dedup.dEmbedRecall(spark, clu).collect()(0).getAs[Double]("recall")
    val isoRecall = Dedup.dEmbedRecall(spark, sf).collect()(0).getAs[Double]("recall")
    assert(dcRecall > isoRecall,
      s"clustered blocking recall ($dcRecall) must exceed isotropic ($isoRecall)")
    assert(dcRecall >= 0.9,
      s"same-cluster pairs are near by construction; recall should clear 0.9, got $dcRecall")
    // and the clustered frame itself is genuinely clustered: vectors
    // sharing a center are closer than vectors across centers
    val cc = Knn.corpus(spark, clu).select(col("vec_id"), col("v"), col("nrm")).limit(64)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val same = for (a <- cc; b <- cc
      if a._1 < b._1 && a._1 % Knn.CluCenters == b._1 % Knn.CluCenters)
      yield cos(a._2, b._2)
    val diff = for (a <- cc; b <- cc
      if a._1 < b._1 && a._1 % Knn.CluCenters != b._1 % Knn.CluCenters)
      yield cos(a._2, b._2)
    assert(same.min > diff.max,
      s"cluster separation must be clean: min same-cluster cosine ${same.min} " +
        s"<= max cross-cluster ${diff.max}")
    // SemDeDup rediscovers the planted structure: the multiprobe edges
    // + components collapse the corpus to exactly the 8 mixture
    // components (one keeper each)
    val sem = Dedup.dSemdedup(spark, clu)
      .select("component").distinct().count()
    assert(sem == Knn.CluCenters,
      s"SemDeDup should find the $sem planted components, expected ${Knn.CluCenters}")
    // and coarse pruning is LOSSLESS when the quantizer explains the
    // structure: every exact neighbor lives in the query's own list
    val ivfClu = Knn.vIvfRecall(spark, clu).collect().map(_.getAs[Double]("recall"))
    assert(ivfClu.forall(_ == 1.0),
      s"clustered IVF recall must be 1.0 per query, got ${ivfClu.mkString(",")}")
  }

  test("IvfPqIndexStore: the residual brand round-trips through the model file") {
    // one brand representation: the model file's by_residual tensor
    // serves the Scala API (isResidual) and the SQL leg's brand view
    import graft.sources.{IvfPqIndexStore, ModelFile}
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .filter(col("vec_id") < 100)
    val base = java.nio.file.Files.createTempDirectory("brand_agree").toString
    for ((flavor, res) <- Seq("raw" -> false, "res" -> true)) {
      val p = s"$base/$flavor"
      IvfPqIndexStore.write(emb, "vec_id", "embedding", p, byResidual = res)
      assert(IvfPqIndexStore.isResidual(p) == res, s"$flavor: isResidual mismatch")
      val brand = graft.operators.Safetensors.read(ModelFile.pathOf(p))("by_residual")
      assert(brand.shape == Seq(1L) && brand.toIntArray.toSeq == Seq(if (res) 1 else 0),
        s"$flavor: the model file must hold by_residual=$res")
      GraftSession.sqlModel(spark, p, "by_residual" -> "graft_brand_probe")
      val view = spark.table("graft_brand_probe").collect()
      assert(view.length == 1 && view(0).getBoolean(0) == res,
        s"$flavor: the SQL brand view must read by_residual=$res")
    }
  }

  test("runIvfPqIngest: multi-micro-batch first wave still trains on the whole wave") {
    import graft.sources.IvfPqIndexStore
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("ivfpq_mb").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/ivfpq")
    // wave 1 lands as FOUR source files and maxFilesPerTrigger=1 forces
    // four micro-batches: training must still see the whole wave (the
    // old per-batch write() would freeze models over the first file)
    emb.filter(col("vec_id") < 125).write.parquet(src)
    emb.filter(col("vec_id") >= 125 && col("vec_id") < 250)
      .write.mode("append").parquet(src)
    graft.streaming.EventStreams.runIvfPqIngest(spark, src, ckpt, store,
      maxFilesPerTrigger = Some(1))
    assert(!new java.io.File(s"$store.trainstage").exists(),
      "training stage must be cleaned up once the models land")
    // wave 2 appends with the frozen models
    emb.filter(col("vec_id") >= 250).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runIvfPqIngest(spark, src, ckpt, store,
      maxFilesPerTrigger = Some(1))
    // batch twin: one write over ALL of wave 1, TRAINING ITS OWN models
    // (deterministic Lloyd — if the maintainer had trained on a partial
    // wave, the models and hence the rankings would diverge here)
    val batchStore = s"$base/batch"
    IvfPqIndexStore.write(emb.filter(col("vec_id") < 250), "vec_id", "embedding",
      batchStore)
    IvfPqIndexStore.append(emb.filter(col("vec_id") >= 250), "vec_id", "embedding",
      batchStore)
    val q = emb.filter(col("vec_id") < 3)
    def res(p: String) = IvfPqIndexStore.search(spark, p, q, "vec_id", "embedding", 3)
      .orderBy("query_id", "rnk").collect().map(_.toString)
    assert(res(store).nonEmpty)
    assert(res(store).sameElements(res(batchStore)),
      "micro-batched first wave must train once over the whole wave")
  }
}
