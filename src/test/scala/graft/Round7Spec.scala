package graft

import org.apache.spark.sql.functions._
import graft.operators.{ImageDecode, ImagePipeline, Knn}
import graft.sources.{IndexStore, IvfIndexStore, StoreMaintenance}

/** Round-7 invariants: bounded-sample IVF training, the SQ8
  * codes-array plan shape, real image decode, store compaction, and
  * the two pruning forms of the persisted IVF index's searches.
  */
class Round7Spec extends SparkSpec {

  test("trainIvf: centroids depend only on the vec_id < IvfTrainSample prefix") {
    // vectors at/after the sample bound get pathological values; a
    // trainer that still scans the full corpus would move every mean
    import spark.implicits._
    val dim = 64
    def vec(seed: Int): Seq[Double] =
      Seq.tabulate(dim)(d => ((seed * 31 + d * 7) % 100) / 100.0 + 0.01)
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
    val garbage = (Knn.IvfTrainSample until Knn.IvfTrainSample + 200)
      .map(i => (i.toLong, Seq.fill(dim)(1e9)))
    def frame(rows: Seq[(Long, Seq[Double])]) =
      rows.toDF("vec_id", "v").withColumn("nrm", sqrt(aggregate(
        col("v"), lit(0.0), (acc, x) => acc + x * x)))
    val onSample = Knn.trainIvf(frame(base))
    val withGarbage = Knn.trainIvf(frame(base ++ garbage))
    assert(onSample.map(_._1).sameElements(withGarbage.map(_._1)))
    onSample.zip(withGarbage).foreach { case ((_, a), (_, b)) =>
      assert(a.sameElements(b),
        "training must ignore rows outside the fixed sample prefix")
    }
  }

  test("v_scalar_quant plan shape: top-k window + ordering are the only exchanges") {
    // regression pin for the r7 codes-array rework: codes are ONE
    // map-side array projection and distance a per-row fold, so the
    // plan must not re-grow the exploded per-dim join + groupBy
    // re-merge (each added hash exchanges) — same pin as the PQ ADC one
    val df = SparkEntry.queries("v_scalar_quant")(spark, sf)
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range|RoundRobin|SinglePartition)".r
      .findAllIn(plan).size
    assert(exchanges <= 2,
      s"v_scalar_quant should shuffle only for the top-k window (+ final ordering), got $exchanges:\n$plan")
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("hadamardCol: orthonormal — rotation preserves norms and inner products") {
    import spark.implicits._
    val vecs = Seq.tabulate(4)(s =>
      (s.toLong, Seq.tabulate(64)(d => ((s * 31 + d * 7) % 100) / 100.0 - 0.4)))
      .toDF("vec_id", "v")
    val rot = vecs.select(col("vec_id"), Knn.hadamardCol(col("v")).as("r"), col("v"))
    def dot(a: String, b: String) =
      aggregate(zip_with(col(a), col(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val rows = rot.select(dot("v", "v").as("n0"), dot("r", "r").as("n1")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
      s"rotation must preserve the norm: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
    // pairwise inner products preserved too (full orthonormality)
    val a = rot.select(col("vec_id").as("ia"), col("v").as("va"), col("r").as("ra"))
    val b = rot.select(col("vec_id").as("ib"), col("v").as("vb"), col("r").as("rb"))
    a.join(b, col("ia") < col("ib"))
      .select(dot("va", "vb").as("d0"), dot("ra", "rb").as("d1"))
      .collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
    // and the O(d log d) butterfly computes the SAME rotation as the
    // direct O(d²) row-sum form (up to fp reassociation)
    Knn.withHadamard(vecs, "v", "bf")
      .select(col("vec_id"), col("bf"), Knn.hadamardCol(col("v")).as("dr"))
      .collect().foreach { r =>
        val bf = r.getSeq[Double](1); val dr = r.getSeq[Double](2)
        bf.zip(dr).foreach { case (x, y) =>
          assert(math.abs(x - y) < 1e-9, s"butterfly $x vs direct $y") }
      }
  }

  test("ImageDecode: PNG payload → pixel frame → γ-LUT over a bbox crop, integer-exact") {
    import spark.implicits._
    val (w, h) = (8, 6)
    val imgs = Seq((1L, ImageDecode.syntheticPng(w, h, seed = 10)),
      (2L, ImageDecode.syntheticPng(w, h, seed = 100))).toDF("doc_id", "payload")
    val frame = ImageDecode.pixelFrame(imgs, "doc_id", "payload")
    assert(frame.count() === 2L * w * h)
    // decoded values equal the generator's formula (gray(v,v,v) == v)
    val lut = ImagePipeline.gammaLut()
    val got = frame
      .filter(col("x") >= 2 && col("x") < 5 && col("y") >= 1 && col("y") < 4) // bbox crop
      .withColumn("g", element_at(typedLit(lut.toSeq), col("px") + 1))
      .groupBy("doc_id")
      .agg(sum("g").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    def expected(seed: Int): Long =
      (for (y <- 1 until 4; x <- 2 until 5)
        yield lut((seed + 7 * y + 13 * x) % 256).toLong).sum
    assert(got === Array((1L, expected(10), 9L), (2L, expected(100), 9L)))
  }

  test("StoreMaintenance.compact: file count drops after appends, search hash unchanged") {
    val emb = Tables.embeddings(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("compact").toString + "/idx"
    val first = emb.filter(col("vec_id") < 200)
    IndexStore.write(first, "vec_id", "embedding", path, dim = 64)
    for (lo <- Seq(200, 300, 400)) // 3 incremental appends → small files
      IndexStore.append(
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 100),
        "vec_id", "embedding", path, dim = 64)
    val queries = emb.filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
    def result(): Array[String] =
      IndexStore.search(IndexStore.read(spark, path), queries, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rnk").collect().map(_.toString)
    val beforeRes = result()
    val (before, after) = StoreMaintenance.compact(spark, path)
    assert(after < before, s"compaction should shrink file count, got $before -> $after")
    assert(result().sameElements(beforeRes),
      "compaction must not change search results")
  }

  test("trainIvf / trainPqBooks: ids they cannot sample fail on the driver, asking for a model") {
    val emb = Tables.embeddings(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("train_ids").toString
    def refused(what: String)(write: => Unit): String = {
      val e = intercept[IllegalArgumentException](write)
      assert(e.getMessage.contains("pass a trained model") && e.getMessage.contains("model ="),
        s"$what: ${e.getMessage}")
      e.getMessage
    }
    // string ids: refused from the schema, before any Spark job
    val str = emb.withColumn("vec_id", concat(lit("v"), col("vec_id")))
    for ((what, write) <- Seq[(String, () => Unit)](
        "ivf" -> (() => IvfIndexStore.write(str, "vec_id", "embedding", s"$base/ivf_str")),
        "pq" -> (() => graft.sources.PqIndexStore.write(str, "vec_id", "embedding", s"$base/pq_str")))) {
      var msg = ""
      assert(countJobs { msg = refused(s"$what string ids")(write()) } == 0)
      assert(msg.contains("string"), msg)
    }
    // ids from 1000 on: an empty seed (the IVF write used to fail in
    // analysis, the PQ one with an index out of bounds)
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1000)
    refused("ivf shifted")(IvfIndexStore.write(shifted, "vec_id", "embedding", s"$base/ivf_sh"))
    refused("pq shifted")(
      graft.sources.PqIndexStore.write(shifted, "vec_id", "embedding", s"$base/pq_sh"))
    // ids from 5 on: PQ seeds 11 of its 16 codes, IVF 3 of its 8 lists
    val short = emb.withColumn("vec_id", col("vec_id") + 5)
    assert(refused("pq short seed")(graft.sources.PqIndexStore.write(
      short, "vec_id", "embedding", s"$base/pq_short")).contains("found 11 of the 16"))
    assert(refused("ivf short seed")(IvfIndexStore.write(
      short, "vec_id", "embedding", s"$base/ivf_short")).contains("found 3 of the 8"))
  }

  test("IvfIndexStore: searchBatch prunes with DPP, search with a static IN list") {
    val emb = Tables.embeddings(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("ivf_route").toString + "/idx"
    IvfIndexStore.write(emb, "vec_id", "embedding", path,
      model = Some(Knn.trainIvf(
        emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))))))
    // a query TABLE (200 rows; a filter on the probe side is what
    // makes DPP worthwhile AND what Spark's PartitionPruning rule
    // requires to insert the pruning subquery)
    val bulk = emb.filter(col("vec_id") < 200).select(col("vec_id"), col("embedding"))
    val batch = IvfIndexStore.searchBatch(spark, path, bulk, "vec_id", "embedding", k = 3)
    assertLiveDpp(batch, "IvfIndexStore.searchBatch (bulk query table)")
    // search collects the same set: the scan's partition filters carry
    // the literal probed-cid IN list (Spark may stack a DPP expression
    // on top — harmless, both prune)
    val static = IvfIndexStore.search(spark, path, bulk, "vec_id", "embedding", k = 3)
    val staticPlan = static.queryExecution.executedPlan.toString.toLowerCase
    assert("cid#\\d+ in \\(".r.findFirstIn(staticPlan).isDefined,
      s"search must keep the literal static IN partition filter; plan:\n$staticPlan")
    // the two paths agree on every query
    val a = batch.orderBy("query_id", "rnk").collect().map(_.toString)
    val b = static.orderBy("query_id", "rnk").collect().map(_.toString)
    assert(a.length == 600 && a.sameElements(b))
  }

  test("src_zorder: zone-map file skipping prunes files without losing rows") {
    val (agg, kept, total) = graft.sources.Formats.zorderRect(spark, sf)
    assert(total == 16, s"range partitioning should land 16 files, got $total")
    assert(kept < total, s"zone maps should prune the rectangle scan, kept=$kept of $total")
    assert(agg.count() > 0, "rectangle must select rows (else the skip check is vacuous)")
  }

  test("plan budgets: headline queries stay within their shuffle budget") {
    // a regression net over the plans the engine's scale story rests
    // on: each budget is today's count for a representative query of
    // each family — an extra Exchange sneaking into one of these is
    // exactly the class of change that benches fine at sf0.1 and
    // melts at 100 TB. Budgets are per-query (not a global cap) so a
    // failure names the regressed operator.
    val budgets = Map(
      "q1_pricing" -> 2, "q3_topn" -> 1, "q5_multijoin" -> 2,
      "q_salted_join" -> 2, "q_events_hourly" -> 2,
      "q_asof_join" -> 2, "q_range_join" -> 3, "q_sessionize" -> 2,
      "q_percentiles" -> 3, "q_histogram" -> 3,
      "v_knn_exact" -> 2, "v_pq" -> 2, "v_ivf_pq" -> 2, "v_bq" -> 3,
      "v_ivf" -> 2, "v_filtered_store" -> 2,
      "d_minhash_pairs" -> 2, "d_span_dedup" -> 3,
      "d_exact" -> 2, "d_minhash" -> 2, "d_source_cap" -> 3,
      "t_gopher_quality" -> 1, "t_hash_embed" -> 2, "t_tokens" -> 1,
      "t_tfidf" -> 6, "t_curation_pipeline" -> 5,
      "m_decode_lut" -> 2, "src_bucketed" -> 1,
      "q6_forecast" -> 1, "q18_bigorders" -> 2,
      "v_matryoshka" -> 3, "d_url_dedup" -> 2,
      "m_shot_detect" -> 2, "m_audio_resample" -> 2,
      "src_zorder" -> 2, "d_bloom" -> 6,
      "q_merge_cdc" -> 5, "t_dsir" -> 6, "d_minhash_err" -> 4,
      "d_edit_near" -> 4, "m_video_dedup" -> 4, "t_ppl_filter" -> 9,
      "q13_custdist" -> 3, "q15_topsupp" -> 4, "q17_smallqty" -> 3,
      "q22_idle" -> 3, "q_retention" -> 4, "v_bq_range" -> 2,
      "m_decode_phash" -> 7,
      "q2_mincost" -> 5, "q4_priority" -> 2, "q7_volume" -> 4,
      "q8_share" -> 4, "q9_profit" -> 2, "q11_important" -> 4,
      "q12_latemode" -> 2, "q16_suppcnt" -> 4, "q19_disjunct" -> 1,
      "q20_excess" -> 4, "q21_waiting" -> 3,
      "q_bitmap_distinct" -> 3, "q_hll_rollup" -> 5, "q_topk_agg" -> 2,
      // r8 additions: the SQL-only k-NN, learned OPQ, the decode-fed
      // cv2 blur / CenterCrop / empty-branch gates, and the curation
      // stores (their budgets include the store build + report)
      "v_sql_surface2" -> 2, "v_opq_learned" -> 2,
      "m_decode_blur3" -> 3, "m_center_crop" -> 2, "m_detect_empty" -> 2,
      "q_bitmap_store" -> 3, "q_kmv_store" -> 9,
      // r8 second wave: anomaly ranking, the Bloom-pruned join (its
      // budget counts the semi-join's two shuffle_hash exchanges +
      // agg + sort; the bloom probes are all broadcasts), the linear
      // quality classifier, path canonicalization, filtered IVF store
      "q_anomaly" -> 3, "q_bloom_join" -> 4, "t_quality_clf" -> 2,
      "m_meta_paths" -> 1, "v_ivf_filtered" -> 2,
      "v_maxsim" -> 4, "t_bpe_train" -> 1, "q_ewma" -> 3,
      // r9: bilinear preprocess — map-side pixel math, one stats
      // rollup + the presentation sort; multiprobe blocking — the
      // banded frame broadcasts at gate scale, probes are equi-joins
      "m_resize_bilinear" -> 2, "d_embed_multiprobe" -> 1,
      "d_embed_mp_recall" -> 1,
      // r9 serving routes: top-k windows + presentation sorts. r10
      // tightened the IVF SQL route (array-derived probe: the
      // centroid-ranking window's exchange is gone — and has to stay
      // gone, or DPP broadcast reuse breaks) and the PQ SQL route
      // (map-side ADC fold: the corpus-wide GROUP BY re-merge is gone)
      // to the same 2-exchange budget as their Scala twins
      "v_sql_store" -> 2, "v_sql_store_ivf" -> 2, "v_filtered_route" -> 2,
      "v_sql_store_pq" -> 2, "v_sql_store_bq" -> 2,
      // r10 legs: opql = perm-pack global agg + top-k + sort; mrl =
      // coarse top-20 window + rerank top-5 window + sort
      "v_sql_store_opql" -> 3, "v_sql_store_mrl" -> 3,
      "v_ann_store_mp" -> 2,
      // the SQL maxsim's grouped aggregations (distinct query hashes,
      // candidate HAVING, per-qh max, per-pair sum) each shuffle
      "v_sql_store_maxsim" -> 7,
      // t_bpe_apply's plan now CONTAINS the vocab rebuild (base
      // group-by + literal merge replaces — r9: only the merges
      // memoize, a cached cross-query frame would die to Verify's
      // per-dump block cleanup), so its budget counts that shuffle too
      "t_bpe_apply" -> 3, "q_rate_store" -> 3, "d_embed_recall" -> 0,
      "v_maxsim_store" -> 4,
      // r17: the recall gate's exhaustive leg packs per-doc/per-query
      // vector SETS (two grouped packs + a width-pinning spread + the
      // top-k window) and scores each pair in one compiled expression —
      // the budget rises 10 → 12 but the two exchanges it replaced
      // carried the per-(pair, query-hash) partial maxima (corpus ×
      // |query vectors| rows at scale) while the new ones carry the
      // corpus vector rows once and ~|docs| packed rows: strictly fewer
      // shuffled bytes, ~|qv|·|dv|× fewer scored rows (Round17PerfSpec
      // pins packed == grouped top-k)
      "v_maxsim_recall" -> 12,
      // r10 second wave: residual tier (same 2-exchange shape as raw
      // IVF-PQ — the residual upgrade must stay plan-free), MMR's
      // packed-fold (windowed candidates + two pack aggs + sort),
      // TopKAgg cluster cap, excision (span agg + keeper agg + rebuild
      // join), mixture thinning (report agg + kept agg + sort), and
      // the binaryFile ingest
      "v_ivf_pq_res" -> 2, "v_ivf_pq_res_store" -> 2,
      "v_ivf_pq_res_recall" -> 4, "v_mmr" -> 5,
      "d_cluster_sample" -> 2, "d_span_excise" -> 4,
      "t_mix_sample" -> 5, "src_binary" -> 1,
      // r11: the composed SQL IVF-PQ legs must hold the Scala twins'
      // 2-exchange shape (top-k window + presentation sort) — the probe
      // CTE and the ADC fold are broadcast/map-side by construction
      "v_sql_store_ivfpq" -> 2, "v_sql_store_ivfpq_res" -> 2,
      // r11 second wave: streamed-store gates serve like their batch
      // twins (top-k window + sort); maximal excision adds only the
      // island fold to d_span_excise's plan; the store MMR swaps the
      // exact retrieval for the probed tier at the same budget; the
      // clustered gates share their isotropic twins' shapes
      "s_ivfpq_ingest" -> 2, "s_mih_ingest" -> 2,
      "d_span_excise_max" -> 4, "v_mmr_store" -> 5,
      "vc_ivf_pq_res_recall" -> 4, "dc_embed_recall" -> 0,
      // the 5-stage funnel: quality/excise/sem joins + mixture rate
      // aggs + packing window + report sort (semdedup's iterative
      // passes materialize behind lineage cuts, not in this plan)
      "t_curation_pipeline2" -> 9,
      // r11 third wave: the coarse×binary SQL leg holds v_ivf_bq's
      // 2-exchange shape (probe/hamming/rerank all broadcast; only the
      // two windows... which share query_id partitioning → Hamming
      // top-20 + final sort), and the streamed-store report gates
      "v_sql_store_ivfbq" -> 2, "v_sql_store_annmp" -> 2, "s_maxsim_ingest" -> 4,
      "s_span_ingest" -> 3, "s_bitmap_ingest" -> 3,
      // streamed-store reports (the store reads replay their batch
      // twins' shapes; kmv's pairwise overlap joins dominate its count)
      "s_rate_ingest" -> 3, "s_kmv_ingest" -> 9,
      "s_hll_ingest" -> 4, "s_bloom_ingest" -> 5,
      "v_ivfpq_filtered" -> 2, "s_knn_serve" -> 1,
      "s_phash_ingest" -> 9,
      // the one-frame dedup pipeline: the per-document frame (spread +
      // keeper window) materializes behind a lineage cut, and the keeper
      // band join broadcasts, so the plan holds the left join's
      // per-document exchange, the losers' distinct, the per-language
      // aggregate and its sort
      "d_pipeline" -> 4)
    val over = budgets.toSeq.sortBy(_._1).flatMap { case (name, budget) =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.write.format("noop").mode("overwrite").save() // finalize AQE
      val shuffles = "Exchange (hash|range|RoundRobin|SinglePartition)".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
      spark.sharedState.cacheManager.clearCache()
      if (shuffles > budget) Some(s"$name: $shuffles > $budget") else None
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(over.isEmpty, s"shuffle budget exceeded: ${over.mkString(", ")}")
  }

  test("IvfPqIndexStore: frozen-model append equals a single write") {
    import graft.sources.IvfPqIndexStore
    val emb = Tables.embeddings(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("ivfpq_store").toString
    IvfPqIndexStore.write(emb, "vec_id", "embedding", s"$base/one")
    // wave 1 trains both models; wave 2 assigns + encodes FROZEN
    IvfPqIndexStore.write(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", s"$base/two",
      ivfModel = Some(graft.sources.IvfIndexStore.readCentroids(spark, s"$base/one")),
      pqModel = Some(graft.sources.PqIndexStore.readBooks(spark, s"$base/one")))
    IvfPqIndexStore.append(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", s"$base/two")
    val q = emb.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    def res(p: String) = IvfPqIndexStore
      .search(spark, p, q, "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rnk").collect().map(_.toString)
    assert(res(s"$base/one").sameElements(res(s"$base/two")),
      "appended IVF-PQ store must rank identically to a one-shot write")
  }

  test("IvfPqIndexStore.searchBatch: DPP-pruned, result-equal to the collect path") {
    import graft.sources.IvfPqIndexStore
    val emb = Tables.embeddings(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_dpp").toString + "/idx"
    IvfPqIndexStore.write(emb, "vec_id", "embedding", path)
    val queries = emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val batch = IvfPqIndexStore.searchBatch(spark, path, queries,
      "vec_id", "embedding", operators.Knn.DefaultK)
    assertLiveDpp(batch, "IvfPqIndexStore.searchBatch")
    val viaCollect = IvfPqIndexStore.search(spark, path, queries,
      "vec_id", "embedding", operators.Knn.DefaultK).collect().map(_.toString).sorted
    assert(batch.collect().map(_.toString).sorted.sameElements(viaCollect),
      "distributed ADC tables must rank identically to the driver-built ones")
  }

  test("BqIndexStore: two-wave append equals a single write, search hash-stable") {
    import graft.sources.BqIndexStore
    val emb = Tables.embeddings(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("bq_store").toString
    BqIndexStore.write(emb, "vec_id", "embedding", s"$base/one")
    BqIndexStore.write(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", s"$base/two")
    BqIndexStore.append(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", s"$base/two")
    val q = emb.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    def res(p: String) = BqIndexStore
      .search(spark, p, emb, q, "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rnk").collect().map(_.toString)
    assert(res(s"$base/one").sameElements(res(s"$base/two")),
      "appended store must rank identically to a one-shot write")
  }

  test("IndexStore: static filter on an inline meta column pushes into the store scan") {
    val emb = Tables.embeddings(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("filt_store").toString + "/idx"
    IndexStore.write(emb, "vec_id", "embedding", path, dim = 64, metaCols = Seq("label"))
    val filtered = IndexStore.read(spark, path).filter(col("label") === 1)
    val q = emb.filter(col("vec_id") < 2).select(col("vec_id"), col("embedding"))
    val res = IndexStore.search(filtered, q, "vec_id", "embedding", k = 3)
    val plan = res.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*label[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"the label predicate must reach the parquet scan, not a post-scan Filter:\n$plan")
    val l1 = emb.filter(col("label") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val out = res.select("neighbor_id").collect().map(_.getLong(0))
    assert(out.nonEmpty && out.forall(l1.contains),
      "every neighbor must satisfy the pushed attribute filter")
  }

  test("runKnnServe: two-wave streamed queries equal one batch search") {
    import graft.sources.IndexStore
    val emb = Tables.embeddings(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("knn_serve").toString
    val (src, ckpt, idx, out) = (s"$base/in", s"$base/ckpt", s"$base/idx", s"$base/out")
    IndexStore.write(emb, "vec_id", "embedding", idx, dim = 64)
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
    queries.filter(col("vec_id") < 5).write.parquet(src)
    graft.streaming.EventStreams.runKnnServe(spark, src, ckpt, idx, out)
    queries.filter(col("vec_id") >= 5).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runKnnServe(spark, src, ckpt, idx, out)
    val streamed = spark.read.parquet(out).collect().map(_.toString).sorted
    val batch = IndexStore.search(IndexStore.read(spark, idx),
      queries, "vec_id", "embedding", 5).collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      "streamed micro-batch serving must reproduce the batch search exactly")
  }

  test("runBloomIngest: two-wave incremental filter equals the batch-built filter") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val mBits = 32L * ((16L * docs.count() + 31L) / 32L)
    val base = java.nio.file.Files.createTempDirectory("bloom_ingest").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/words")
    docs.filter(col("doc_id") < 250).write.parquet(src)
    graft.streaming.EventStreams.runBloomIngest(spark, src, ckpt, store, mBits)
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runBloomIngest(spark, src, ckpt, store, mBits)
    val merged = graft.streaming.EventStreams.mergedBloom(spark, store)
      .collect().map(_.toString).sorted
    val batch = operators.Dedup.bloomWords(docs, mBits)
      .collect().map(_.toString).sorted
    assert(merged.sameElements(batch),
      "bit_or merge of per-batch shards must equal the one-shot filter")
  }

  test("runMihIngest: two-wave streamed MIH store answers radius probes like one write") {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("mih_ingest").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/mih")
    emb.filter(col("vec_id") % 2 === 0).write.parquet(src)
    graft.streaming.EventStreams.runMihIngest(spark, src, ckpt, store)
    emb.filter(col("vec_id") % 2 === 1).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runMihIngest(spark, src, ckpt, store)
    val batchStore = s"$base/batch"
    sources.BqIndexStore.writeMih(emb, "vec_id", "embedding", batchStore)
    val codes = operators.Knn.corpus(spark, sf).select(col("vec_id"),
      operators.Knn.bqWords(col("v"), 0).as("code_lo"),
      operators.Knn.bqWords(col("v"), 32).as("code_hi"))
    val q = operators.Knn.bqCorruptedQueries(codes)
    def res(p: String): Set[(Long, Long, Long)] =
      sources.BqIndexStore.searchRadius(spark, p, q, radius = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res(store) == res(batchStore),
      "streamed two-wave MIH store must search identically to a single batch write")
    assert(res(store).nonEmpty, "corrupted-fingerprint probes must find their sources")
  }

  test("runPhashIngest: streamed decode→fingerprint→MIH store answers radius probes") {
    import spark.implicits._
    import graft.sources.BqIndexStore
    val payloads = (0L until 8L)
      .map(id => (id, operators.ImageDecode.syntheticPng(16, 16, (31 * id + 5).toInt)))
      .toDF("doc_id", "payload")
    val base = java.nio.file.Files.createTempDirectory("phash_ingest").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/mih")
    payloads.filter(col("doc_id") < 4).write.parquet(src)
    graft.streaming.EventStreams.runPhashIngest(spark, src, ckpt, store)
    payloads.filter(col("doc_id") >= 4).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runPhashIngest(spark, src, ckpt, store)
    // batch twin: same decode → DCT → split derivation in one pass
    val codes = operators.ImagePipeline.phashFromFrame(
        operators.ImageDecode.pixelFrame(payloads, "doc_id", "payload"))
      .select(col("doc_id").as("id"),
        col("phash").bitwiseAND(lit(4294967295L)).as("code_lo"),
        shiftrightunsigned(col("phash"), 32).as("code_hi"))
    BqIndexStore.appendMihCodes(codes, s"$base/batch")
    // probes: each fingerprint corrupted by 3 bit flips (0x13)
    val q = codes.select(col("id").as("query_id"),
      col("code_lo").bitwiseXOR(lit(0x13L)).as("qlo"), col("code_hi").as("qhi"))
    def res(p: String): Set[(Long, Long, Long)] =
      BqIndexStore.searchRadius(spark, p, q, radius = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res(store) == res(s"$base/batch"),
      "two streamed waves must search identically to the batch-built store")
    val selfHits = BqIndexStore.searchRadius(spark, store, q, radius = 7)
      .filter(col("query_id") === col("neighbor_id") && col("hamming") === 3)
    assert(selfHits.count() == 8,
      "every corrupted fingerprint must find its source image at hamming 3")
  }

  test("compact(recluster=bval): MIH store file count drops, search hash unchanged") {
    import spark.implicits._
    import graft.sources.{BqIndexStore, StoreMaintenance}
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("mih_compact").toString
    val store = s"$base/mih"
    // three appends → three file generations per blk dir
    (0 until 3).foreach { wave =>
      BqIndexStore.appendMih(emb.filter(col("vec_id") % 3 === wave),
        "vec_id", "embedding", store)
    }
    val codes = operators.Knn.corpus(spark, sf).select(col("vec_id"),
      operators.Knn.bqWords(col("v"), 0).as("code_lo"),
      operators.Knn.bqWords(col("v"), 32).as("code_hi"))
    val q = operators.Knn.bqCorruptedQueries(codes)
    def res(): Set[(Long, Long, Long)] =
      BqIndexStore.searchRadius(spark, store, q, radius = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val beforeRes = res()
    val (before, after) = StoreMaintenance.compact(spark, store,
      targetFiles = 2, recluster = Some("bval"))
    assert(after < before, s"compaction must shrink file count ($before -> $after)")
    assert(res() == beforeRes,
      "radius search must be identical after re-clustered compaction")
  }

  test("runHllIngest: unioned per-batch sketches equal the one-shot batch sketch") {
    val ev = Tables.events(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("hll_ingest").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/sketches")
    ev.filter(col("event_id") % 2 === 0).write.parquet(src)
    graft.streaming.EventStreams.runHllIngest(spark, src, ckpt, store)
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runHllIngest(spark, src, ckpt, store)
    val inc = graft.streaming.EventStreams.hllDistinctReport(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val batch = ev.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(inc.sameElements(batch),
      "HLL registers are per-value maxima — shard union must equal one sketch")
  }

  test("runBitmapIngest: two-wave overlapping shards equal the batch bitmap distinct") {
    val ev = Tables.events(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("bitmap_ingest").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/shards")
    // waves split by EVENT id, so the same user appears in both waves
    // for some types — exercising bit_or idempotence across appends
    ev.filter(col("event_id") % 2 === 0).write.parquet(src)
    graft.streaming.EventStreams.runBitmapIngest(spark, src, ckpt, store)
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runBitmapIngest(spark, src, ckpt, store)
    val inc = graft.streaming.EventStreams.bitmapDistinctReport(spark, store)
      .collect().map(_.toString).sorted
    val batch = SparkEntry.queries("q_bitmap_distinct")(spark, sf)
      .collect().map(_.toString).sorted
    assert(inc.sameElements(batch),
      "re-ORed incremental shards must equal the one-shot bitmap distinct")
  }

  test("runSpanIngest: two-wave incremental span store reproduces batch d_span_dedup") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("span_ingest").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/spans")
    docs.filter(col("doc_id") < 250).write.parquet(src)
    graft.streaming.EventStreams.runSpanIngest(spark, src, ckpt, store)
    val wave1 = spark.read.parquet(store).count()
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runSpanIngest(spark, src, ckpt, store)
    assert(spark.read.parquet(store).count() > wave1,
      "wave 2 must append its own span rows")
    val incremental = graft.streaming.EventStreams.spanDedupReport(spark, store)
      .collect().map(_.toString).sorted
    val batch = operators.Dedup.dSpanDedup(spark, sf)
      .collect().map(_.toString).sorted
    assert(incremental.sameElements(batch),
      "report over the incrementally built store must equal the batch operator")
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("round-7 operators are result-identical under cluster-safe materialization") {
    // the ops that lean on Materialize (span table, CC supersteps in
    // d_semdedup, d_pagerank's released superstep states) — exactly
    // the surface where the replicated strategy diverged from local
    // in r6
    val qs = Seq("d_span_dedup", "d_semdedup", "t_curation_pipeline",
      "d_pagerank")
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

  test("v_bq: sign packing is exact and the Hamming shuffle never carries floats") {
    import spark.implicits._
    // packing unit check: a vector with a known sign pattern must land
    // on the exact two words computed independently on the JVM side
    val pattern = Array.tabulate(64)(d => if (d % 3 == 0) 0.5f else -0.25f)
    var lo = 0L; var hi = 0L
    for (d <- 0 until 64 if pattern(d) > 0) {
      if (d < 32) lo |= 1L << d else hi |= 1L << (d - 32)
    }
    val one = Seq((0L, pattern.toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val packed = one.select(
      Knn.bqWords(col("v"), 0).as("lo"), Knn.bqWords(col("v"), 32).as("hi")).head()
    assert(packed.getLong(0) == lo && packed.getLong(1) == hi,
      s"expected ($lo,$hi) got $packed")

    // plan pin: phase 1 ranks candidates on 16-byte codes — if a
    // refactor ever routes the 64-double vector through the top-R
    // window shuffle, the whole point of the binary tier is gone.
    // Formatted explain lists each Exchange's Input columns; none of
    // the shuffle exchanges may carry an array column (v/qv/w).
    val df = SparkEntry.queries("v_bq")(spark, sf)
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val sections = fmt.split("\\n\\n")
    val exchangeInputs = sections.filter(_.matches("(?s)\\(\\d+\\) Exchange.*"))
      .flatMap(_.linesIterator.filter(_.startsWith("Input")))
    assert(exchangeInputs.nonEmpty, s"no Exchange sections found in:\n$fmt")
    exchangeInputs.foreach { in =>
      assert(!in.matches(".*\\b(v|qv|w)#\\d+.*"),
        s"a shuffle exchange carries a vector payload: $in\n$fmt")
    }
  }

  test("v_bq_range: pigeonhole pruning is lossless and the plan has no nested-loop join") {
    // independent brute force: same codes + same 5-bit corruption, but
    // candidates from an explicit cross join — the multi-index result
    // must match EXACTLY (radius 7 < 8 blocks guarantees a clean block)
    val e = Knn.corpus(spark, sf)
    val codes = e.select(col("vec_id"),
      Knn.bqWords(col("v"), 0).as("code_lo"), Knn.bqWords(col("v"), 32).as("code_hi"))
    def maskHalf(lo: Boolean): String = (0 until 5).map { j =>
      val p = s"pmod(query_id + ${13 * j}, 64)"
      if (lo) s"(CASE WHEN $p < 32 THEN shiftleft(CAST(1 AS BIGINT), CAST($p AS INT)) ELSE CAST(0 AS BIGINT) END)"
      else s"(CASE WHEN $p >= 32 THEN shiftleft(CAST(1 AS BIGINT), CAST($p AS INT) - 32) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" | ")
    val q = codes.filter(col("vec_id") < Knn.NumQueries)
      .select(col("vec_id").as("query_id"),
        col("code_lo").bitwiseXOR(expr(maskHalf(lo = true))).as("qlo"),
        col("code_hi").bitwiseXOR(expr(maskHalf(lo = false))).as("qhi"))
    val brute = codes.crossJoin(q)
      .withColumn("hamming",
        (bit_count(col("code_lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("code_hi").bitwiseXOR(col("qhi")))).cast("long"))
      .filter(col("hamming") <= 7)
      .select("query_id", "vec_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val df = SparkEntry.queries("v_bq_range")(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"multi-index result diverges from brute force: " +
      s"missing=${brute -- got} extra=${got -- brute}")
    assert(got.nonEmpty, "corrupted queries must find their source codes")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"candidate generation must be a pure equi-join on (block, value):\n$plan")
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("BqIndexStore MIH: persisted radius search matches in-session, scan prunes buckets") {
    val got = SparkEntry.queries("v_bq_range_store")(spark, sf)
    val want = SparkEntry.queries("v_bq_range")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == want, "store radius search must equal the in-session contract")
    // the probed (blk, bval) pairs must land in the scan's PARTITION
    // filters — bucket pruning at the file level is the point of MIH
    val plan = got.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*blk[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"probe buckets must prune as partition filters:\n$plan")
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("IvfBqIndexStore: frozen-centroid append equals a single write") {
    import graft.sources.IvfBqIndexStore
    val emb = Tables.embeddings(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("ivfbq_store").toString
    val model = Some(operators.Knn.ivfCentroids(spark, sf))
    IvfBqIndexStore.write(emb, "vec_id", "embedding", s"$base/one", model)
    IvfBqIndexStore.write(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", s"$base/two", model)
    IvfBqIndexStore.append(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", s"$base/two")
    val q = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
    def res(p: String): Array[String] =
      IvfBqIndexStore.search(spark, s"$base/$p", emb, q,
        "vec_id", "embedding", k = 5).collect().map(_.toString).sorted
    assert(res("two").sameElements(res("one")),
      "append with frozen centroids must search identically to one write")
  }

  test("BqIndexStore MIH: two-wave append equals a single write") {
    import graft.sources.BqIndexStore
    val emb = Tables.embeddings(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("mih_store").toString
    BqIndexStore.writeMih(emb, "vec_id", "embedding", s"$base/one")
    BqIndexStore.writeMih(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", s"$base/two")
    BqIndexStore.appendMih(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", s"$base/two")
    val codes = Knn.corpus(spark, sf).select(col("vec_id"),
      Knn.bqWords(col("v"), 0).as("code_lo"), Knn.bqWords(col("v"), 32).as("code_hi"))
    val q = Knn.bqCorruptedQueries(codes)
    def res(p: String): Set[(Long, Long, Long)] =
      BqIndexStore.searchRadius(spark, s"$base/$p", q, radius = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res("two") == res("one"),
      "incrementally appended MIH store must search identically to a single write")
  }

  test("m_decode_phash: decode-fed fingerprint equals the closed-form pixel fingerprint") {
    // the decode path (PNG encode -> javax.imageio -> BT.601) must be
    // pixel-identical to the closed form, so the SAME phashFromFrame
    // over a formula-built frame is the ground truth for the whole
    // decode -> DCT -> median -> pack chain
    import spark.implicits._
    val formula = (for {
      id <- 0L until 8L; y <- 0 until 16; x <- 0 until 16
    } yield (id, y, x, ((31 * id + 5) + 7 * y + 13 * x) % 256))
      .toDF("doc_id", "y", "x", "px")
    val want = ImagePipeline.phashFromFrame(formula)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val got = ImageDecode.mDecodePhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.sameElements(want),
      "real-decode pHash must be bit-equal to the closed-form pHash")
    assert(got.length == 8)
  }

  test("q_topk_agg: custom aggregate partial-aggregates before the exchange") {
    // the whole point of the TypedImperativeAggregate is map-side
    // discarding: the plan must show TWO aggregate operators (partial
    // below the exchange, final above), and the fact must reach the
    // exchange already k-bounded — no window, no full-row shuffle
    val df = SparkEntry.queries("q_topk_agg")(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert("topk_agg".r.findAllIn(plan).size >= 2,
      s"expected partial+final topk_agg aggregates:\n$plan")
    assert(!plan.contains("Window"),
      "the aggregate formulation must not fall back to a window")
    val aggExchanges = "Exchange hashpartitioning\\(l_suppkey".r
      .findAllIn(plan).size
    assert(aggExchanges == 1, s"exactly one group exchange:\n$plan")
  }

  test("m_decode_clahe: decode-fed CLAHE equals the closed-form pixel CLAHE") {
    // same ground-truth trick as m_decode_phash: claheFromFrame over a
    // formula-built 32x32 frame is what the decode path must reproduce
    import spark.implicits._
    val formula = (for {
      id <- 0L until 2L; y <- 0 until 32; x <- 0 until 32
    } yield (id, y, x, ((31 * id + 5) + 7 * y + 13 * x) % 256))
      .toDF("doc_id", "y", "x", "px")
    val want = ImagePipeline.claheFromFrame(formula)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val got = ImageDecode.mDecodeClahe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.sameElements(want),
      "real-decode CLAHE must be bit-equal to the closed-form CLAHE")
    assert(got.length == 64, "2 docs x 32 rows of per-row stats")
  }

  test("q_retention: day-0 cell is the cohort size and bounds every later cell") {
    val rows = SparkEntry.queries("q_retention")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 0), "day offsets are non-negative by construction")
    rows.groupBy(_._1).foreach { case (cohort, cells) =>
      val day0 = cells.find(_._2 == 0L)
      assert(day0.isDefined, s"cohort $cohort must have a day-0 cell (first purchase)")
      assert(cells.forall(_._3 <= day0.get._3),
        s"cohort $cohort: no retention cell can exceed the day-0 cohort size")
    }
  }
}
