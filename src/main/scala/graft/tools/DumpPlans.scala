package graft.tools

import org.apache.spark.sql.DataFrame
import graft.{GraftSession, SparkEntry}

/** Final (post-AQE) physical plans, captured after a collect() on the
  * query's own DataFrame so AdaptiveSparkPlan shows what actually ran
  * (AQE join rewrites, coalesced reads).
  *
  * Usage: runMain graft.tools.DumpPlans <sfDir> [query...]
  *
  *  - without queries: writes PLANS.md, the plan of one representative
  *    query per family. The shuffle-budget spec (Round7Spec) pins these
  *    shapes numerically; this artifact keeps the full trees reviewable
  *    without re-running.
  *  - with queries: prints each query's formatted plan to stdout, e.g.
  *    `runMain graft.tools.DumpPlans <sfDir> d_pipeline >
  *    plans/<tag>/d_pipeline_before.txt` for a before/after record.
  */
object DumpPlans {

  /** family-representative queries whose plan shape carries the
    * engine's 100 TB story
    */
  val Headliners: Seq[String] = Seq(
    "q1_pricing", "q18_bigorders", "q_merge_cdc", "q_salted_join",
    "q21_waiting", "q19_disjunct", "q_topk_agg", "q_bitmap_distinct",
    "v_knn_exact", "v_ivf_pq", "v_bq", "v_matryoshka",
    "d_minhash_pairs", "d_bloom", "t_dsir", "src_zorder",
    "q_kmv_store", "v_opq_learned",
    "q_bloom_join", "v_maxsim", "t_bpe_train", "q_anomaly",
    "v_sql_store_ivf", "v_filtered_route", "d_embed_multiprobe",
    "m_resize_bilinear",
    // r10: the map-side ADC SQL leg and the probed banded serving tier
    "v_sql_store_pq", "v_ann_store_mp",
    // r10 second wave: residual tier, packed-fold MMR, TopKAgg
    // cluster cap, span excision
    "v_ivf_pq_res", "v_mmr", "d_cluster_sample", "d_span_excise",
    // r11: the composed SQL serving legs (live-DPP probe + map-side
    // ADC / Hamming / banded multiprobe), filtered compressed tier,
    // maximal excision, the store MMR, and the curation funnel v2
    "v_sql_store_ivfpq", "v_sql_store_ivfpq_res", "v_sql_store_ivfbq",
    "v_sql_store_annmp", "v_ivfpq_filtered", "d_span_excise_max",
    "v_mmr_store", "t_curation_pipeline2",
    // r12: the SQL MIH radius leg (bucket equi-join + inline-code
    // verification) and the post-purge serving scan
    "v_sql_store_mih", "q_purge_store",
    // r13: the drift gate (two-model evaluation), the persisted
    // lexical tier (bucket-pruned postings probe) + its SQL leg, the
    // hybrid fusion evaluation, and the post-vacuum serving scan
    "v_ivf_drift_recall", "v_bm25_store", "v_sql_store_bm25",
    "vc_hybrid_recall", "q_vacuum_store",
    // r14: the bucketed-dl lexical serving join (v_bm25_store's plan
    // now carries it), the retrained-store serving scan, the
    // positional tier (engine + SQL legs), the gstats-served filtered
    // leg, the persisted hybrid fusion, and the post-append snapshot
    // read feeding q_snapshot_store's exact search
    "v_ivf_retrain_store", "v_bm25_near", "v_sql_store_phrase",
    "v_bm25_filtered", "v_hybrid_store", "q_snapshot_store",
    // r15: the three-term proximity chain, the SQL proximity leg,
    // the lexical snapshot read (per-root readBefore feeding the
    // shared rankBm25 tail), and the score-aware fusion
    "v_bm25_near3", "v_sql_store_near", "q_snapshot_bm25",
    "v_hybrid_weighted",
    // r15 second wave: the persisted weighted fusion and the lexical
    // drift monitor's log read
    "v_hybrid_weighted_store", "s_bm25_drift",
    // r16: the fusion tuning curve (grid cross join × k-bounded
    // window), the additive-tier snapshot ranking, the auto-retrained
    // store's recall report, and the drift consumer delta
    "v_hybrid_curve", "q_snapshot_rate", "s_retrain_auto",
    "s_drift_consumer", "q_snapshot_sbm25")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    /** Run the query, then hand its finalized DataFrame to `show`. */
    def finalPlan(name: String)(show: DataFrame => Unit): Unit = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE on THIS DataFrame (isFinalPlan=true)
      show(df)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val queries = args.drop(1).toSeq
    if (queries.nonEmpty) queries.foreach(name => finalPlan(name) { df =>
      println(s"== $name ($sfDir, post-execution final plan) ==")
      println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    })
    else {
      val out = new StringBuilder
      out ++= "# Final physical plans (post-AQE) of family headliners\n\n"
      out ++= s"Generated by `runMain graft.tools.DumpPlans $sfDir` — regenerate\n"
      out ++= "after any plan-affecting change; Round7Spec's shuffle budgets\n"
      out ++= "gate the same queries numerically.\n"
      Headliners.foreach(name => finalPlan(name) { df =>
        out ++= s"\n## $name\n\n```\n"
        out ++= df.queryExecution.executedPlan.toString.linesIterator
          .take(80).mkString("\n")
        out ++= "\n```\n"
      })
      java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
        out.toString.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
