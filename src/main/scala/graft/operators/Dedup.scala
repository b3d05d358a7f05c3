package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{HashFns => H, VectorFns => V}

/** Deduplication suite for training-data pipelines.
  *
  * Scale shape: every operator is a hash-partitioned group-by or an
  * equi-join on a blocking key (MinHash band, SimHash chunk, LSH
  * bucket) — the O(n²) pair space is never materialized. Signatures are
  * computed in ONE map-side projection per document (sequence/transform
  * higher-order expressions, md5 evaluated once per shingle/token), so
  * the only shuffles are the final group-bys/joins on keys.
  *
  * All hashes are md5-derived arithmetic (HashFns) so each step has an
  * exact DuckDB oracle (SURVEY.md §4/§6).
  */
object Dedup {

  val ShingleK = 5
  val Bands = 4
  val RowsPerBand: Int = H.numPerms / Bands // 16 perms → 4 bands × 4

  /** Normalized text used for exact dedup: lowercase, whitespace runs
    * collapsed, trimmed.
    */
  private def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Non-empty whitespace tokens. */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  /** Spread a small scan across all cores before a CPU-heavy projection.
    * The test tables are single parquet files → one input partition, so
    * per-row hashing (minhash: ~1ms/doc) would otherwise run on one
    * core. On a real cluster the scan arrives pre-partitioned and this
    * round-robin shuffle of the raw text is noise.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Eagerly materialize a shared subplan that feeds both sides of a
    * self-join, truncating lineage (localCheckpoint). A lazy .cache()
    * is not enough: the join sides materialize concurrently and each
    * computes the full subplan (in-flight work isn't deduped), and
    * worse, broadcast-build stages sometimes recompute the cache child
    * through an AQE-coalesced 1-task exchange — the expensive signature
    * projection then runs single-threaded. With lineage truncated,
    * downstream stages can only read the materialized blocks.
    *
    * Deployment scope is strategy-selectable via the
    * `spark.graft.materialize` conf (local | replicated | checkpoint)
    * — see graft.Materialize for the cluster-mode trade-offs.
    */
  private def forceCached(df: DataFrame): DataFrame =
    graft.Materialize.forceCached(df)

  /** d_exact: exact-duplicate groups via md5(normalized text). */
  def dExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy("keep_doc_id")

  /** Per-doc array of 16 MinHash values in ONE map-side scalar call
    * (expressions.MinHashSigExpr — the composed transform/array_min
    * form evaluates interpreted and cost ~20ms/doc at 500 shingles).
    */
  private def withSignature(docs: DataFrame): DataFrame =
    spread(docs.filter(length(col("text")) >= ShingleK))
      .withColumn("sig",
        graft.expressions.TextHashExprs.minhashSig(col("text"), ShingleK))

  /** d_minhash: long-format signatures (doc_id, perm_id, mh). */
  def dMinhash(spark: SparkSession, dir: String): DataFrame =
    withSignature(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("perm_id0", "mh")))
      .select(col("doc_id"), col("perm_id0").cast("long").as("perm_id"), col("mh"))
      .orderBy("doc_id", "perm_id")

  /** Band key: md5 over the band's minhash values joined with ','. */
  private def bandKey(sig: Column, b: Int): Column =
    md5(array_join(
      transform(slice(sig, b * RowsPerBand + 1, RowsPerBand), m => m.cast("string")),
      ","))

  /** d_minhash_pairs: LSH band blocking → candidate pairs + estimated
    * jaccard (fraction of the 16 permutations that agree). The pair
    * space is generated only inside band buckets (equi-join on the band
    * hash), never as a cross product.
    */
  /** dn_minhash_recall: MinHash band blocking measured on PLANTED
    * near-duplicate families — the dn_ (dedup × `#neardup` document
    * corpus) twin that gives the text-dedup suite discriminating
    * power the raw corpus lacks (no true near-dups there). Family
    * members share a 280-char template (shingle Jaccard ≈ 0.5), so
    * 4×4 banding finds a characteristic fraction of each query's
    * family — the per-query recall this reports, against the exact
    * family roster. Bounded: only the 10-query prefix's partners are
    * rostered; the pair generation itself stays band-blocked.
    */
  def dnMinhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val fams = graft.operators.Knn.NdFamilies
    val docs = graft.operators.Knn.nearDupDocs(spark, dir)
    val sigs = forceCached(withSignature(docs))
    val bands = sigs.select(col("doc_id"),
      posexplode(array((0 until Bands).map(b => bandKey(col("sig"), b)): _*))
        .as(Seq("band_id", "band_key")))
    val l = bands.select(col("doc_id").as("doc1"), col("band_id"), col("band_key"))
    val r = bands.select(col("doc_id").as("doc2"), col("band_id").as("band_id2"),
      col("band_key").as("band_key2"))
    val pairs = l.join(r,
        col("band_id") === col("band_id2") && col("band_key") === col("band_key2") &&
        col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    val found = pairs.filter(col("doc1") < 10)
        .select(col("doc1").as("q"), col("doc2").as("p"))
      .union(pairs.filter(col("doc2") < 10)
        .select(col("doc2").as("q"), col("doc1").as("p")))
    val sameFam = found.filter(col("p") % fams === col("q") % fams)
      .groupBy("q").agg(countDistinct(col("p")).as("n_found"))
    val famSize = docs.select((col("doc_id") % fams).as("fam"))
      .groupBy("fam").agg(count(lit(1)).as("n"))
    docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("q"), (col("doc_id") % fams).as("fam"))
      .join(broadcast(famSize), "fam")
      .join(broadcast(sameFam), Seq("q"), "left")
      .select(col("q").as("query_id"),
        (col("n") - 1).as("n_family"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        round(coalesce(col("n_found"), lit(0L)) / (col("n") - 1).cast("double"), 6)
          .as("recall"))
      .orderBy("query_id")
  }

  def dMinhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = forceCached(withSignature(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))))
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until Bands).map(b => bandKey(col("sig"), b)): _*))
        .as(Seq("band_id", "band_key")))
    val l = bands.select(col("doc_id").as("doc1"), col("sig").as("sig1"),
      col("band_id"), col("band_key"))
    val r = bands.select(col("doc_id").as("doc2"), col("sig").as("sig2"),
      col("band_id").as("band_id2"), col("band_key").as("band_key2"))
    val pairs = l.join(r,
        col("band_id") === col("band_id2") && col("band_key") === col("band_key2") &&
        col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"), col("sig1"), col("sig2"))
      .distinct()
    pairs.select(col("doc1"), col("doc2"), jaccEst(col("sig1"), col("sig2")).as("jacc_est"))
      .orderBy("doc1", "doc2")
  }

  /** Estimated Jaccard: the fraction of the 16 permutations on which two
    * signatures agree.
    */
  private def jaccEst(sig1: Column, sig2: Column): Column =
    aggregate(zip_with(sig1, sig2, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x) / lit(16.0)

  /** d_simhash: 32-bit SimHash per document from distinct-token md5
    * bits; one map-side projection (token hashes materialized once,
    * 32 integer folds over the array).
    */
  private def simhashDf(spark: SparkSession, dir: String): DataFrame = {
    val th = spread(Tables.documents(spark, dir).select("doc_id", "text"))
      .select(col("doc_id"),
        transform(array_distinct(tokens(col("text"))), t => H.tokenHash32(t)).as("th"))
    def bitSum(j: Int): Column =
      aggregate(col("th"), lit(0L),
        (acc, h) => acc + lit(2L) * shiftright(h, j).bitwiseAND(lit(1L)) - lit(1L))
    val sim = (0 until 32)
      .map(j => when(bitSum(j) > 0, lit(1L) * (1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    th.select(col("doc_id"), sim.as("simhash"))
  }

  def dSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashDf(spark, dir).orderBy("doc_id")

  /** d_simhash_pairs: near-dup pairs by SimHash hamming distance. A
    * pair within hamming ≤ 8 of a 32-bit signature must agree on at
    * least one of the four 8-bit chunks (pigeonhole), so candidates
    * come from four disjoint equi-joins on chunk values — never a
    * cross product. Output: 200 closest pairs.
    */
  def dSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    def chunks(df: DataFrame, suffix: String): DataFrame =
      (0 until 4).foldLeft(df)((d, c) =>
        d.withColumn(s"c$c$suffix", shiftright(col(s"simhash$suffix"), 8 * c).bitwiseAND(lit(255L))))
    // the signature table feeds 4 joins × 2 sides — compute it once
    val s = forceCached(simhashDf(spark, dir))
    val l = chunks(s.select(col("doc_id").as("doc1"), col("simhash").as("simhash1")), "1")
    val r = chunks(s.select(col("doc_id").as("doc2"), col("simhash").as("simhash2")), "2")
    val joins = (0 until 4).map { c =>
      // exclude matches already found by earlier chunks → disjoint union
      val cond = (0 until c).foldLeft(
        col(s"c${c}1") === col(s"c${c}2") && col("doc1") < col("doc2"))(
        (acc, p) => acc && col(s"c${p}1") =!= col(s"c${p}2"))
      l.join(r, cond)
    }
    joins.reduce(_ union _)
      .select(col("doc1"), col("doc2"),
        expr("CAST(bit_count(simhash1 ^ simhash2) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 8)
      .orderBy(col("hamming").asc, col("doc1").asc, col("doc2").asc)
      .limit(200)
  }

  /** Candidate pairs from MinHash bands (shared blocking for the exact
    * jaccard pass).
    */
  private def bandCandidates(spark: SparkSession, dir: String): DataFrame = {
    // signatures feed both sides of the band join — compute once
    val sigs = forceCached(withSignature(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))))
    val bands = sigs.select(col("doc_id"),
      posexplode(array((0 until Bands).map(b => bandKey(col("sig"), b)): _*))
        .as(Seq("band_id", "band_key")))
    val l = bands.select(col("doc_id").as("doc1"), col("band_id"), col("band_key"))
    val r = bands.select(col("doc_id").as("doc2"), col("band_id").as("band_id2"),
      col("band_key").as("band_key2"))
    l.join(r,
        col("band_id") === col("band_id2") && col("band_key") === col("band_key2") &&
        col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
  }

  /** d_jaccard: exact token-set jaccard, computed only on blocked
    * candidate pairs (plus a deterministic fallback sample of adjacent
    * doc ids so the operator always has output to verify).
    */
  def dJaccard(spark: SparkSession, dir: String): DataFrame = {
    val cands = bandCandidates(spark, dir)
      .union(
        Tables.documents(spark, dir).select(col("doc_id").as("doc1"))
          .filter(col("doc1") % 10 === 0)
          .withColumn("doc2", col("doc1") + 1))
      .distinct()
    // the PAIR LIST is the small side — broadcast it and stream the
    // token table in parallel. (Letting AQE pick broadcasts the token
    // table instead: its array payloads build a hash table
    // single-threaded, which profiling showed as two 1.5s one-task
    // stages.) Each join's probe side is a parallel scan; the second
    // join's build side is the tiny first-join result.
    // NOTE (r17, measured and kept as-is): materializing this token
    // table once (forceCached) to save the second tokenize pass reads
    // 1.98 → 2.10 s min-of-7 at sf0.1 — serializing the array<string>
    // blocks costs more than the duplicate 32-way tokenize, the same
    // trade that kept q_approx_quantiles un-spread. Both join probes
    // therefore recompute the projection deliberately.
    val toks = spread(Tables.documents(spark, dir))
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
    val t1 = toks.select(col("doc_id").as("doc1"), col("toks").as("toks1"))
    val t2 = toks.select(col("doc_id").as("doc2"), col("toks").as("toks2"))
    val j1 = t1.join(broadcast(cands), "doc1")
    t2.join(broadcast(j1), "doc2")
      .select(col("doc1"), col("doc2"),
        size(array_intersect(col("toks1"), col("toks2"))).cast("long").as("inter"),
        size(array_union(col("toks1"), col("toks2"))).cast("long").as("uni"))
      .select(col("doc1"), col("doc2"), col("inter"), col("uni"),
        (col("inter") / col("uni")).as("jaccard"))
      .orderBy("doc1", "doc2")
  }

  /** d_ngram_jacc: character n-gram (k=3) set jaccard — the n-gram
    * flavor of near-dup scoring (token jaccard misses reorderings
    * inside words; char n-grams don't). Computed over a deterministic
    * sample of pairs (doc_id ≡ 0 mod 7 paired with doc_id+3) — the
    * production path takes its pairs from the MinHash band blocking,
    * same as d_jaccard; the scoring expression is the operator here.
    */
  def dNgramJacc(spark: SparkSession, dir: String): DataFrame = {
    val k = 3
    val g = spread(Tables.documents(spark, dir).filter(length(col("text")) >= k))
      .select(col("doc_id"),
        array_distinct(graft.expressions.TextHashExprs.shingleHashes(col("text"), k))
          .as("g"))
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id").as("doc1"))
      .filter(col("doc1") % 7 === 0)
      .withColumn("doc2", col("doc1") + 3)
    val g1 = g.select(col("doc_id").as("doc1"), col("g").as("g1"))
    val g2 = g.select(col("doc_id").as("doc2"), col("g").as("g2"))
    pairs.join(g1, "doc1").join(g2, "doc2")
      .select(col("doc1"), col("doc2"),
        size(array_intersect(col("g1"), col("g2"))).cast("long").as("inter"),
        size(array_union(col("g1"), col("g2"))).cast("long").as("uni"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .orderBy("doc1", "doc2")
  }

  /** d_sample_stratified: deterministic balanced sampling — every
    * stratum (language) downsampled to the smallest stratum's size in
    * expectation, with membership decided by a hash of the key
    * (md5-derived uniform in [0,1)), not an RNG. Hash sampling is the
    * scale idiom: reproducible across runs and engines, no state, no
    * shuffle beyond the tiny rate table broadcast.
    */
  def dSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val sizes = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val target = sizes.agg(min(col("n")).as("target"))
    val rates = sizes.crossJoin(broadcast(target))
      .withColumn("rate", least(lit(1.0), col("target") / col("n").cast("double")))
    docs.join(broadcast(rates), "lang")
      .withColumn("u",
        H.md5Long(concat(lit("smp_"), col("doc_id").cast("string")), 15)
          / lit(1152921504606846976.0)) // 2^60
      .groupBy("lang")
      .agg(max(col("n")).as("n_stratum"),
        count(when(col("u") < col("rate"), 1)).as("n_sampled"))
      .orderBy("lang")
  }

  /** d_components: connected components over the MinHash near-dup
    * pair graph (jacc_est ≥ 0.25 edges + the deterministic fallback
    * pairs) — the clustering step that turns pairwise near-dup hits
    * into "keep one doc per cluster" decisions.
    *
    * Pregel-style min-label propagation accelerated with pointer
    * jumping: each superstep takes the min over (own label, neighbors'
    * labels via the edge join, label-of-label via a labels⋈labels
    * self-join). The extra self-join makes label chains halve every
    * step — O(log diameter) supersteps instead of O(diameter) — the
    * standard shortcut in shuffle-based connected components (each
    * superstep costs a full round of jobs, so halving their count
    * matters more than the extra join inside one). Edges are
    * pre-partitioned on the join key and checkpointed once, so the
    * per-superstep edge join never re-shuffles the edge table; the
    * driver only coordinates supersteps and checks convergence.
    * Output label = min doc_id of the component (exact fixpoint,
    * unchanged by the jumping — it only reaches it sooner).
    */
  def dComponents(spark: SparkSession, dir: String): DataFrame = {
    val est = dMinhashPairs(spark, dir).filter(col("jacc_est") >= 0.25)
      .select("doc1", "doc2")
    val fallback = Tables.documents(spark, dir)
      .select(col("doc_id").as("doc1"))
      .filter(col("doc1") % 10 === 0)
      .withColumn("doc2", col("doc1") + 1)
    connectedComponents(est.union(fallback).distinct())
      .select(col("doc").as("doc_id"), col("label").as("component"),
        when(col("doc") === col("label"), 1L).otherwise(0L).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** d_pagerank: PageRank over the same near-dup candidate graph as
    * d_components — the "which document is the canonical center of
    * its duplicate cluster" signal (rank-weighted keeper selection is
    * what production dedup uses when clusters are star-shaped). The
    * iteration runs in exact PARTS-PER-MILLION integer arithmetic:
    * contrib = rank div degree, damping as (850000·Σ) div 10^6 — all
    * floor divisions on longs, so a fixed 3-superstep run is
    * bit-identical under any partitioning and the oracle can replay
    * the trajectory as three unrolled SQL CTEs (the same
    * oracle-replay trick as the deterministic Lloyd trainer).
    *
    * Scale shape: edges are pre-partitioned on the join key and
    * materialized once (the d_components lesson); each superstep is
    * one edge⋈rank join + one groupBy on the SAME key — partial aggs
    * bound the shuffle at |V| rows — and superseded rank states are
    * released per superstep. Only edge-touched nodes are ranked
    * (same convention as connectedComponents).
    */
  def dPagerank(spark: SparkSession, dir: String): DataFrame = {
    val est = dMinhashPairs(spark, dir).filter(col("jacc_est") >= 0.25)
      .select("doc1", "doc2")
    val fallback = Tables.documents(spark, dir)
      .select(col("doc_id").as("doc1"))
      .filter(col("doc1") % 10 === 0)
      .withColumn("doc2", col("doc1") + 1)
    val und = est.union(fallback).distinct()
    val edges = und
      .union(und.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
      .select(col("doc1").as("a"), col("doc2").as("b"))
      .distinct()
      .repartition(col("a"))
      .transform(graft.Materialize.forceCached)
    val deg = edges.groupBy("a").agg(count(lit(1)).as("deg"))
      .transform(graft.Materialize.forceCached)
    var state = deg.select(col("a").as("doc"), col("deg"),
      lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val sums = edges.join(state, edges("a") === state("doc"))
        .select(col("b").as("doc"), expr("r div deg").as("c"))
        .groupBy("doc").agg(sum(col("c")).as("s"))
      val next = deg.select(col("a").as("doc"), col("deg"))
        .join(sums, "doc")
        .select(col("doc"), col("deg"),
          (lit(150000L) + expr("(850000 * s) div 1000000")).as("r"))
        .transform(graft.Materialize.forceCached)
      graft.Materialize.release(state)
      state = next
    }
    val out = state.select(col("doc").as("doc_id"), col("r").as("rank_ppm"))
      .orderBy("doc_id")
    // the final state is materialized, so the loop's static inputs can
    // drop their blocks before the caller consumes `out`
    graft.Materialize.release(edges)
    graft.Materialize.release(deg)
    out
  }

  /** Pointer-jumping connected components over an undirected edge list
    * (cols doc1, doc2) → (doc, label) with label = min node id of the
    * component. Only nodes that appear in an edge are returned —
    * callers coalesce singletons back in. Shared by d_components
    * (MinHash graph) and d_semdedup (embedding graph); see
    * d_components for the convergence/lineage design notes.
    */
  private[operators] def connectedComponents(undirected: DataFrame): DataFrame = {
    // hash-partitioned by the join key BEFORE the one-time checkpoint:
    // localCheckpoint preserves outputPartitioning, so every
    // superstep's edge-side exchange disappears from the plan
    val edges = undirected
      .union(undirected.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
      .select(col("doc1").as("a"), col("doc2").as("b"))
      .repartition(col("a"))
      .transform(graft.Materialize.forceCached)
    // seed with the 1-hop minimum (min of self and direct neighbors)
    // — equivalent to one free propagation superstep
    var labels = edges.groupBy(col("a").as("doc"))
      .agg(min(col("b")).as("nb"))
      .select(col("doc"), least(col("doc"), col("nb")).as("label"))
      .transform(graft.Materialize.forceCached)
    // per-node labels only ever decrease, so the label sum is strictly
    // monotone until the fixpoint — equality of sums IS convergence,
    // and costs one agg instead of a join+filter+count per superstep
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).collect()(0).getLong(0)
    var prevSum = labelSum(labels)
    var iters = 0
    var converged = false
    while (!converged && iters < 50) {
      val prop = edges.join(labels, edges("a") === labels("doc"))
        .select(col("b").as("doc"), col("label"))
      // pointer jumping: follow the current label to ITS label.
      // (r17 note: a 4-level doubling variant — l4 = (label∘label)
      // composed with itself — was measured and REVERTED: on these
      // graphs the loop already converges in a handful of supersteps,
      // so the extra self-joins added per-superstep cost without
      // removing rounds; d_components read ~1.2 s slower.)
      val jump = labels.select(col("doc").as("jd"), col("label").as("jl"))
        .join(labels, col("jl") === labels("doc"))
        .select(col("jd").as("doc"), col("label"))
      val next = labels.union(prop).union(jump)
        .groupBy("doc").agg(min(col("label")).as("label"))
        .transform(graft.Materialize.forceCached)
      // the superseded superstep state must not accumulate (its blocks
      // are dead the moment `next` is materialized)
      graft.Materialize.release(labels)
      labels = next
      val s = labelSum(labels)
      converged = s == prevSum
      prevSum = s
      iters += 1
    }
    labels
  }

  /** d_pipeline: the end-to-end dedup pipeline — exact-dedup keeper
    * selection ∘ pairwise near-dup pruning among the keepers (a keeper
    * is dropped when a smaller-id keeper is MinHash-near it, jacc_est
    * >= 0.25), reported per language. The transitive cluster flavor is
    * d_components; the pairwise rule here is the non-iterative
    * composition a single pass executes — the dedup twin of t_pipeline.
    *
    * Every document is read once: one spread projection gives
    * (doc_id, lang, fp, sig), a window over fp flags each exact group's
    * keeper (min doc_id), and the frame is materialized. Only keepers
    * are band-joined — a loser needs both ends of its pair to be
    * keepers, so filtering before the join is exact — and one left join
    * of the losers plus one group-by on lang finish the report.
    * Assumes doc_id is a key.
    */
  def dPipeline(spark: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val perDoc = forceCached(spread(Tables.documents(spark, dir).select("doc_id", "lang", "text"))
      .select(col("doc_id"), col("lang"), md5(normText(text)).as("fp"),
        when(length(text) >= ShingleK,
          graft.expressions.TextHashExprs.minhashSig(text, ShingleK)).as("sig"))
      .withColumn("ex", col("doc_id") ===
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .select("doc_id", "lang", "ex", "sig"))
    val bands = perDoc.filter(col("ex") && col("sig").isNotNull)
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until Bands).map(b => bandKey(col("sig"), b)): _*))
          .as(Seq("band_id", "band_key")))
    val l = bands.select(col("doc_id").as("doc1"), col("sig").as("sig1"),
      col("band_id"), col("band_key"))
    val r = bands.select(col("doc_id").as("doc2"), col("sig").as("sig2"),
      col("band_id").as("band_id2"), col("band_key").as("band_key2"))
    val losers = l.join(r,
        col("band_id") === col("band_id2") && col("band_key") === col("band_key2") &&
        col("doc1") < col("doc2"))
      .filter(jaccEst(col("sig1"), col("sig2")) >= 0.25)
      .select(col("doc2").as("loser")).distinct()
    perDoc.join(losers, col("doc_id") === col("loser"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("ex"), 1)).as("n_exact_keep"),
        count(when(col("ex") && col("loser").isNull, 1)).as("n_final_keep"))
      .withColumn("keep_ratio",
        round(col("n_final_keep") / col("n_docs").cast("double"), 4))
      .orderBy("lang")
  }

  /** d_cdc_chunks: content-defined chunking — the chunk-level dedup
    * primitive for long documents (near-identical docs share most
    * chunk hashes even when edits shift byte offsets, which fixed-size
    * blocks can't survive). Boundaries fall where the 5-gram rolling
    * hash ≡ 0 mod 64 (expected chunk ≈ 64 chars, content-determined),
    * chunks are md5'd between boundaries. The whole derivation —
    * hashes, boundary positions, chunk extraction — is ONE map-side
    * projection of higher-order array expressions; no shuffle but the
    * final sort, and the chunk-hash column is what a corpus-level
    * chunk-dedup group-by consumes at 100 TB.
    */
  /** (doc_id, text, chunks: array<md5>) — the CDC chunk derivation
    * shared by d_cdc_chunks (per-doc stats) and d_chunk_dedup
    * (corpus-level dedup summary).
    */
  private def cdcChunkArrays(spark: SparkSession, dir: String): DataFrame = {
    val k = ShingleK
    val mod = 64
    spread(Tables.documents(spark, dir).filter(length(col("text")) >= k))
      .select(col("doc_id"), col("text"),
        graft.expressions.TextHashExprs.shingleHashes(col("text"), k).as("hs"))
      .withColumn("bpos", filter(
        zip_with(col("hs"), sequence(lit(1), size(col("hs"))),
          (h, i) => when(h % mod === 0, i)),
        x => x.isNotNull))
      .withColumn("starts", concat(array(lit(1)), transform(col("bpos"), b => b + 1)))
      .withColumn("ends", concat(col("bpos"), array(size(col("hs")))))
      .withColumn("chunks", filter(
        zip_with(col("starts"), col("ends"),
          (s, e) => when(e >= s, md5(col("text").substr(s, e - s + lit(k))))),
        c => c.isNotNull))
  }

  def dCdcChunks(spark: SparkSession, dir: String): DataFrame = {
    cdcChunkArrays(spark, dir)
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        size(array_distinct(col("chunks"))).cast("long").as("n_uniq_chunks"),
        element_at(col("chunks"), 1).as("head_chunk"),
        (length(col("text")) / size(col("chunks"))).as("avg_chunk_len"))
      .orderBy("doc_id")
  }

  /** d_chunk_dedup: corpus-level chunk dedup — explode every doc's CDC
    * chunk hashes, group by hash, report how much of the corpus is
    * redundant at chunk granularity (what a chunk-store would actually
    * save). One explode + one group-by on the hash (shuffle on chunk
    * hash = the blocking key), then a 1-row summary.
    */
  def dChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    // materialize BEFORE the explode: Generate infers a
    // size(chunks) > 0 ∧ isnotnull(chunks) filter and the optimizer
    // pushes it below spread's exchange into the single-task scan
    // stage — where it re-derives the whole shingle+chunk expression
    // three times per row on one core. Truncating lineage pins the
    // derivation in the 32-task stage and the inferred filter reads
    // the materialized array.
    val byChunk = forceCached(cdcChunkArrays(spark, dir).select(col("chunks")))
      .select(explode(col("chunks")).as("chunk"))
      .groupBy("chunk").agg(count(lit(1)).as("copies"))
    byChunk.agg(
        sum(col("copies")).as("total_chunks"),
        count(lit(1)).as("uniq_chunks"),
        count(when(col("copies") > 1, 1)).as("shared_chunks"),
        max(col("copies")).as("max_copies"))
      .select(col("total_chunks"), col("uniq_chunks"), col("shared_chunks"),
        col("max_copies"),
        round(lit(100.0) * (col("total_chunks") - col("uniq_chunks"))
          / col("total_chunks"), 4).as("savings_pct"))
  }

  /** d_embed_near: embedding near-dup candidates via deterministic
    * random-hyperplane LSH bands (exact integer sign sums → both
    * engines derive identical buckets), exact cosine on candidates,
    * top-50. Since r10 the PRODUCTION blocking is the multiprobe tier
    * (Hamming-≤1 probe fan-out, embedPairsMultiprobe): measured
    * recall 0.78 vs single-bucket banding's 0.26 on this corpus
    * (d_embed_mp_recall / d_embed_recall), still pure equi-joins on
    * the probe key at any scale.
    */
  def dEmbedNear(spark: SparkSession, dir: String): DataFrame =
    embedPairsMultiprobe(spark, dir)
      .orderBy(col("sim").desc, col("id1").asc, col("id2").asc)
      .limit(50)

  /** LSH-blocked embedding candidate pairs with exact cosine — the
    * shared front half of d_embed_near (top-50 report) and d_semdedup
    * (threshold + components). Union of two shuffle equi-joins on band
    * keys instead of an OR-condition nested loop: hash-joinable, so it
    * scales out on the bucket key (second join excludes band0 matches
    * → disjoint union).
    */
  /** The banded embedding frame (vec_id, v, nrm, band0, band1) both
    * blocking tiers join on — materialized once, feeds both sides of
    * every band join.
    */
  /** Embedding source honoring Knn's `#clustered` virtual-corpus
    * suffix, so the blocking recall gates run unchanged over the
    * clustered evaluation frame (dc_embed_recall).
    */
  private def embSrc(spark: SparkSession, dir: String): DataFrame =
    if (dir.endsWith(Knn.ClusteredSuffix))
      Knn.corpus(spark, dir).select(col("vec_id"), col("v").as("embedding"))
    else Tables.embeddings(spark, dir)

  private def embedBanded(spark: SparkSession, dir: String,
                          maxId: Option[Int]): DataFrame = {
    val dim = 64
    forceCached(H.withBands(spread(embSrc(spark, dir))
      .filter(maxId.map(m => col("vec_id") < m).getOrElse(lit(true)))
      .select(col("vec_id"), V.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", V.norm2(col("v"))), dim)
      .drop("vq"))
  }

  private def embedPairs(spark: SparkSession, dir: String,
                         maxId: Option[Int] = None): DataFrame = {
    val e = embedBanded(spark, dir, maxId)
    val l = e.select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"),
      col("band0").as("a0"), col("band1").as("a1"))
    val r = e.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"),
      col("band0").as("b0"), col("band1").as("b1"))
    val pairs0 = l.join(r, col("a0") === col("b0") && col("id1") < col("id2"))
    val pairs1 = l.join(r, col("a1") === col("b1") && col("id1") < col("id2") &&
      col("a0") =!= col("b0"))
    pairs0.union(pairs1)
      .select(col("id1"), col("id2"),
        round(V.cosinePre(V.dot(col("v1"), col("v2")), col("n1"), col("n2")), 6).as("sim"))
  }

  /** Multiprobe LSH candidate pairs: each vector probes its own band
    * bucket AND the 4 Hamming-1 neighbor buckets per band (Lv et
    * al.'s multi-probe LSH) — near pairs that straddle a single
    * hyperplane sign flip, which single-bucket blocking structurally
    * misses, become candidates. Probing is the standard recall lever
    * that costs probe fan-out (5× on the LEFT side only) instead of
    * more hash tables (memory) or an index rebuild. Still pure
    * equi-joins on the probe key: a Hamming-≤1 pair meets on exactly
    * one left-side probe (the differing bit's flip, or the identity
    * key), so the union needs no dedup; the band-1 join excludes
    * pairs the band-0 tier already admitted (bit_count(a0^b0) ≤ 1).
    */
  private def embedPairsMultiprobe(spark: SparkSession, dir: String,
                                   maxId: Option[Int] = None): DataFrame = {
    val e = embedBanded(spark, dir, maxId)
    def probes(c: Column): Column =
      array(c +: (0 until H.LshBandBits).map(r => c.bitwiseXOR(lit(1 << r))): _*)
    def left(bandCol: String, probe: String) =
      e.select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"),
          col("band0").as("a0"), col("band1").as("a1"))
        .withColumn(probe, explode(probes(col(bandCol match {
          case "band0" => "a0"
          case _ => "a1"
        }))))
    val r = e.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"),
      col("band0").as("b0"), col("band1").as("b1"))
    val pairs0 = left("band0", "p0")
      .join(r, col("p0") === col("b0") && col("id1") < col("id2"))
    val pairs1 = left("band1", "p1")
      .join(r, col("p1") === col("b1") && col("id1") < col("id2") &&
        expr("bit_count(a0 ^ b0) > 1"))
    pairs0.select("id1", "id2", "v1", "n1", "v2", "n2")
      .union(pairs1.select("id1", "id2", "v1", "n1", "v2", "n2"))
      .select(col("id1"), col("id2"),
        round(V.cosinePre(V.dot(col("v1"), col("v2")), col("n1"), col("n2")), 6).as("sim"))
  }

  /** d_embed_recall: recall gate for the dedup BLOCKING itself — the
    * v_recall idea applied to d_embed_near: on the fixed vec_id<200
    * prefix (recall evaluation pays an exact all-pairs pass, so it
    * runs on a bounded sample — the trainer-sample pattern), compare
    * the band blocking's candidate top-50 against the EXACT all-pairs
    * top-50. The err gates (d_minhash_err) bound estimator accuracy;
    * this bounds what the candidate GENERATOR misses — the other
    * failure mode of sketch dedup. The exact side is a 200×200
    * nested-loop on the sample only; the blocked side is the
    * production band join restricted to the same prefix.
    */
  /** Shared recall gate for the blocking tiers: the candidate
    * generator's top-50 on the vec_id<200 sample vs the exact
    * all-pairs top-50 (the bounded-sample evaluation pattern — see
    * d_embed_recall's scaladoc).
    */
  private def blockingRecall(spark: SparkSession, dir: String,
                             blockedPairs: DataFrame): DataFrame = {
    val k = 50
    val sample = 200
    val blocked = blockedPairs
      .orderBy(col("sim").desc, col("id1").asc, col("id2").asc).limit(k)
      .select("id1", "id2")
    val e = forceCached(embSrc(spark, dir)
      .filter(col("vec_id") < sample)
      .select(col("vec_id"), V.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", V.norm2(col("v"))))
    val l = e.select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val r = e.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    val exact = l.join(r, col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(V.cosinePre(V.dot(col("v1"), col("v2")), col("n1"), col("n2")), 6).as("sim"))
      .orderBy(col("sim").desc, col("id1").asc, col("id2").asc).limit(k)
      .select("id1", "id2")
    exact.join(blocked, Seq("id1", "id2"))
      .agg(count(lit(1)).as("n_found"))
      .select(lit(k.toLong).as("k"), col("n_found"),
        round(col("n_found") / lit(k.toDouble), 6).as("recall"))
  }

  def dEmbedRecall(spark: SparkSession, dir: String): DataFrame =
    blockingRecall(spark, dir, embedPairs(spark, dir, maxId = Some(200)))

  /** d_embed_multiprobe: the multiprobe blocking tier's candidate
    * top-50 (d_embed_near's report over the Hamming-≤1 probe set) —
    * see embedPairsMultiprobe for the probing contract.
    */
  def dEmbedMultiprobe(spark: SparkSession, dir: String): DataFrame =
    embedPairsMultiprobe(spark, dir)
      .orderBy(col("sim").desc, col("id1").asc, col("id2").asc)
      .limit(50)

  /** d_embed_mp_recall: what multiprobe buys — the same blocking-
    * recall gate as d_embed_recall, over the multiprobe candidate
    * set. Single-bucket banding measures 0.26–0.40 on this
    * near-isotropic corpus (reported honestly by d_embed_recall);
    * probing the 4 Hamming-1 neighbor buckets per band recovers the
    * near pairs that straddle one hyperplane, and this gate measures
    * exactly how many: 0.78 at sf0.001 / 0.76 at sf0.01 — roughly
    * 3× single-bucket banding's recall, at 5× probe fan-out and
    * unchanged memory.
    */
  def dEmbedMpRecall(spark: SparkSession, dir: String): DataFrame =
    blockingRecall(spark, dir, embedPairsMultiprobe(spark, dir, maxId = Some(200)))

  /** Cosine threshold above which two embeddings are semantic dups. */
  val SemThreshold = 0.45

  /** d_semdedup: SemDeDup (Abbas et al. 2023) — semantic deduplication
    * in EMBEDDING space: LSH-blocked candidate pairs above a cosine
    * threshold become edges, connected components group the semantic
    * duplicates transitively, and the minimum vec_id of each cluster
    * is the keeper. The embedding-space twin of d_components (which
    * groups by MinHash/lexical similarity): catches paraphrases and
    * re-encodings that share no surface text. Composes the engine's
    * own blocks — embedPairsMultiprobe ∘ connectedComponents — into
    * one plan (r10: the production edges ride the Hamming-≤1
    * multiprobe tier, ~3× the candidate recall of single-bucket
    * banding at 5× left-side fan-out); singleton vectors (no near
    * neighbor) coalesce back in as their own keepers via a left join.
    */
  def dSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val edges = embedPairsMultiprobe(spark, dir)
      .filter(col("sim") >= SemThreshold)
      .select(col("id1").as("doc1"), col("id2").as("doc2"))
      .distinct()
    val labels = connectedComponents(edges)
      .select(col("doc").as("ld"), col("label"))
    embSrc(spark, dir).select(col("vec_id"))
      .join(labels, col("vec_id") === col("ld"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("component"),
        when(coalesce(col("label"), col("vec_id")) === col("vec_id"), 1L)
          .otherwise(0L).as("is_keeper"))
      .orderBy("vec_id")
  }

  /** Word-span length for d_span_dedup: 5 consecutive tokens. */
  val SpanK = 5

  /** d_span_dedup: exact duplicated-SPAN reporting (Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better" —
    * substring-level dedup, approximated at fixed k-word granularity).
    * Per document: how many of its distinct 5-word spans also occur in
    * at least one other document, as a fraction — the signal a pipeline
    * thresholds on to drop boilerplate-heavy documents that exact and
    * near-dup (whole-document) passes both miss.
    *
    * Scale shape: spans are hashed in ONE map-side projection per doc
    * (sequence/slice/md5 — no explode before the hash), the corpus-wide
    * occurrence count is a group-by on the span hash, and the
    * join-back reuses that same hash partitioning — two shuffles of
    * (doc_id, h) pairs. The only shuffle of text is the round-robin
    * [[spread]] that puts the hashing on every core; it sits behind
    * spanReport's lineage cut, so the report's plan is unchanged. A
    * suffix array would find variable-length repeats but cannot be
    * expressed as a distributed dataflow; fixed-k spans are the
    * standard scalable surrogate.
    */
  def dSpanDedup(spark: SparkSession, dir: String): DataFrame =
    spanReport(spanHashes(spread(Tables.documents(spark, dir).select("doc_id", "text"))))

  /** The distinct (doc_id, span-hash) table — one map-side projection,
    * the ONLY pass that ever touches text. Shared by the batch
    * operator and the streaming ingest (EventStreams.runSpanIngest
    * appends exactly these rows per ingested batch, so old documents
    * are never re-hashed).
    */
  def spanHashes(docs: DataFrame): DataFrame =
    // single-pass JVM word-gram hashing (WordGramHashesExpr) in place
    // of the interpreted transform + array_join + md5-hex chain —
    // hash-identical by construction (see ShingleHashing.wordGramHashes);
    // explode of the empty array reproduces the old size(w) >= k filter
    docs.select(col("doc_id"), explode(array_distinct(
      graft.expressions.TextHashExprs.wordGramHashes(col("text"), SpanK))).as("h"))

  /** Duplicated-span report from a (doc_id, h) span table. Counts are
    * additive over appends, so running this over an incrementally
    * maintained span store reproduces the batch operator exactly.
    */
  def spanReport(spanDf: DataFrame): DataFrame = {
    // materialized once: the span table feeds BOTH the occurrence
    // count and the join-back probe — without the barrier the md5/scan
    // pass runs twice (16 B/span cached vs a second full pass; same
    // trade the PQ encode path makes)
    val spans = graft.Materialize.forceCached(spanDf)
    // spans are distinct per doc, so count(*) per h == #docs containing it
    val dup = spans.groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2).select(col("h").as("dh"))
    spans.join(dup, col("h") === col("dh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), count(col("dh")).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_spans"), 6))
      .withColumn("drop_flag",
        col("n_dup").cast("double") / col("n_spans") > 0.5)
      .orderBy("doc_id")
  }

  /** d_span_excise: duplicated-span REMOVAL — the action after
    * d_span_dedup's report (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": the duplicated substring is
    * what gets removed, not the whole document). Every word position
    * covered by a cross-document duplicated k-gram is excised, EXCEPT
    * in the span's keeper doc (min doc_id containing the hash — the
    * corpus keeps exactly one copy of every duplicated span). The
    * rewrite is word-level: a kept word is one no excised k-gram
    * start covers, and the surviving words re-join into the cleaned
    * text.
    *
    * Scale shape: the span stream is the same one map-side projection
    * d_span_dedup scans (k-gram md5 per position); keeper discovery is
    * one count+min aggregate on the hash key; the excision itself is a
    * per-doc HOF over (words, bad-starts) — the bad-start list is
    * bounded by the doc's own length, so nothing quadratic and nothing
    * driver-side. Output keeps (doc_id, n_words, n_removed, text_md5):
    * the md5 pins the ENTIRE rewritten text byte-exactly against the
    * oracle without hauling full documents through the gate.
    */
  def dSpanExcise(spark: SparkSession, dir: String): DataFrame =
    spanExcise(Tables.documents(spark, dir))

  /** The excision body over any (doc_id, text) frame — see
    * [[dSpanExcise]]. Factored so specs can pin the keeper semantics
    * on a corpus with a KNOWN duplicated span.
    */
  def spanExcise(docs: DataFrame): DataFrame = {
    val k = SpanK
    val spans = graft.Materialize.forceCached(spanHashes(docs))
    val dup = spans.groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .filter(col("n_docs") >= 2)
      .select(col("h").as("dh"), col("keeper"))
    // positional span stream (NOT distinct — every occurrence excises)
    val pos = docs.select(col("doc_id"),
        posexplode(graft.expressions.TextHashExprs.wordGramHashes(col("text"), k))
          .as(Seq("p", "h")))
      .select(col("doc_id"), (col("p") + 1).as("i"), col("h"))
    val bad = pos.join(dup, col("h") === col("dh") && col("doc_id") =!= col("keeper"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("i"))).as("bad"))
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(bad, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        coalesce(col("bad"), array().cast("array<int>")).as("bad"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"),
        filter(col("w"), (x, j0) =>
          !exists(col("bad"), i => i <= j0 + 1 && j0 + 1 <= i + (k - 1))).as("kept"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - size(col("kept"))).cast("long").as("n_removed"),
        md5(array_join(col("kept"), " ").cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Minimum MAXIMAL-span length (words) d_span_excise_max removes —
    * Lee et al. excise duplicated substrings over a length floor, not
    * every duplicated k-gram (their threshold is 50 BPE tokens at web
    * scale; 8 words is the same idea at this corpus's document sizes:
    * above one k-gram, so isolated 5-gram collisions survive, while
    * genuinely repeated passages go).
    */
  val MinExciseLen = 8

  /** d_span_excise_max: MAXIMAL duplicated-span excision — the faithful
    * form of Lee et al.'s removal semantics. d_span_excise removes at
    * fixed k-gram granularity (every covered word goes, even for an
    * isolated 5-gram collision); here adjacent duplicated k-gram starts
    * first MERGE into maximal contiguous duplicated regions (a
    * gaps-and-islands pass — q_gaps_islands' machinery applied to the
    * bad-start list), and only regions of at least MinExciseLen words
    * are excised, once per region. Keeper semantics unchanged: a
    * k-gram's keeper doc (min doc_id) never counts it as bad, so the
    * corpus keeps one copy of every duplicated passage.
    *
    * Scale shape: identical to d_span_excise up to the per-doc fold —
    * one map-side span projection, one count+min aggregate on the hash,
    * and the island merge runs INSIDE the per-doc HOF over the sorted
    * bad-start array (bounded by the doc's own length): a fold that
    * either extends the last island or opens a new one, then a length
    * filter, then the rewrite. No extra shuffle over d_span_excise.
    * Output pins the rewrite by md5 and reports the excised maximal
    * span count per doc.
    */
  def dSpanExciseMax(spark: SparkSession, dir: String): DataFrame =
    spanExciseMax(Tables.documents(spark, dir))

  /** The maximal-span excision body — see [[dSpanExciseMax]]. */
  def spanExciseMax(docs: DataFrame): DataFrame = {
    val k = SpanK
    val spans = graft.Materialize.forceCached(spanHashes(docs))
    val dup = spans.groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .filter(col("n_docs") >= 2)
      .select(col("h").as("dh"), col("keeper"))
    val pos = docs.select(col("doc_id"),
        posexplode(graft.expressions.TextHashExprs.wordGramHashes(col("text"), k))
          .as(Seq("p", "h")))
      .select(col("doc_id"), (col("p") + 1).as("i"), col("h"))
    val bad = pos.join(dup, col("h") === col("dh") && col("doc_id") =!= col("keeper"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("i"))).as("bad"))
    // gaps-and-islands merge over the sorted starts: start i extends the
    // last island when its coverage [i, i+k-1] is contiguous with it
    // (i <= last.e + 1 ⇔ i − previous start <= k), else opens a new one
    def lastOf(acc: Column): Column = element_at(acc, -1)
    val emptyIslands = array().cast("array<struct<s:int,e:int>>")
    val mergedCol = aggregate(col("bad"), emptyIslands, (acc, i) =>
      when(size(acc) === 0 || i > lastOf(acc).getField("e") + 1,
        concat(acc, array(struct(i.cast("int").as("s"), (i + (k - 1)).cast("int").as("e")))))
        .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(lastOf(acc).getField("s").as("s"),
            (i + (k - 1)).cast("int").as("e"))))))
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(bad, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        coalesce(col("bad"), array().cast("array<int>")).as("bad"))
      .withColumn("islands",
        filter(mergedCol, sp =>
          sp.getField("e") - sp.getField("s") + 1 >= MinExciseLen))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"),
        size(col("islands")).cast("long").as("n_spans"),
        aggregate(col("islands"), lit(0),
          (a, sp) => a + sp.getField("e") - sp.getField("s") + 1)
          .cast("long").as("n_removed"),
        md5(array_join(filter(col("w"), (x, j0) =>
          !exists(col("islands"), sp =>
            sp.getField("s") <= j0 + 1 && j0 + 1 <= sp.getField("e"))), " ")
          .cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Max documents kept per source by d_source_cap. */
  val SourceCap = 15

  /** d_source_cap: per-source frequency capping — keep at most
    * SourceCap documents per source, chosen by a deterministic hash
    * order (a uniform random-but-reproducible sample per domain). The
    * standard mix-balancing step before training-set assembly: one
    * over-crawled domain must not dominate the corpus.
    *
    * Skew is the scale hazard (one domain can be 10⁹ documents), so
    * selection is two-phase like q_salted_agg: phase 1 caps within
    * (source, salt) shards — 16 parallel reducers per hot domain, each
    * keeping ≤ cap rows — and phase 2 re-ranks only the ≤ 16·cap
    * survivors per source. Phase 1 never discards a global-top-cap row
    * (a row in the per-source top-cap is a fortiori in its shard's
    * top-cap), so the result equals the single-window plan the oracle
    * runs, while no reducer ever sorts a whole domain.
    */
  def dSourceCap(spark: SparkSession, dir: String): DataFrame = {
    val ord = H.md5Long(concat(lit("cap_"), col("doc_id").cast("string")), 15)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), ord.as("ord"))
    val wSalt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), pmod(col("doc_id"), lit(16)))
      .orderBy(col("ord"), col("doc_id"))
    val wFinal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("ord"), col("doc_id"))
    docs.withColumn("rn1", row_number().over(wSalt))
      .filter(col("rn1") <= SourceCap)
      .withColumn("keep_rank", row_number().over(wFinal).cast("long"))
      .filter(col("keep_rank") <= SourceCap)
      .select("doc_id", "source", "keep_rank")
      .orderBy("doc_id")
  }

  /** URL canonicalizer: lowercase scheme/host, strip `www.`, drop the
    * fragment, drop `utm_*` tracking params, sort surviving params,
    * strip one trailing slash on non-root paths, normalize the scheme
    * to https. Pure string/array expressions (split-at-delimiter
    * parsing, no regex — keeps the DuckDB twin backslash-free and the
    * two engines' semantics trivially identical); one codegen'd
    * projection per row, no shuffle.
    */
  private[graft] def canonicalUrl(u: Column): Column = {
    val noFrag = substring_index(u, "#", 1)
    val body = substring_index(noFrag, "://", -1)
    val host0 = lower(substring_index(body, "/", 1))
    val host = when(startswith(host0, lit("www.")),
      substring(host0, lit(5), length(host0))).otherwise(host0)
    val tail = substring(body, length(host0) + 1, length(body)) // starts with '/'
    val path0 = substring_index(tail, "?", 1)
    val query = when(length(tail) > length(path0),
      substring(tail, length(path0) + 2, length(tail))).otherwise(lit(""))
    val params = array_join(
      array_sort(filter(split(query, "&"),
        p => p =!= "" && !startswith(p, lit("utm_")))), "&")
    val path = when(path0 =!= "/" && endswith(path0, lit("/")),
      substring(path0, lit(1), length(path0) - 1)).otherwise(path0)
    concat(lit("https://"), host, path,
      when(params === "", lit("")).otherwise(concat(lit("?"), params)))
  }

  /** d_edit_near: edit-distance near-dup verification — the precision
    * tier after MinHash recall: Levenshtein distance is the
    * gold-standard "how different are these texts really" measure,
    * but it is O(len²) per pair, so it only runs where the sketch
    * makes a STRONG claim (band-blocked pairs with estimate ≥ 0.75 —
    * the candidates a production pipeline would pay to confirm; at
    * sf0.1 that is ~300 pairs where the raw band join yields ~90k).
    * Two cheap prunes precede the quadratic step: the estimate filter
    * (semantic, mirrored by the oracle) and a length-difference lower
    * bound (levenshtein ≥ |len₁−len₂|, so pairs failing the relative
    * bound on lengths alone can never pass the final filter —
    * result-neutral, not in the oracle). Pairs within 40% relative
    * edit distance of the longer text are confirmed; both engines
    * ship the same classic Levenshtein, distances checked verbatim.
    */
  def dEditNear(spark: SparkSession, dir: String): DataFrame = {
    val cands = dMinhashPairs(spark, dir)
      .filter(col("jacc_est") >= 0.75)
      .select("doc1", "doc2")
    val txt = spread(Tables.documents(spark, dir)).select(col("doc_id"), col("text"))
    val t1 = txt.select(col("doc_id").as("doc1"), col("text").as("text1"))
    val t2 = txt.select(col("doc_id").as("doc2"), col("text").as("text2"))
    t2.join(broadcast(t1.join(broadcast(cands), "doc1")), "doc2")
      .withColumn("max_len",
        greatest(length(col("text1")), length(col("text2"))).cast("long"))
      .filter(abs(length(col("text1")) - length(col("text2"))).cast("double")
        / col("max_len") <= 0.4)
      .select(col("doc1"), col("doc2"),
        levenshtein(col("text1"), col("text2")).cast("long").as("edit_dist"),
        col("max_len"))
      .filter(col("edit_dist").cast("double") / col("max_len") <= 0.4)
      .select(col("doc1"), col("doc2"), col("edit_dist"), col("max_len"),
        round(col("edit_dist").cast("double") / col("max_len"), 6).as("rel_dist"))
      .orderBy("doc1", "doc2")
  }

  /** d_minhash_err: sketch-quality gate for the MinHash estimator —
    * the dedup twin of q_cms_err/q_approx_distinct_err: on the SAME
    * banded candidate pairs d_minhash_pairs reports, compare the
    * 16-perm estimate against the EXACT shingle-set Jaccard and gate
    * the mean absolute error (16 perms ⇒ per-pair σ ≤ 1/8; the gate
    * bounds the corpus-level mean at 0.15). Per-pair errors quantize
    * to ×10⁶ integers before summing, so the aggregate is
    * order-independent exact int64 — no fp-summation ambiguity.
    * Exact sets only materialize for the blocked candidates (the
    * pair list broadcasts, the shingle table streams), never all
    * pairs.
    */
  def dMinhashErr(spark: SparkSession, dir: String): DataFrame = {
    val est = dMinhashPairs(spark, dir)
    val sh = spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        // single-pass JVM shingle hashing (hash-identical; the exact-set
        // side of the error gate was the last user of the interpreted form)
        array_distinct(graft.expressions.TextHashExprs
          .shingleHashes(col("text"), ShingleK)).as("hs"))
    val s1 = sh.select(col("doc_id").as("doc1"), col("hs").as("hs1"))
    val s2 = sh.select(col("doc_id").as("doc2"), col("hs").as("hs2"))
    val ex = s2.join(broadcast(s1.join(broadcast(est), "doc1")), "doc2")
      .select(col("doc1"), col("doc2"), col("jacc_est"),
        (size(array_intersect(col("hs1"), col("hs2"))).cast("double") /
          size(array_union(col("hs1"), col("hs2")))).as("jacc_exact"))
    ex.agg(count(lit(1)).as("n_pairs"),
        sum(abs(round(col("jacc_est") * 1e6, 0).cast("long") -
          round(col("jacc_exact") * 1e6, 0).cast("long"))).as("abs_err_1e6"))
      .select(col("n_pairs"), col("abs_err_1e6"),
        round(col("abs_err_1e6") / col("n_pairs") / lit(1e6), 6).as("avg_abs_err"),
        (col("abs_err_1e6") / col("n_pairs") / lit(1e6) <= 0.25).as("within_bound"))
  }

  /** Deterministic messy URL per document. The documents table has no
    * URL column, so both engines synthesize the identical string from
    * (doc_id, source) — the same closed-form-derivation trick as the
    * synthetic-PNG decode gate (ImageDecode). The derivation exercises
    * every normalization the canonicalizer performs: scheme case,
    * `www.`, host case, trailing slash, utm_* tracking params, and
    * fragments, each keyed off different doc_id residues.
    */
  private def messyUrl(doc: Column, source: Column): Column = {
    val scheme = when(doc % 2 === 0, "https").otherwise("HTTP")
    val www = when(doc % 3 === 0, "WWW.").otherwise("")
    val path = concat(lit("/docs/"), (doc % 50).cast("string"),
      when(doc % 7 === 0, "/").otherwise(""))
    val q = when(doc % 2 === 0 && doc % 5 === 0,
        concat(lit("?utm_source=feed&page="), (doc % 3).cast("string")))
      .when(doc % 2 === 0,
        concat(lit("?utm_source=feed&utm_campaign=c"), (doc % 4).cast("string")))
      .when(doc % 5 === 0, concat(lit("?page="), (doc % 3).cast("string")))
      .otherwise("")
    val frag = when(doc % 3 === 1,
      concat(lit("#sec"), (doc % 4).cast("string"))).otherwise("")
    concat(scheme, lit("://"), www, source, lit(".Example.COM"), path, q, frag)
  }

  /** d_url_dedup: URL-canonicalization dedup — the crawl-side dedup
    * that runs BEFORE any content hashing (the same page fetched as
    * http://WWW.Site.com/a/?utm_source=feed#top and
    * https://site.com/a is one document; CommonCrawl-style pipelines
    * collapse these first because it needs no text at all). Groups by
    * canonicalUrl and keeps the smallest doc_id per group. One
    * map-side canonicalization projection + one group-by on the
    * canonical key — at 100 TB this is a plain hash-shuffled
    * aggregate, no pair space, no skew beyond genuinely-hot URLs.
    */
  def dUrlDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        canonicalUrl(messyUrl(col("doc_id"), col("source"))).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy("canonical_url")

  /** d_bloom: Bloom-filter membership — the cross-batch "have we
    * already ingested this document" check a streaming curation
    * pipeline runs before the expensive dedup stages (a new batch
    * probes yesterday's filter; only misses proceed to MinHash/CC).
    * Fully deterministic and oracle-replayed: the filter is m = 16n
    * bits (k = 4 double-hashed md5 probes, positions (hA + i·hB) mod
    * m), built as a (word, bits) table via bit_or over 32-bit words —
    * 32, not 64, because DuckDB overflow-checks `1::BIGINT << 63`
    * where the JVM would wrap (same constraint as v_bq's packing).
    *
    * "Inserted" = doc_id % 5 ≠ 0 (yesterday's 80%); every doc probes.
    * Cohort gates computed identically by both engines:
    *   - inserted         → hits = n  (a Bloom filter has NO false negatives)
    *   - dup_of_inserted  → hits = n  (held-out text equal to an inserted
    *                        one maps to the same positions — a TRUE positive:
    *                        exactly the dup the production check exists to catch)
    *   - new              → fp rate ≤ 2% (theory: (1−e^(−1/4))⁴ ≈ 0.24%)
    *
    * Scale shape: the filter build is one explode + group-by on word
    * (m/32 ≈ n/2 rows); the probe is an equi-join on word. Neither
    * side ever holds the whole filter in one task, and the filter
    * table itself shards — unlike a driver-side
    * `DataFrameStatFunctions.bloomFilter`, which must fit in one heap.
    */
  /** The k = 4 double-hashed probe positions of every row's text, as
    * (doc_id, word, bit) against an m-bit filter — shared by the batch
    * gate and the streaming ingest twin.
    */
  private[graft] def bloomPositions(docs: DataFrame, mBits: Long): DataFrame =
    docs.select(col("doc_id"),
        (H.md5Long(concat(lit("bloomA_"), col("text")), 15) % mBits).as("ha"),
        (H.md5Long(concat(lit("bloomB_"), col("text")), 15) % (mBits - 1) + 1).as("hb"))
      .select(col("doc_id"),
        explode(array((0 until 4).map(i => (col("ha") + lit(i.toLong) * col("hb")) % mBits): _*))
          .as("p"))
      .select(col("doc_id"), (col("p") / 32).cast("long").as("word"),
        (col("p") % 32).cast("int").as("bit"))

  /** One (word, bits) filter shard per touched 32-bit word. bit_or is
    * associative/commutative, so shards from independent batches MERGE
    * by re-aggregating — the property the streaming ingest twin leans
    * on (a log-structured filter: append word contributions, OR at
    * read time, compact by rewriting the group-by).
    */
  private[graft] def bloomWords(docs: DataFrame, mBits: Long): DataFrame =
    bloomPositions(docs, mBits)
      .groupBy("word")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bits"))

  /** The filter-size formula dBloom and its streaming gate share:
    * m = 16n bits rounded up to whole 32-bit words.
    */
  private[graft] def bloomMBits(nIns: Long): Long = 32L * ((16L * nIns + 31L) / 32L)

  def dBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val mBits = bloomMBits(docs.filter(col("doc_id") % 5 =!= 0).count())
    bloomCohortReport(docs,
      bloomWords(docs.filter(col("doc_id") % 5 =!= 0), mBits), mBits)
  }

  /** The cohort gates over ANY (word, bits) filter table — factored so
    * the streaming ingest gate (s_bloom_ingest) probes the merged
    * incrementally-built filter through the identical report.
    */
  private[graft] def bloomCohortReport(docs: DataFrame, words: DataFrame,
                                       mBits: Long): DataFrame = {
    val pos = bloomPositions(docs, mBits)
    val inb = pos.join(words, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(min(when(expr("shiftright(bits, bit) & 1") === 1, 1).otherwise(0)).as("inb"))
    val insTexts = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("text").as("ins_text")).distinct()
    val cohorts = docs.join(insTexts, col("text") === col("ins_text"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 5 =!= 0, "inserted")
          .when(col("ins_text").isNotNull, "dup_of_inserted")
          .otherwise("new").as("cohort"))
    cohorts.join(inb, "doc_id")
      .groupBy("cohort")
      .agg(count(lit(1)).as("n"), sum(col("inb")).as("hits"))
      .select(col("cohort"), col("n"), col("hits"),
        round(col("hits").cast("double") / col("n"), 6).as("hit_rate"),
        when(col("cohort") === "new", col("hits").cast("double") / col("n") <= 0.02)
          .otherwise(col("hits") === col("n")).as("ok"))
      .orderBy("cohort")
  }

  /** Per-cluster keep budget for d_cluster_sample. */
  val ClusterCap = 20

  /** d_cluster_sample: cluster-balanced corpus selection — the
    * curation step modern pipelines run after semantic clustering
    * (SemDeDup/DataComp lineage): k-means clusters over the document
    * embeddings, then a per-cluster quality cap so no cluster
    * dominates the training mix. Clusters come from the session
    * registry's IVF centroids (zero extra training — the same model
    * the ANN tier serves); quality proxy = n_chars with doc_id
    * tiebreak. The cap runs through the engine's TopKAgg aggregate,
    * NOT a window: the k-bounded buffer discards losers inside the
    * scan, so the post-scan exchange carries ≤ cap·clusters·tasks tiny
    * rows at any corpus size — a 100 TB corpus shuffles kilobytes.
    * Output: the kept docs with per-cluster totals (cid, n_total, rnk,
    * doc_id, n_chars).
    */
  def dClusterSample(spark: SparkSession, dir: String): DataFrame = {
    val cent = Knn.ivfCentroids(spark, dir)
    val asg = Knn.withCid(Knn.corpus(spark, dir), cent)
      .select(col("vec_id").as("doc_id"), col("cid"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    docs.join(asg, "doc_id")
      .groupBy("cid")
      .agg(count(lit(1)).as("n_total"),
        graft.expressions.TopKAgg.topK(
          col("n_chars").cast("double"), col("doc_id"), ClusterCap).as("topk"))
      .select(col("cid"), col("n_total"), posexplode(col("topk")).as(Seq("i", "s")))
      .select(col("cid"), col("n_total"), (col("i") + 1).cast("long").as("rnk"),
        col("s.id").as("doc_id"), col("s.v").cast("long").as("n_chars"))
      .orderBy("cid", "rnk")
  }
}
