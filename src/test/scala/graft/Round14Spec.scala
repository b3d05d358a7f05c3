package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-14 additions: retrain remediation (IVF + IVF-PQ), the
  * group-committed whole-layout rewrite's atomicity, and the retrain
  * gate's restored-recall separation.
  */
class Round14Spec extends SparkSpec {

  import graft.operators.Knn
  import graft.operators.Safetensors
  import graft.sources.{IvfIndexStore, IvfPqIndexStore, ModelFile, StoreMaintenance => SM}

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A small bounded training mixture over raw ∪ drifted rows — the
    * spec's stand-in for the gate's driftMixedSample (any training
    * frame works for the equivalence contracts below; what matters is
    * that retrain(T) ≡ a fresh build whose models trained on T).
    */
  private def mixture(dir: String): DataFrame = {
    val half = Knn.IvfTrainSample / 2
    val raw = Knn.corpus(spark, dir).select("vec_id", "v", "nrm")
      .filter(col("vec_id") < half)
    val app = Knn.driftFrame(spark, dir)
      .filter(col("vec_id") < Knn.DriftOffset + half)
      .select((col("vec_id") - Knn.DriftOffset + half).as("vec_id"),
        col("v"), col("nrm"))
    raw.union(app)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq

  /** A model as comparable values: (cid, centroid) pairs, flattened
    * codebooks and the brand.
    */
  private def modelValues(m: ModelFile.Model) =
    (m.centroids.map(_.toSeq.map { case (c, v) => (c, v.toSeq) }),
      m.books.map(_.flatten.flatten.toSeq), m.byResidual)

  /** The model file a retrain filed under `version`, decoded. */
  private def retiredModel(path: String, version: Long): ModelFile.Model = {
    val f = new java.io.File(ModelFile.retiredPath(path, version))
    assert(f.isFile, s"pre-retrain model file must be filed at $f")
    ModelFile.decode(Safetensors.read(f.getPath))
  }

  test("IVF retrain: store search ≡ fresh build trained on the same mixture") {
    val base = tmpDir("ivf_retrain")
    val (pathA, pathB) = (s"$base/a", s"$base/b")
    val emb = Tables.embeddings(spark, sf)
    val drift = Knn.driftFrame(spark, sf).select("vec_id", "v")
    val train = mixture(sf)

    // lifecycle under test: write (frozen model) → append → retrain
    IvfIndexStore.write(emb, "vec_id", "embedding", pathA,
      model = Some(Knn.ivfCentroids(spark, sf)))
    IvfIndexStore.append(drift, "vec_id", "v", pathA)
    val preIds = ids(spark.read.parquet(pathA))
    val version = IvfIndexStore.retrain(spark, pathA, train)

    // reference: ONE build of the union under the SAME retrained model
    val cents = Knn.trainIvf(train)
    IvfIndexStore.write(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .union(drift), "vec_id", "v", pathB, model = Some(cents))

    val q = drift.filter(col("vec_id") < Knn.DriftOffset + 5)
    def top(p: String) = IvfIndexStore.search(spark, p, q, "vec_id", "v",
        Knn.DefaultK, nprobe = Knn.DriftNprobe)
      .collect().map(_.toString).sorted.toSeq
    assert(top(pathA) == top(pathB),
      "retrained store must serve exactly what a fresh build under the same model serves")

    // lineage: the pre-retrain layout replays whole, the pre-retrain
    // model file is filed beside it
    assert(SM.versions(pathA).contains(version))
    assert(ids(SM.readBefore(spark, pathA, version)) == preIds,
      "readBefore(retrain version) must replay the complete pre-retrain row set")
    val frozen = ModelFile.Model(Some(Knn.ivfCentroids(spark, sf).sortBy(_._1)))
    assert(modelValues(retiredModel(pathA, version)) == modelValues(frozen),
      "the retired model file must hold the FROZEN (pre-retrain) centroids")

    // the live model is the retrained one, and append keeps working
    // against it (assigns under the new geometry, results still equal
    // the fresh build's after the same append)
    val live = IvfIndexStore.readCentroids(spark, pathA)
      .map { case (cid, cv) => (cid, cv.toSeq) }
    assert(live.toSeq ==
      cents.map { case (cid, cv) => (cid, cv.toSeq) }.sortBy(_._1).toSeq)
  }

  test("IVF-PQ retrain twin: both models retrain, codes re-encode from source") {
    val base = tmpDir("ivfpq_retrain")
    val (pathA, pathB) = (s"$base/a", s"$base/b")
    val emb = Tables.embeddings(spark, sf)
    val drift = Knn.driftFrame(spark, sf).select("vec_id", "v")
    val union = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .union(drift)
    val train = mixture(sf).transform(Materialize.forceCached)

    IvfPqIndexStore.write(emb, "vec_id", "embedding", pathA)
    IvfPqIndexStore.append(drift, "vec_id", "v", pathA)
    val pre = ModelFile.read(pathA)
    val version = IvfPqIndexStore.retrain(spark, pathA, union, "vec_id", "v", train)

    val cents = Knn.trainIvf(train)
    val books = Knn.trainPqBooks(train.select("vec_id", "v"))
    IvfPqIndexStore.write(union, "vec_id", "v", pathB,
      ivfModel = Some(cents), pqModel = Some(books))

    val q = drift.filter(col("vec_id") < Knn.DriftOffset + 5)
    def top(p: String) = IvfPqIndexStore.search(spark, p, q, "vec_id", "v",
        Knn.DefaultK).collect().map(_.toString).sorted.toSeq
    assert(top(pathA) == top(pathB),
      "retrained IVF-PQ store must equal a fresh dual-model build over the union")

    // the whole pre-retrain model (both models and the brand) is
    // filed in the lineage as one file
    assert(modelValues(retiredModel(pathA, version)) == modelValues(pre),
      "the retired model file must hold the pre-retrain centroids, codebooks and brand")
  }

  test("group commit: prepared-but-unmarked swaps discard; marked swaps complete") {
    val base = tmpDir("group_commit")
    val path = s"$base/idx"
    val emb = Tables.embeddings(spark, sf)
    IvfIndexStore.write(emb, "vec_id", "embedding", path,
      model = Some(Knn.ivfCentroids(spark, sf)))
    val root = new java.io.File(path)
    val liveIds = ids(spark.read.parquet(path))

    def craftTmp(): java.io.File = {
      // a prepared whole-layout member: new data + manifest +
      // retire_version, deliberately NO _SUCCESS (rewriteLayout's
      // pre-commit state)
      val pdir = new java.io.File(root, "cid=0")
      val old = pdir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(old.nonEmpty)
      val tmp = new java.io.File(root, ".compact_cid=0")
      tmp.mkdirs()
      // new content: cid=1's file under a fresh name (any valid parquet)
      val donor = new java.io.File(root, "cid=1").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(donor.toPath,
        new java.io.File(tmp, "group-new.parquet").toPath)
      java.nio.file.Files.write(new java.io.File(tmp, "manifest").toPath,
        java.util.Arrays.asList(old.map(_.getName): _*))
      java.nio.file.Files.write(new java.io.File(tmp, "retire_version").toPath,
        java.util.Collections.singletonList("7"))
      tmp
    }

    // crash BEFORE the marker: recover must discard the member and
    // leave the store byte-identical
    craftTmp()
    val (c0, d0) = SM.recover(path)
    assert(c0 == 0 && d0 == 1, s"unmarked member must discard, got ($c0, $d0)")
    assert(ids(spark.read.parquet(path)) == liveIds)
    assert(!new java.io.File(root, "cid=0/group-new.parquet").isFile)

    // crash AFTER the marker: recover must complete the member —
    // old cid=0 files retire under v7, the new file goes live
    val tmp = craftTmp()
    java.nio.file.Files.write(
      new java.io.File(root, ".commit_group_7").toPath,
      java.util.Collections.singletonList(tmp.getName))
    val (c1, d1) = SM.recover(path)
    assert(c1 == 1 && d1 == 0, s"marked member must complete, got ($c1, $d1)")
    assert(new java.io.File(root, "cid=0/group-new.parquet").isFile)
    assert(SM.versions(path).contains(7L))
    assert(!new java.io.File(root, ".commit_group_7").isFile,
      "recover must clear the settled group marker")
    // the undo path still works: readBefore(7) drops the grafted file
    // and restores the retired originals
    assert(ids(SM.readBefore(spark, path, 7)) == liveIds)
  }

  test("versioned appends: readBefore is full table-state travel") {
    import graft.sources.IndexStore
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = tmpDir("vapp")
    val store = s"$base/idx"
    def storeIds(df: DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // creation is not an append: no version to travel back to
    IndexStore.write(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      store, dim = 64)
    assert(SM.versions(store).isEmpty)
    val v0 = storeIds(spark.read.parquet(store))
    // append allocates a version whose readBefore excludes exactly it
    val v1 = IndexStore.append(emb.filter(col("vec_id") >= 300),
      "vec_id", "embedding", store, dim = 64)
    assert(v1 == 1L && SM.versions(store) == Seq(1L))
    assert(storeIds(SM.readBefore(spark, store, v1)) == v0,
      "read-before-append must serve the pre-append row set")
    // interleave with maintenance: purge (v2), append again (v3) —
    // every boundary replays exactly
    SM.purge(spark, store, "id", Seq(7L))
    val v3 = IndexStore.append(
      emb.filter(col("vec_id") < 2)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", store, dim = 64)
    assert(v3 == 3L)
    val all = storeIds(spark.read.parquet(store))
    assert(all.contains(900000L) && !all.contains(7L))
    assert(storeIds(SM.readBefore(spark, store, 3)) ==
      all.filterNot(_ >= 900000L), "before v3: second append excluded")
    assert(storeIds(SM.readBefore(spark, store, 2)) ==
      (all.filterNot(_ >= 900000L) :+ 7L).sorted, "before v2: victim restored too")
    assert(storeIds(SM.readBefore(spark, store, 1)) == v0,
      "before v1: back to the original write")
    // a no-op append burns no version
    val vNoop = IndexStore.append(emb.filter(col("vec_id") < -1),
      "vec_id", "embedding", store, dim = 64)
    assert(vNoop == 0L && SM.versions(store) == Seq(1L, 2L, 3L))
    // a crashed version record (staged tmp, never renamed) is cleaned
    // by recover() and blocks nothing
    val staged = new java.io.File(store, s"${SM.RetiredDirName}/.v9.tmp/band0=0")
    staged.mkdirs()
    java.nio.file.Files.write(new java.io.File(staged, "_added").toPath,
      java.util.Collections.singletonList("ghost.parquet"))
    SM.recover(store)
    assert(!new java.io.File(store, s"${SM.RetiredDirName}/.v9.tmp").exists(),
      "recover must discard a crashed append version record")
    assert(storeIds(SM.readBefore(spark, store, 1)) == v0)
  }

  test("auto-vacuum: per-wave maintainers bound snapshot debt by construction") {
    import graft.sources.BqIndexStore
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = tmpDir("auto_vac")
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/mih")
    // three waves with an aggressive compaction budget: every run past
    // the first rewrites, so without vacuum the retired-version debt
    // grows with wave count
    emb.filter(col("vec_id") < 170).write.parquet(src)
    graft.streaming.EventStreams.runMihIngest(spark, src, ckpt, store,
      autoCompactMaxFiles = Some(1))
    emb.filter(col("vec_id") >= 170 && col("vec_id") < 340)
      .write.mode("append").parquet(src)
    graft.streaming.EventStreams.runMihIngest(spark, src, ckpt, store,
      autoCompactMaxFiles = Some(1))
    assert(SM.versions(store).nonEmpty,
      "per-wave compaction must have accrued retired snapshot versions")
    // final wave with the scheduled-vacuum policy wired in: compaction
    // runs first, then the zero-retention vacuum reclaims every version
    // including the one this wave's own rewrite just retired
    emb.filter(col("vec_id") >= 340).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runMihIngest(spark, src, ckpt, store,
      autoCompactMaxFiles = Some(1), autoVacuumRetentionMs = Some(0L))
    assert(SM.versions(store).isEmpty,
      "autoVacuumRetentionMs must reclaim aged snapshot versions per wave")
    // vacuum is purely physical: the store answers exactly like a
    // one-shot batch build
    val batchStore = s"$base/batch"
    BqIndexStore.writeMih(emb, "vec_id", "embedding", batchStore)
    val codes = Knn.corpus(spark, sf).select(col("vec_id"),
      Knn.bqWords(col("v"), 0).as("code_lo"),
      Knn.bqWords(col("v"), 32).as("code_hi"))
    val q = Knn.bqCorruptedQueries(codes)
    def res(p: String): Set[(Long, Long, Long)] =
      BqIndexStore.searchRadius(spark, p, q, radius = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res(store).nonEmpty && res(store) == res(batchStore),
      "post-vacuum streamed store must search identically to a batch build")
  }

  test("drift monitor: a drifted wave trips retrain_recommended, an isotropic one does not") {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = tmpDir("drift_mon")
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/ivfpq")
    // wave 0 trains (and records the training q50 reference)
    emb.filter(col("vec_id") < 250).write.parquet(src)
    graft.streaming.EventStreams.runIvfPqIngest(spark, src, ckpt, store,
      driftMonitor = true)
    // wave 1: same isotropic distribution, disjoint ids — healthy
    emb.filter(col("vec_id") >= 250).write.mode("append").parquet(src)
    graft.streaming.EventStreams.runIvfPqIngest(spark, src, ckpt, store,
      driftMonitor = true)
    // wave 2: the drift gate's appended cohort — new cluster structure
    // the frozen quantizer never saw
    Knn.driftFrame(spark, sf)
      .select(col("vec_id"), col("v").cast("array<float>").as("embedding"))
      .write.mode("append").parquet(src)
    graft.streaming.EventStreams.runIvfPqIngest(spark, src, ckpt, store,
      driftMonitor = true)
    val log = spark.read.parquet(s"$store.driftlog")
      .orderBy("bid").collect()
    assert(log.length == 2, s"expected one log row per post-training wave, got ${log.length}")
    val (iso, drift) = (log(0), log(1))
    val psis = log.map(r => (r.getAs[Long]("bid"), r.getAs[Double]("psi"),
      r.getAs[Boolean]("retrain_recommended"))).toSeq
    assert(!iso.getAs[Boolean]("retrain_recommended"),
      s"isotropic wave must not trip the monitor: $psis")
    assert(drift.getAs[Boolean]("retrain_recommended"),
      s"drifted wave must trip the monitor: $psis")
    // the signal is not a squeaker: both sides sit a factor of two
    // past the threshold, not at it
    val thr = graft.streaming.EventStreams.DriftPsiThreshold
    assert(iso.getAs[Double]("psi") < thr / 2,
      s"isotropic wave should track the training distribution: $psis")
    assert(drift.getAs[Double]("psi") > 2 * thr,
      s"drifted wave should sit far past the threshold: $psis")
    // remediation closes the loop: retrain on the post-drift mixture
    // must INVALIDATE the baseline (its histogram was taken under the
    // old centroids — PSI against it would false-flag every wave);
    // the next monitored wave re-bootstraps and reads healthy
    graft.sources.IvfPqIndexStore.retrain(spark, store,
      spark.read.parquet(src), "vec_id", "embedding", mixture(sf))
    assert(!new java.io.File(s"$store.driftstats").exists(),
      "retrain must drop the stale drift baseline")
    emb.filter(col("vec_id") < 170)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      .write.mode("append").parquet(src)
    graft.streaming.EventStreams.runIvfPqIngest(spark, src, ckpt, store,
      driftMonitor = true)
    val after = spark.read.parquet(s"$store.driftlog")
      .orderBy("bid").collect().last
    assert(!after.getAs[Boolean]("retrain_recommended"),
      s"post-retrain wave must re-baseline healthy, psi=${after.getAs[Double]("psi")}")
  }

  test("bm25 bucketed dl: serving join shuffles only the candidate side") {
    import graft.sources.Bm25Store
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = tmpDir("bm25_bkt")
    val (plain, bkt) = (s"$base/plain", s"$base/bkt")
    Bm25Store.write(docs, plain)
    // bucketed store built by write + a WAVE APPEND: co-location must
    // survive appends (the appended dl shards go through the table)
    Bm25Store.write(docs.filter(col("doc_id") % 2 === 0), bkt,
      dlBuckets = Some(4))
    Bm25Store.append(docs.filter(col("doc_id") % 2 === 1), bkt)
    assert(Bm25Store.dlBucketsOf(bkt) == Some(4))
    val q = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"), col("text"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def run(p: String): (Seq[String], String) = {
        val df = Bm25Store.search(spark, p, q, 5)
        df.write.format("noop").mode("overwrite").save() // finalize AQE
        (df.orderBy("q_id", "rnk").collect().map(_.toString).toSeq,
          df.queryExecution.executedPlan.toString)
      }
      val (rowsPlain, planPlain) = run(plain)
      val (rowsBkt, planBkt) = run(bkt)
      // bucketing is purely physical: same ranking to the last digit
      assert(rowsBkt.nonEmpty && rowsBkt == rowsPlain,
        "bucketed-dl store must serve exactly the plain store's ranking")
      def exchanges(plan: String): Int =
        "Exchange (hash|range|RoundRobin|SinglePartition)".r
          .findAllIn(plan).size
      // the exchange budget: the bucketed plan drops EXACTLY the dl
      // side's shuffle (the candidate side still hashes to the bucket
      // count; dl reads in place)
      assert(exchanges(planBkt) == exchanges(planPlain) - 1,
        s"bucketed dl must remove the dl-side exchange: " +
          s"plain=${exchanges(planPlain)} bucketed=${exchanges(planBkt)}\n$planBkt")
      assert(planBkt.contains("Bucketed: true"),
        s"dl scan must report its bucket spec:\n$planBkt")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // purge downgrades co-location (file names leave the bucket
    // contract) but stays exact; rebucketDl restores it
    Bm25Store.purge(spark, bkt, Seq(9L))
    assert(Bm25Store.dlBucketsOf(bkt).isEmpty,
      "purge must drop the bucket metadata it invalidates")
    Bm25Store.rebucketDl(spark, bkt, 4)
    assert(Bm25Store.dlBucketsOf(bkt) == Some(4))
    Bm25Store.purge(spark, plain, Seq(9L))
    val after = Bm25Store.search(spark, bkt, q, 5)
      .orderBy("q_id", "rnk").collect().map(_.toString).toSeq
    val afterPlain = Bm25Store.search(spark, plain, q, 5)
      .orderBy("q_id", "rnk").collect().map(_.toString).toSeq
    assert(after == afterPlain,
      "post-purge rebucketed store must still match the plain store")
  }

  test("proximity search: slop 0 degenerates to exact phrase, matches grow with slop") {
    import graft.sources.Bm25Store
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = tmpDir("bm25_near")
    val store = s"$base/idx"
    Bm25Store.write(docs, store)
    val q = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(Bm25Store.tokensOf(col("text")), 1, 2)).as("phrase"))
    def rows(df: DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val phrase = rows(Bm25Store.phraseSearch(spark, store, q, k = 1000))
    val near0 = rows(Bm25Store.proximitySearch(spark, store, q, k = 1000, slop = 0))
    assert(near0 == phrase,
      "slop-0 proximity must equal exact phrase (ordered chain in an (n-1)-window is adjacency)")
    val near3 = Bm25Store.proximitySearch(spark, store, q, k = 1000, slop = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    // every phrase match survives at larger slop with near_tf >= phrase_tf
    phrase.foreach { case (qid, doc, tf) =>
      assert(near3.getOrElse((qid, doc), 0L) >= tf,
        s"slop widening lost a match: ($qid, $doc, $tf)")
    }
    // and the widened window genuinely admits more (anchor or doc count)
    assert(near3.values.sum > phrase.toSeq.map(_._3).sum || near3.size > phrase.size,
      "slop 3 should admit strictly more matches on this corpus")
  }

  test("bm25 gstats: per-group stats survive append and purge exactly") {
    import graft.sources.Bm25Store
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    val base = tmpDir("bm25_gstats")
    val (store, ref) = (s"$base/idx", s"$base/ref")
    Bm25Store.write(docs.filter(col("doc_id") % 2 === 0), store,
      metaCols = Seq("lang"))
    Bm25Store.append(docs.filter(col("doc_id") % 2 === 1), store,
      metaCols = Seq("lang"))
    Bm25Store.purge(spark, store, Seq(3L, 4L))
    assert(new java.io.File(s"$store.gstats").isDirectory)
    // ground truth: one-shot build over corpus-minus-victims (its own
    // gstats is a single exact aggregate)
    Bm25Store.write(docs.filter(!col("doc_id").isin(3L, 4L)), ref,
      metaCols = Seq("lang"))
    val q = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"), col("text"), col("lang"))
    def served(p: String): Seq[String] =
      Bm25Store.searchFiltered(spark, p, q, k = 5, Seq("lang"))
        .orderBy("q_id", "rnk").collect().map(_.toString).toSeq
    assert(served(store).nonEmpty && served(store) == served(ref),
      "re-summed gstats shards (append partials + negative purge " +
        "correction) must score exactly like a fresh build's stats")
    // and the shards really are what serves: kilobytes, not the dl agg
    val gRows = spark.read.parquet(s"$store.gstats").count()
    assert(gRows >= 3, s"expected per-wave + correction shards, got $gRows rows")
  }

  test("IVF-BQ retrain: store search ≡ fresh build under the same retrained model") {
    import graft.sources.IvfBqIndexStore
    val base = tmpDir("ivfbq_retrain")
    val (pathA, pathB) = (s"$base/a", s"$base/b")
    val emb = Tables.embeddings(spark, sf)
    val drift = Knn.driftFrame(spark, sf).select("vec_id", "v")
    val union = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .union(drift)
    val train = mixture(sf).transform(Materialize.forceCached)

    IvfBqIndexStore.write(emb, "vec_id", "embedding", pathA,
      model = Some(Knn.ivfCentroids(spark, sf)))
    IvfBqIndexStore.append(drift, "vec_id", "v", pathA)
    val version = IvfBqIndexStore.retrain(spark, pathA, union, "vec_id", "v", train)

    val cents = Knn.trainIvf(train)
    IvfBqIndexStore.write(union, "vec_id", "v", pathB, model = Some(cents))

    val q = drift.filter(col("vec_id") < Knn.DriftOffset + 5)
    def top(p: String) = IvfBqIndexStore.search(spark, p, union, q,
        "vec_id", "v", Knn.DefaultK).collect().map(_.toString).sorted.toSeq
    assert(top(pathA) == top(pathB),
      "retrained IVF-BQ store must serve exactly what a fresh build under the same model serves")
    // the pre-retrain model file is filed in the lineage
    val frozen = ModelFile.Model(Some(Knn.ivfCentroids(spark, sf).sortBy(_._1)))
    assert(modelValues(retiredModel(pathA, version)) == modelValues(frozen),
      "the retired model file must hold the FROZEN (pre-retrain) centroids")
  }

  test("retrain gate: appended-cohort recall restored vs the frozen store") {
    val rt = Knn.vIvfRetrainStore(spark, sf).collect()
    val fz = Knn.vIvfDriftStore(spark, sf).collect()
    def avg(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.getAs[Double]("recall")).sum / rows.length
    val (rtAvg, fzAvg) = (avg(rt), avg(fz))
    // deterministic per corpus: frozen 0.82 / retrained 1.0 at
    // sf0.001, frozen 0.50 / retrained 1.0 at sf0.01
    assert(rtAvg == 1.0, s"retrain must fully restore recall@5, got $rtAvg")
    assert(rtAvg >= fzAvg + 0.15,
      s"remediation separation collapsed: frozen=$fzAvg retrained=$rtAvg")
  }
}
