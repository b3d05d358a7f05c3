package graft

import org.apache.spark.sql.functions._
import graft.operators.{Relational, TextAnalysis}
import graft.sources.{BitmapStore, ConcurrentMaintenanceException, RateStore, StoreMaintenance}

/** Round-9 invariants: maintenance lifecycle hardening (single-job
  * purge discovery, the single-maintainer lock, recover-on-open,
  * idempotent streamed rate shards) and the zero-variance /
  * memoization guards from the round-8 advice.
  */
class Round9Spec extends SparkSpec {

  private def hashRows(df: org.apache.spark.sql.DataFrame): String =
    df.collect().map(_.toString).sorted.mkString("\n")

  test("purge discovery is O(1) jobs regardless of partition count") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("purge_jobs").toString
    val path = s"$base/idx"
    (0 until 4000).map(i => (i.toLong, i % 40)).toDF("id", "p")
      .repartition(4).write.partitionBy("p").parquet(path)
    val victims = Seq(7L, 13L)
    var result = (0, 0L)
    val jobs = countJobs {
      result = StoreMaintenance.purge(spark, path, "id", victims)
    }
    assert(result == (2, 2L),
      s"expected 2 partitions rewritten / 2 rows removed, got $result")
    // one pushed-down discovery scan (+ a parallel-listing job and
    // schema reads) + a constant few jobs per HIT partition — never a
    // job per directory. The old per-partition count loop scheduled
    // 40+ here; the bound is a constant in the partition count.
    assert(jobs <= 10,
      s"purge scheduled $jobs jobs over 40 partitions — discovery must be one scan")
    assert(spark.read.parquet(path).count() == 3998)
    assert(spark.read.parquet(path).where(col("id").isin(victims: _*)).count() == 0)
  }

  test("a second concurrent maintenance refuses cleanly (lock contract)") {
    val base = java.nio.file.Files.createTempDirectory("maint_lock").toString
    val path = s"$base/idx"
    val ev = Tables.events(spark, sf).select(col("event_type"), col("user_id"))
    BitmapStore.write(ev, path)
    BitmapStore.append(ev, path)
    val expected = hashRows(BitmapStore.report(spark, path))
    def listing = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(d => d.getName ->
        d.listFiles().map(_.getName).toSet).toMap
    // maintainer A holds the store (the lock file IS the lease —
    // claiming it by hand is exactly what a racing process would do)
    java.nio.file.Files.write(
      new java.io.File(path, StoreMaintenance.LockName).toPath,
      java.util.Collections.singletonList("12345@otherhost 2026-08-14T00:00:00Z"))
    val before = listing
    intercept[ConcurrentMaintenanceException] { BitmapStore.compact(spark, path) }
    intercept[ConcurrentMaintenanceException] {
      StoreMaintenance.purge(spark, path, "bucket", Seq(0L))
    }
    assert(listing == before, "a refused maintenance pass must not touch the store")
    assert(hashRows(BitmapStore.report(spark, path)) == expected)
    // holder died: break the lock, maintenance proceeds and releases
    assert(StoreMaintenance.breakLock(path))
    val (b, a) = BitmapStore.compact(spark, path)
    assert(b > a, "compact must run once the stale lock is broken")
    assert(!new java.io.File(path, StoreMaintenance.LockName).exists(),
      "the lock must release after a completed pass")
    assert(hashRows(BitmapStore.report(spark, path)) == expected)
  }

  test("openChecked settles a crashed swap before serving") {
    val base = java.nio.file.Files.createTempDirectory("open_checked").toString
    val path = s"$base/idx"
    val ev = Tables.events(spark, sf).select(col("event_type"), col("user_id"))
    BitmapStore.write(ev, path)
    BitmapStore.append(ev, path)
    val expected = hashRows(BitmapStore.report(spark, path))
    // committed-but-unfinished swap: temp rewrite + manifest present,
    // one retired file already deleted (the Round8 crash shape)
    val pdir = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.contains("=")).head
    val files = pdir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2)
    val tmp = new java.io.File(path, s".compact_${pdir.getName}")
    spark.read.parquet(pdir.getAbsolutePath)
      .groupBy("bucket").agg(expr("bit_or(bits)").as("bits")).coalesce(1)
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    java.nio.file.Files.write(new java.io.File(tmp, "manifest").toPath,
      java.util.Arrays.asList(files.map(_.getName): _*))
    files.head.delete()
    // a reader opening through openChecked finishes the swap first
    val opened = StoreMaintenance.openChecked(spark, path)
    assert(!tmp.exists(), "openChecked must have settled the crashed swap")
    assert(hashRows(opened.groupBy("bucket")
        .agg(expr("bit_or(bits)").as("bits"))) ==
      hashRows(spark.read.parquet(path).groupBy("bucket")
        .agg(expr("bit_or(bits)").as("bits"))))
    assert(hashRows(BitmapStore.report(spark, path)) == expected,
      "the opened store must answer exactly as before the crash")
    // and openChecked never races a live maintainer
    java.nio.file.Files.write(
      new java.io.File(path, StoreMaintenance.LockName).toPath,
      java.util.Collections.singletonList("12345@otherhost 2026-08-14T00:00:00Z"))
    intercept[ConcurrentMaintenanceException] {
      StoreMaintenance.openChecked(spark, path)
    }
    StoreMaintenance.breakLock(path)
  }

  test("an append landing mid-swap survives: the manifest only retires listed files") {
    import graft.sources.BitmapStore
    val base = java.nio.file.Files.createTempDirectory("race_append").toString
    val path = s"$base/idx"
    val ev = Tables.events(spark, sf).select(col("event_type"), col("user_id"))
    val w0 = ev.filter(col("user_id") % 2 === 0)
    val w1 = ev.filter(col("user_id") % 2 === 1)
    BitmapStore.write(w0, path)
    BitmapStore.append(w0, path) // second file so a compact has work
    val pdir = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.contains("=")).head
    // maintainer: rewrite committed (temp + _SUCCESS + manifest of the
    // CURRENT files), but the swap has not landed yet
    val files = pdir.listFiles().filter(_.getName.endsWith(".parquet"))
    val tmp = new java.io.File(path, s".compact_${pdir.getName}")
    spark.read.parquet(pdir.getAbsolutePath)
      .groupBy("bucket").agg(expr("bit_or(bits)").as("bits")).coalesce(1)
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    java.nio.file.Files.write(new java.io.File(tmp, "manifest").toPath,
      java.util.Arrays.asList(files.map(_.getName): _*))
    // ingest races the swap: a NEW batch appends into the same
    // partition dirs after the manifest was cut
    BitmapStore.append(w1, path)
    // the swap lands (recover() replays exactly this step after a
    // crash) — it must retire ONLY the manifest-listed files, so the
    // racing append's rows survive
    val (completed, _) = graft.sources.StoreMaintenance.recover(path)
    assert(completed == 1)
    val expected = hashRows({
      BitmapStore.write(w0, s"$base/ref")
      BitmapStore.append(w1, s"$base/ref")
      BitmapStore.report(spark, s"$base/ref")
    })
    assert(hashRows(BitmapStore.report(spark, path)) == expected,
      "rows appended between manifest cut and swap completion must survive")
  }

  test("rate ingest: a replayed batch replaces its shard — no double count") {
    val ev = Tables.events(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("rate_replay").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/rate")
    val w0 = ev.filter(col("event_id") % 2 === 0)
    val w1 = ev.filter(col("event_id") % 2 === 1)
    w0.write.parquet(src)
    graft.streaming.EventStreams.runRateIngest(spark, src, ckpt, store)
    w1.write.mode("append").parquet(src)
    graft.streaming.EventStreams.runRateIngest(spark, src, ckpt, store)
    RateStore.write(ev.select(col("ts"), col("event_type")), s"$base/one")
    val expected = hashRows(RateStore.report(spark, s"$base/one"))
    assert(hashRows(RateStore.report(spark, store)) == expected,
      "streamed batch shards must re-sum to the one-shot series")
    // at-least-once replay: batch 1 (the second wave) executes again
    // after its shard landed but before the checkpoint commit —
    // appendBatch must REPLACE the bid=1 shard, not duplicate it
    RateStore.appendBatch(w1.select(col("ts"), col("event_type")), store, 1L)
    assert(hashRows(RateStore.report(spark, store)) == expected,
      "a replayed batch must not change the series (idempotent shard)")
    // replaying the first batch too, for good measure
    RateStore.appendBatch(w0.select(col("ts"), col("event_type")), store, 0L)
    assert(hashRows(RateStore.report(spark, store)) == expected)
  }

  test("anomalyRank drops zero-variance series instead of emitting NaN") {
    import spark.implicits._
    val hourly = Seq(
      ("2024-01-01 00:00", "flat", 5L), ("2024-01-01 01:00", "flat", 5L),
      ("2024-01-01 00:00", "single", 9L),
      ("2024-01-01 00:00", "ok", 1L), ("2024-01-01 01:00", "ok", 5L),
      ("2024-01-01 02:00", "ok", 3L)
    ).toDF("hour", "event_type", "n")
    val out = Relational.anomalyRank(hourly).collect()
    val types = out.map(_.getString(0)).toSet
    assert(types == Set("ok"),
      s"flat/single-hour series must drop (no anomalies by definition), got $types")
    assert(out.forall(r => !r.getDouble(r.fieldIndex("z")).isNaN),
      "no NaN z-scores may survive the guard")
    assert(out.length == 3)
  }

  test("filtered search routes by selectivity; both routes correct") {
    import graft.operators.Knn
    import graft.sources.IvfIndexStore
    import org.apache.spark.sql.expressions.Window
    val base = java.nio.file.Files.createTempDirectory("route_store").toString
    val path = s"$base/idx"
    val emb = Tables.embeddings(spark, sf)
      .withColumn("grp", (col("vec_id") % 50).cast("long"))
    IvfIndexStore.write(emb, "vec_id", "embedding", path, metaCols = Seq("grp"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"), col("grp"))
    // selective predicate (10 of 50 grp values ≈ 20% of a 500-row
    // corpus = 100 survivors ≤ threshold) → exact route
    val (route1, d1) = IvfIndexStore.routedFiltered(spark, path, queries,
      "vec_id", "embedding", 3, Seq("grp"), Knn.IvfNprobe,
      IvfIndexStore.ExactRouteThreshold)
    assert(route1 == "exact", s"100 survivors must route exact, got $route1")
    // truth: brute-force same-grp top-3 over the raw table
    val en = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("grp"))
      .withColumn("nrm", graft.functions.VectorFns.norm2(col("v")))
    val qn = en.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("grp").as("qgrp"))
    val sims = en.join(broadcast(qn),
        col("grp") === col("qgrp") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("grp"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorFns.cosinePre(
          graft.functions.VectorFns.dot(col("qv"), col("v")),
          col("qn"), col("nrm")), 6).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    val expected = sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("query_id", "grp", "rnk", "neighbor_id", "sim")
    assert(hashRows(d1) == hashRows(expected),
      "the exact route must return the true filtered k-NN")
    // same call with a 1-row ceiling: survivors exceed it → IVF route,
    // byte-equal to the standard searchFiltered path
    val (route2, d2) = IvfIndexStore.routedFiltered(spark, path, queries,
      "vec_id", "embedding", 3, Seq("grp"), Knn.IvfNprobe, exactThreshold = 1)
    assert(route2 == "ivf", "survivors above the ceiling must route to IVF")
    assert(hashRows(d2) == hashRows(IvfIndexStore.searchFiltered(
      spark, path, queries, "vec_id", "embedding", 3, Seq("grp"))))
  }

  test("maxsim df-cap: result-neutral at default, prunes hot fingerprints when tight") {
    import graft.operators.Knn
    val defaultOut = hashRows(Knn.vMaxsim(spark, sf))
    spark.conf.set(Knn.MaxsimDfCapConf, Long.MaxValue.toString)
    val uncapped = hashRows(Knn.vMaxsim(spark, sf))
    spark.conf.unset(Knn.MaxsimDfCapConf)
    assert(defaultOut == uncapped,
      "the default ceiling must not fire at gate scale (oracle-neutral)")
    // a tight ceiling must actually cut candidate fan-out — the
    // 100 TB guard against a boilerplate span's hot posting list
    val sampled = Knn.maxsimVecRows(
      Tables.documents(spark, sf).select("doc_id", "text"))
    val qs = sampled.filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"), col("h"))
    val full = Knn.maxsimCand(qs, sampled.select("doc_id", "h")).count()
    spark.conf.set(Knn.MaxsimDfCapConf, "2")
    val capped = Knn.maxsimCand(qs, sampled.select("doc_id", "h")).count()
    spark.conf.unset(Knn.MaxsimDfCapConf)
    assert(capped < full,
      s"df ceiling 2 must prune candidates (full=$full capped=$capped)")
  }

  test("convnet weights are data: sidecar round-trip, live in the forward pass") {
    import graft.operators.ConvNet
    val base = java.nio.file.Files.createTempDirectory("convnet_w").toString
    val p = ConvNet.defaultParams
    ConvNet.saveParams(spark, p, s"$base/weights")
    val q = ConvNet.loadParams(spark, s"$base/weights")
    assert(q.conv.toSeq == p.conv.toSeq && q.fc.toSeq == p.fc.toSeq &&
      q.bias.toSeq == p.bias.toSeq)
    val px = Array.tabulate(40)(i => (i * 37) % 256)
    assert(ConvNet.forwardWith(q, 8, 5, px).toSeq ==
      ConvNet.forward(8, 5, px).toSeq,
      "sidecar-loaded weights must reproduce the default forward exactly")
    // and the loaded weights are LIVE, not a decoy: a one-unit bias
    // perturbation must shift output dim 0 by exactly 1
    val q2 = q.copy(bias = q.bias.updated(0, q.bias(0) + 1))
    val a = ConvNet.forwardWith(q2, 8, 5, px)
    val b = ConvNet.forward(8, 5, px)
    assert(a(0) == b(0) + 1.0 && a.drop(1).toSeq == b.drop(1).toSeq)
  }

  test("v_sql_store_ivf: the SQL probe join prunes the store scan dynamically") {
    val df = operators.Knn.vSqlStoreIvf(spark, sf)
    // live in the FINALIZED plan (the r9 version degraded to AQE's
    // literal-true fallback because the window in the probe CTE put a
    // shuffle — hence an AQEShuffleRead — inside the DPP build plan,
    // which broke broadcast reuse; the array-derived probe is
    // exchange-free, so reuse holds)
    assertLiveDpp(df, "v_sql_store_ivf")
    // and EFFECTIVE: the pruned store scan read EXACTLY the distinct
    // probed lists — the partitions-read metric must equal the probe
    // set's distinct cid count, independently recomputed (at tiny sf
    // the 10 queries can cover every list, so "< on disk" would be
    // vacuous; equality pins the metric to the probe values)
    val probedDistinct = spark.sql(s"""
      SELECT COUNT(DISTINCT pcid) FROM (
        SELECT explode(transform(slice(array_sort(transform(cp.cents,
            c -> struct(-ROUND(graft_dot(q.v, c.cv) / (q.nrm * graft_norm(c.cv)), 6) AS nsim,
                        c.cid AS cid))), 1, ${operators.Knn.IvfNprobe}),
          s -> s.cid)) AS pcid
        FROM graft_store_ivf q CROSS JOIN graft_store_ivf_cents cp
        WHERE q.vec_id < ${operators.Knn.NumQueries})""").collect()(0).getLong(0)
    val read = dppScanPartitionsRead(df)
    assert(read.nonEmpty, "no executed scan carries a dynamic pruning partition filter")
    assert(read.forall(_ == probedDistinct),
      s"DPP scan read $read list partitions; the probe set covers $probedDistinct — " +
        "the scan must read exactly the probed lists")
  }

  test("multiprobe blocking: no duplicate pairs, strictly better recall") {
    import graft.operators.Dedup
    val mp = Dedup.dEmbedMultiprobe(spark, sf)
    // each Hamming-≤1 pair must meet on exactly one probe key — a
    // duplicate would mean the band-1 tier re-admitted a band-0 pair
    assert(mp.groupBy("id1", "id2").count().filter(col("count") > 1).count() == 0)
    assert(mp.count() == 50)
    val r1 = Dedup.dEmbedRecall(spark, sf).collect()(0).getAs[Double]("recall")
    val r2 = Dedup.dEmbedMpRecall(spark, sf).collect()(0).getAs[Double]("recall")
    assert(r2 > r1,
      s"probing Hamming-1 neighbor buckets must beat single-bucket recall ($r2 vs $r1)")
    assert(r2 >= 0.5, s"multiprobe recall should clear 0.5 on this corpus, got $r2")
  }

  test("BPE training is memoized: the second call schedules no merge rounds") {
    val first = TextAnalysis.tBpeTrain(spark, sf).collect()
    assert(first.length == 5)
    var second: Array[org.apache.spark.sql.Row] = Array.empty
    val jobs = countJobs { second = TextAnalysis.tBpeTrain(spark, sf).collect() }
    assert(second.toSeq == first.toSeq)
    // the memoized call only sorts a 5-row local relation (a couple of
    // AQE stages); re-running training would schedule ~25 jobs
    assert(jobs <= 4,
      s"memoized training re-ran Spark work ($jobs jobs) — train once, apply everywhere")
  }
}
