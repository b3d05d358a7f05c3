package graft

import org.apache.spark.sql.functions._

/** Round-16 additions, part 1 — the r15 ADVICE fixes: maintenance ops
  * refuse to invent store roots, scoped versioned appends validate the
  * caller's touched-dirs declaration, and the safetensors parser's
  * negative paths fail loudly (it sits on the model-import trust
  * boundary).
  */
class Round16Spec extends SparkSpec {

  import graft.sources.{StoreMaintenance => SM}
  import graft.operators.Safetensors

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---------------------------------------------------------------
  // maintenance ops on a nonexistent root fail loudly
  // ---------------------------------------------------------------

  test("maintenance on a typo'd store path fails loudly instead of creating an empty store") {
    val ghost = tmpDir("ghost") + "/no_such_store"
    // vacuum and purge are the ops an operator runs by hand — a typo'd
    // path must surface, not mkdirs an empty root and report a no-op
    intercept[java.io.FileNotFoundException] {
      SM.vacuum(ghost, 0L, minRetentionMs = 0, force = true)
    }
    intercept[java.io.FileNotFoundException] {
      SM.purge(spark, ghost, "id", Seq(1L))
    }
    assert(!graft.sources.StoreFs.exists(ghost),
      "the failed maintenance op must not have created the store root")
  }

  // ---------------------------------------------------------------
  // scoped versionedAppend validates the declared dirs
  // ---------------------------------------------------------------

  test("scoped versionedAppend records a NEW partition dir landing outside the declared scope") {
    import spark.implicits._
    val root = tmpDir("va_validate") + "/store"
    (0 until 60).map(i => (i.toLong, i % 4)).toDF("id", "c")
      .write.partitionBy("c").parquet(root)
    // the writer declares c=1 but the wave also lands a BRAND-NEW c=9
    // dir — the r15 gap: the undeclared dir silently vanished from the
    // version's _added record and readBefore(v) included its rows
    val v = SM.versionedAppend(root, Seq("c=1")) {
      Seq((900L, 1), (901L, 9), (902L, 9)).toDF("id", "c")
        .write.mode("append").partitionBy("c").parquet(root)
    }
    assert(v > 0)
    val snap = SM.readBefore(spark, root, v)
    assert(snap.count() == 60, "pre-append snapshot must exclude the whole wave")
    assert(snap.filter(col("id") >= 900L).count() == 0,
      "rows in the undeclared NEW dir must be excluded from the snapshot")
    assert(spark.read.parquet(root).count() == 63)
  }

  test("scoped versionedAppend records new ROOT data files outside a dir-only scope") {
    import spark.implicits._
    val root = tmpDir("va_rootfiles") + "/store"
    // flat store (root-level files) with some pre-existing data
    (0 until 20).map(i => (i.toLong, i)).toDF("id", "x")
      .coalesce(1).write.parquet(root)
    // declaration says "." is untouched (declares a dir that the write
    // ignores); the wave actually lands new root files
    val v = SM.versionedAppend(root, Seq("c=0")) {
      Seq((500L, 500)).toDF("id", "x")
        .coalesce(1).write.mode("append").parquet(root)
    }
    assert(v > 0, "undeclared root files must still burn a version")
    val snap = SM.readBefore(spark, root, v)
    assert(snap.count() == 20 && snap.filter(col("id") === 500L).count() == 0,
      "pre-append snapshot must exclude the undeclared root files " +
        "and keep every pre-existing one")
  }

  test("scoped versionedAppend walks nested leaves within a declared dir") {
    import spark.implicits._
    val root = tmpDir("va_nested") + "/store"
    (0 until 24).map(i => (i.toLong, i % 2, i % 3)).toDF("id", "a", "b")
      .write.partitionBy("a", "b").parquet(root)
    // the declared top-level dir nests b= leaves — the diff must key
    // by leaf rel paths (a=1/b=2), matching readBefore's reconstruction
    val v = SM.versionedAppend(root, Seq("a=1")) {
      Seq((800L, 1, 2)).toDF("id", "a", "b")
        .write.mode("append").partitionBy("a", "b").parquet(root)
    }
    assert(v > 0)
    val snap = SM.readBefore(spark, root, v)
    assert(snap.count() == 24 && snap.filter(col("id") === 800L).count() == 0)
    assert(spark.read.parquet(root).count() == 25)
  }

  // ---------------------------------------------------------------
  // additive-tier time travel + the drift consumer delta
  // ---------------------------------------------------------------

  test("rate-store time travel: reportBefore(v) equals the wave-1-only ranking") {
    val base = tmpDir("snaprate")
    val store = s"$base/store"
    val ev = graft.Tables.events(spark, sf)
    graft.sources.RateStore.appendBatch(
      ev.filter(col("event_id") % 2 === 0), store, 0L)
    val v = graft.sources.RateStore.appendBatch(
      ev.filter(col("event_id") % 2 === 1), store, 1L)
    assert(v > 0, "wave 2 must burn a version")
    val before = graft.sources.RateStore.reportBefore(spark, store, v)
      .collect().map(_.toString).sorted.toSeq
    val w1only = s"$base/w1"
    graft.sources.RateStore.appendBatch(
      ev.filter(col("event_id") % 2 === 0), w1only, 0L)
    val expect = graft.sources.RateStore.report(spark, w1only)
      .collect().map(_.toString).sorted.toSeq
    assert(before == expect,
      "pre-wave-2 snapshot ranking must equal the wave-1-only ranking")
    assert(graft.sources.RateStore.report(spark, store).count() > 0)
  }

  test("readBeforeWithPartitions fails loudly on a rewriting lineage") {
    import spark.implicits._
    val root = tmpDir("rbwp") + "/store"
    (0 until 20).map(i => (i.toLong, i % 2)).toDF("id", "c")
      .repartition(2).write.partitionBy("c").parquet(root)
    SM.compact(spark, root, targetFiles = 1)
    val v = SM.versions(root).max
    val e = intercept[IllegalArgumentException] {
      SM.readBeforeWithPartitions(spark, root, v).collect()
    }
    assert(e.getMessage.contains("pure append lineage"))
    // the flat reader still serves the same lineage
    assert(SM.readBefore(spark, root, v).count() == 20)
  }

  test("drift consumer: the flagged wave's quality scores measurably collapse") {
    val rows = graft.streaming.EventStreams.sDriftConsumer(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(4) == 1L),
      "the monitor's wave-2 flag must be set")
    val deltas = rows.map(_.getDouble(3))
    assert(deltas.count(_ < 0) > deltas.length / 2,
      "most quality scores should DROP under the vocabulary remap")
    val avg = deltas.map(math.abs).sum / deltas.length
    assert(avg > 0.02, s"avg |delta| $avg too small to carry the doc's claim")
  }

  // ---------------------------------------------------------------
  // safetensors negative paths: the model-import trust boundary
  // ---------------------------------------------------------------

  private def stImage(header: String, dataBytes: Int): Array[Byte] = {
    val h = header.getBytes("UTF-8")
    val buf = java.nio.ByteBuffer.allocate(8 + h.length + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putLong(h.length.toLong)
    buf.put(h)
    (0 until dataBytes).foreach(i => buf.put(i.toByte))
    buf.array()
  }

  test("safetensors parse: every malformed input fails loudly with a named error") {
    val cases: Seq[(String, Array[Byte], String)] = Seq(
      ("truncated: no header length",
        Array[Byte](1, 2, 3), "no header length"),
      ("header length past the file", {
        val b = java.nio.ByteBuffer.allocate(16)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.putLong(9999L); b.array()
      }, "out of bounds"),
      ("header is not JSON",
        stImage("not json at all", 0), "not valid JSON"),
      ("duplicate tensor names",
        stImage(""""t":{"dtype":"I32","shape":[1],"data_offsets":[0,4]},""" +
          """"t":{"dtype":"I32","shape":[1],"data_offsets":[4,8]}""" match {
          case s => "{" + s + "}"
        }, 8), "not valid JSON"),
      ("missing data_offsets",
        stImage("""{"t":{"dtype":"I32","shape":[1]}}""", 4),
        "missing dtype/shape/data_offsets"),
      ("negative offset",
        stImage("""{"t":{"dtype":"I32","shape":[1],"data_offsets":[-4,0]}}""", 4),
        "out of bounds"),
      ("offsets past the data section",
        stImage("""{"t":{"dtype":"I32","shape":[1],"data_offsets":[4,8]}}""", 4),
        "out of bounds"),
      ("span/shape mismatch",
        stImage("""{"t":{"dtype":"I32","shape":[2],"data_offsets":[0,4]}}""", 4),
        "byte span"),
      ("overlapping tensors",
        stImage("""{"a":{"dtype":"I32","shape":[2],"data_offsets":[0,8]},""" +
          """"b":{"dtype":"I32","shape":[1],"data_offsets":[4,8]}}""", 8),
        "overlapping data_offsets"))
    cases.foreach { case (label, bytes, needle) =>
      val e = intercept[IllegalArgumentException] { Safetensors.parse(bytes) }
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"$label: expected error containing '$needle', got: ${e.getMessage}")
    }
  }

  // ---------------------------------------------------------------
  // tuned hybrid fusion: curve shape + persisted sidecar
  // ---------------------------------------------------------------

  test("v_hybrid_curve: exactly one chosen point, recall maximal and flat from it onward") {
    import graft.operators.Knn
    val rows = Knn.vHybridCurve(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    assert(rows.length == 1 + Knn.AlphaGrid.length)
    val chosen = rows.filter(_._3 == 1L)
    assert(chosen.length == 1, s"expected one chosen grid point, got $chosen")
    val ca = chosen.head._1
    assert(Knn.AlphaGrid.contains(ca))
    // the tuner's guarantee: every grid point at or past the chosen α
    // preserves the strong leg's full top-5, so recall there is the
    // curve's maximum and flat
    val maxR = rows.map(_._2).max
    val past = rows.filter(_._1 >= ca)
    assert(past.nonEmpty && past.forall(_._2 == maxR),
      s"recall not maximal past the chosen α=$ca: ${past.mkString(", ")}")
  }

  test("hybrid store pair carries the tuned-α sidecar, derived by the preservation rule") {
    import graft.operators.Knn
    // force the build-once pair + sidecar, then read the artifact the
    // serving op reads
    Knn.vHybridWeightedStore(spark, sf).collect()
    val sidecar = graft.sources.StoreFs.gatePath(spark, sf, "hybrid_store") + "/alpha"
    assert(graft.sources.StoreFs.exists(sidecar), "alpha sidecar missing")
    val r = spark.read.parquet(sidecar).head()
    val (alpha, tmax) = (r.getDouble(0), r.getDouble(1))
    // the derivation rule, re-checked from the persisted pair alone:
    // smallest grid point at least one grid step above the measured
    // max per-query preservation threshold
    assert(alpha == Knn.AlphaGrid.find(_ >= tmax + 0.05)
      .getOrElse(Knn.AlphaGrid.last),
      s"sidecar alpha=$alpha does not follow the rule for tmax=$tmax")
    assert(tmax > 0.0 && tmax < 1.0)
  }

  // ---------------------------------------------------------------
  // autonomous drift remediation: the policy acts once, then cools down
  // ---------------------------------------------------------------

  test("auto-retrain: tripped wave retrains once; a later trip inside the cooldown is skipped") {
    import graft.operators.Knn
    import graft.streaming.EventStreams
    val base = tmpDir("sretr")
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/idx")
    graft.sources.IvfIndexStore.write(
      Knn.corpus(spark, sf).filter(col("vec_id") < 0)
        .select(col("vec_id"), col("v").as("embedding")),
      "vec_id", "embedding", store,
      model = Some(Knn.ivfCentroids(spark, sf)))
    def ingest(): Unit = {
      EventStreams.runIvfIngest(spark, src, ckpt, store,
        autoRetrain = Some(EventStreams.AutoRetrainPolicy(minWavesBetween = 10)),
        vecType = org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))
      ()
    }
    val corpus = Knn.corpus(spark, sf).select(col("vec_id"), col("v").as("embedding"))
    val drift = Knn.driftFrame(spark, sf).select(col("vec_id"), col("v").as("embedding"))
    corpus.write.mode("overwrite").parquet(src)   // wave 0: baseline bootstrap
    ingest()
    drift.write.mode("append").parquet(src)       // wave 1: trips → retrain
    ingest()
    val log1 = spark.read.parquet(s"$store.retrainlog").collect()
    assert(log1.length == 1, s"expected exactly one retrain act, got ${log1.length}")
    assert(spark.read.parquet(s"$store.retrainlog")
      .select(col("bid").cast("long")).head().getLong(0) == 1L)
    // wave 2: the retrain dropped the drift baseline, so this wave
    // re-bootstraps it (no trip by construction)
    corpus.select(col("vec_id") + 5000000L as "vec_id", col("embedding"))
      .write.mode("append").parquet(src)
    ingest()
    // wave 3: drifted again vs the wave-2 baseline — PSI trips, but
    // bid 3 − last retrain bid 1 = 2 < minWavesBetween → SKIPPED
    drift.select(col("vec_id") + 6000000L as "vec_id", col("embedding"))
      .write.mode("append").parquet(src)
    ingest()
    val dlog = spark.read.parquet(s"$store.driftlog")
      .select(col("bid").cast("long"), col("psi"), col("retrain_recommended"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(dlog(3L)._2, s"wave 3 should have tripped the monitor: $dlog")
    assert(spark.read.parquet(s"$store.retrainlog").count() == 1,
      "cooldown violated: a second retrain ran inside minWavesBetween")
  }

  test("safetensors serialize: JSON-unsafe tensor names are rejected") {
    val vals = (Seq(1L), Safetensors.I32(Array(7)))
    intercept[IllegalArgumentException] {
      Safetensors.serialize(Seq("bad\"name" -> vals))
    }
    intercept[IllegalArgumentException] {
      Safetensors.serialize(Seq("bad\\name" -> (Seq(1L), Safetensors.F64(Array(1.0)))))
    }
    // a safe name still serializes and round-trips
    val ok = Safetensors.parse(Safetensors.serialize(Seq("fine.name" -> vals)))
    assert(ok("fine.name").toIntArray.toSeq == Seq(7))
  }
}
