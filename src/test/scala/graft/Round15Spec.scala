package graft

import org.apache.spark.sql.functions._

/** Round-15 additions: the Hadoop-FileSystem port of the maintenance
  * layer (the seam itself plus the flat-root readBefore fix it
  * surfaced), O(touched-dirs) versioned appends, the
  * concurrent-maintenance append-record exclusion, lexical-tier time
  * travel, and the safetensors weight-import seam.
  */
class Round15Spec extends SparkSpec {

  import graft.sources.{Bm25Store, StoreFs, StoreMaintenance => SM}
  import graft.operators.{ConvNet, Safetensors}

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---------------------------------------------------------------
  // safetensors: the externally-trained-weights seam
  // ---------------------------------------------------------------

  test("safetensors: serialize/parse round-trip preserves every tensor") {
    val p = ConvNet.defaultParams
    val bytes = Safetensors.serialize(Seq(
      "conv.weight" -> (Seq(4L, 3L, 3L), Safetensors.I32(p.conv)),
      "fc.weight" -> (Seq(8L, 4L, 3L, 3L), Safetensors.I32(p.fc)),
      "fc.bias" -> (Seq(8L), Safetensors.I32(p.bias))))
    val ts = Safetensors.parse(bytes)
    assert(ts.keySet == Set("conv.weight", "fc.weight", "fc.bias"))
    assert(ts("conv.weight").shape == Seq(4L, 3L, 3L))
    assert(ts("conv.weight").toIntArray.toSeq == p.conv.toSeq)
    assert(ts("fc.weight").toIntArray.toSeq == p.fc.toSeq)
    assert(ts("fc.bias").toIntArray.toSeq == p.bias.toSeq)
  }

  test("safetensors: committed fixture loads into Params and the forward serves through it unchanged") {
    // the committed artifact — a real safetensors file on disk, the
    // shape a training job would export
    val fixture = "src/test/resources/convnet_default.safetensors"
    val p = ConvNet.loadParamsSafetensors(fixture)
    val d = ConvNet.defaultParams
    assert(p.conv.toSeq == d.conv.toSeq && p.fc.toSeq == d.fc.toSeq &&
      p.bias.toSeq == d.bias.toSeq)
    // serving path unchanged: the safetensors-loaded forward computes
    // exactly what the closed-form/sidecar path computes
    val payload = "10,10:" + (0 until 100).map(i => (i * 37) % 256)
      .mkString(",")
    val viaSt = ConvNet.forwardPayloadWith(p, payload.getBytes("UTF-8"))
    val viaDefault = ConvNet.forwardPayloadWith(d, payload.getBytes("UTF-8"))
    assert(viaSt.toSeq == viaDefault.toSeq)
  }

  test("safetensors: integral F32 loads, lossy F32 fails loudly") {
    def f32Image(name: String, vals: Array[Float]): Array[Byte] = {
      val hdr = (s""""$name":{"dtype":"F32","shape":[${vals.length}],""" +
        s""""data_offsets":[0,${vals.length * 4}]}""")
      val h = ("{" + hdr + "}").getBytes("UTF-8")
      val buf = java.nio.ByteBuffer.allocate(8 + h.length + vals.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.putLong(h.length.toLong); buf.put(h)
      vals.foreach(buf.putFloat)
      buf.array()
    }
    val ok = Safetensors.parse(f32Image("w", Array(1f, -3f, 0f)))
    assert(ok("w").toIntArray.toSeq == Seq(1, -3, 0))
    val bad = Safetensors.parse(f32Image("w", Array(1.5f)))
    val e = intercept[IllegalArgumentException] { bad("w").toIntArray }
    assert(e.getMessage.contains("non-integral"))
  }

  test("safetensors: writeI32/read round-trips through the FS seam") {
    val path = tmpDir("st") + "/m.safetensors"
    ConvNet.saveParamsSafetensors(ConvNet.defaultParams, path)
    val p = ConvNet.loadParamsSafetensors(path)
    assert(p.conv.toSeq == ConvNet.defaultParams.conv.toSeq)
  }

  test("safetensors model interop: exported centroids/codebooks import back; a store built from the import searches identically") {
    import graft.sources.{IvfIndexStore, PqIndexStore}
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = tmpDir("stmodel")
    val s1 = s"$base/ivf1"
    IvfIndexStore.write(emb, "vec_id", "embedding", s1)
    IvfIndexStore.exportModelSafetensors(spark, s1, s"$base/cents.safetensors")
    val model = IvfIndexStore.importModelSafetensors(s"$base/cents.safetensors")
    val orig = IvfIndexStore.readCentroids(spark, s1)
    assert(model.length == orig.length &&
      model.zip(orig).forall { case ((i1, v1), (i2, v2)) =>
        i1 == i2 && v1.toSeq == v2.toSeq },
      "centroid matrix must round-trip bit-for-bit (F64)")
    // a store built under the IMPORTED model is the offline-training
    // deployment split: it must serve exactly like the original
    val s2 = s"$base/ivf2"
    IvfIndexStore.write(emb, "vec_id", "embedding", s2, model = Some(model))
    val q = emb.filter(col("vec_id") < 3)
    def res(p: String) = IvfIndexStore.search(spark, p, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(res(s2) == res(s1), "imported-model store must search identically")
    // PQ codebooks round-trip the same way
    val p1 = s"$base/pq1"
    PqIndexStore.write(emb, "vec_id", "embedding", p1)
    PqIndexStore.exportBooksSafetensors(spark, p1, s"$base/books.safetensors")
    val books = PqIndexStore.importBooksSafetensors(s"$base/books.safetensors")
    val ob = PqIndexStore.readBooks(spark, p1)
    assert(books.length == ob.length && books.flatten.flatten.toSeq ==
      ob.flatten.flatten.toSeq, "codebooks must round-trip bit-for-bit")
  }

  // ---------------------------------------------------------------
  // versionedAppend: O(touched dirs) + concurrent-maintenance safety
  // ---------------------------------------------------------------

  test("versionedAppend with declared dirs lists O(touched), not O(partitions)") {
    import spark.implicits._
    val root = tmpDir("va_scoped") + "/store"
    // 64-partition store: a full-tree diff pays ~65 listings twice
    (0 until 640).map(i => (i.toLong, i % 64)).toDF("id", "c")
      .write.partitionBy("c").parquet(root)
    // thread-local delta (ADVICE r15): the process-global counter is
    // bumped by any concurrent suite; countListings attributes the
    // listings to THIS append alone, so the bound is race-free
    val (v, listed) = StoreFs.countListings {
      SM.versionedAppend(root, Seq("c=7")) {
        Seq((9000L, 7)).toDF("id", "c")
          .write.mode("append").partitionBy("c").parquet(root)
      }
    }
    assert(v > 0, "append must record a version")
    // root probe + scoped before/after (leaf-walking) + the r16
    // declaration-validation root listing + versionsOf + the staged
    // record: a small constant, NOT ~2x65 for the full-tree diff
    assert(listed <= 12, s"scoped append listed $listed dirs (expected O(touched))")
    // and the record is exact: readBefore(v) excludes the appended row
    val snap = SM.readBefore(spark, root, v)
    assert(snap.count() == 640 && snap.filter(col("id") === 9000L).count() == 0)
    assert(spark.read.parquet(root).count() == 641)
  }

  test("versionedAppend excludes a maintenance swap that commits between its listings") {
    import spark.implicits._
    val root = tmpDir("va_race") + "/store"
    // c=1 carries append debt (3 files) — the dir the racing
    // compaction will rewrite
    (0 until 30).map(i => (i.toLong, 1)).toDF("id", "c")
      .repartition(3).write.partitionBy("c").parquet(root)
    val preIds = spark.read.parquet(root).select("id")
      .collect().map(_.getLong(0)).toSet
    // the ADVICE scenario, staged in FULL-DIFF mode (no declared
    // dirs): the append lands a new c=2 dir, then a compaction
    // commits its c=1 swap INSIDE the append's listing window.
    // Without the version-diff exclusion, c=1's compacted output file
    // is recorded in the APPEND's _added while the files it replaced
    // are recorded nowhere, and readBefore(appendVersion) silently
    // drops c=1's rows from the snapshot.
    val v = SM.versionedAppend(root) {
      Seq((200L, 2)).toDF("id", "c")
        .write.mode("append").partitionBy("c").parquet(root)
      SM.compact(spark, root, targetFiles = 1)
    }
    assert(v > 0, "the append's own new-dir file must still record")
    val snap = SM.readBefore(spark, root, v).select("id")
      .collect().map(_.getLong(0)).toSet
    assert((preIds -- snap).isEmpty,
      s"pre-append rows lost from the snapshot: ${(preIds -- snap).take(5)}")
    assert(!snap.contains(200L), "the appended row must be excluded")
  }

  // ---------------------------------------------------------------
  // flat-root lineage (the readBefore fix the BM25 gate surfaced)
  // ---------------------------------------------------------------

  test("readBefore on a FLAT store undoes purgeFiles (the _root_ key is lineage, not a sidecar)") {
    import spark.implicits._
    val root = tmpDir("flat_rb") + "/store"
    (0L until 50L).map(i => (i, i * 2)).toDF("id", "x")
      .repartition(4).write.parquet(root)
    val (files, removed) = SM.purgeFiles(spark, root, "id", Seq(7L, 13L))
    assert(files > 0 && removed == 2)
    assert(spark.read.parquet(root).filter(col("id").isin(7L, 13L)).count() == 0)
    val v = SM.versions(root).max
    val snap = SM.readBefore(spark, root, v)
    assert(snap.count() == 50 &&
      snap.filter(col("id").isin(7L, 13L)).count() == 2,
      "flat-root snapshot must restore the purge victims")
  }

  // ---------------------------------------------------------------
  // lexical-tier time travel
  // ---------------------------------------------------------------

  test("Bm25Store.searchBefore: post-purge snapshot serves the purged docs with exact scores") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val path = tmpDir("bm25tt") + "/idx"
    Bm25Store.write(docs.filter(col("doc_id") % 2 === 0), path)
    Bm25Store.append(docs.filter(col("doc_id") % 2 === 1), path)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"), col("text"))
    // the full-corpus ranking BEFORE any purge is the ground truth the
    // snapshot must reproduce; victims are chosen FROM its top-5, so
    // the snapshot has to resurrect rows the live store genuinely lost
    val full = Bm25Store.search(spark, path, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val victims = full.map(_._3).filter(_ > 2L).take(2).toSeq
    assert(victims.nonEmpty, "no non-query doc in any top-5?")
    Bm25Store.purge(spark, path, victims)
    val live = Bm25Store.search(spark, path, queries, k = 5)
      .collect().map(r => r.getLong(2)).toSet
    assert(victims.forall(v => !live.contains(v)),
      "purge must drop the victims from the live ranking")
    val snap = Bm25Store.searchBefore(spark, path, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(snap == full,
      "searchBefore must reproduce the pre-purge ranking bit-for-bit")
  }

  // ---------------------------------------------------------------
  // score-aware hybrid fusion
  // ---------------------------------------------------------------

  test("v_hybrid_weighted: fused recall >= the best single leg (the property plain RRF lacks)") {
    val rows = graft.operators.Knn.vHybridWeighted(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (vec, lex, fused) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(fused >= math.max(vec, lex) - 1e-9,
        s"query ${r.getLong(0)}: fused $fused < best leg ${math.max(vec, lex)} " +
          "— the tuned convex weight no longer preserves the strong leg")
    }
    // and the gate is discriminating: the legs genuinely differ here
    assert(rows.exists(r => r.getDouble(1) != r.getDouble(2)),
      "legs tied everywhere — the corpus no longer separates them")
  }

  test("Bm25Store append versions every component root") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val path = tmpDir("bm25vr") + "/idx"
    Bm25Store.write(docs.filter(col("doc_id") % 2 === 0), path)
    assert(SM.versions(path).isEmpty, "creation burns no version")
    Bm25Store.append(docs.filter(col("doc_id") % 2 === 1), path)
    assert(SM.versions(path).nonEmpty, "postings append must version")
    assert(SM.versions(path + ".dl").nonEmpty, "dl append must version")
    assert(SM.versions(path + ".stats").nonEmpty, "stats append must version")
    // readBefore at the append version = the first wave only
    val v = SM.versions(path).max
    val wave1Docs = SM.readBefore(spark, path, v)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(wave1Docs.nonEmpty && wave1Docs.forall(_ % 2 == 0),
      "postings snapshot at the append version is wave 1 exactly")
  }
}
