package graft

import graft.operators.{ConvNet, Knn, Safetensors}
import graft.sources.{IvfBqIndexStore, IvfIndexStore, IvfPqIndexStore, ModelFile, PqIndexStore}

/** Every ANN store keeps its trained model in one safetensors file at
  * `$path.model`: the readers return exactly the models a write was
  * given, the file is the store's only model artifact, it lands with no
  * Spark job, and a crash while it is being replaced leaves the
  * previous file whole.
  */
class ModelFileSpec extends SparkSpec {

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  private def bits(v: Array[Double]): Seq[Long] = v.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def centroidBits(cents: Array[(Int, Array[Double])]): Seq[(Int, Seq[Long])] =
    cents.toSeq.map { case (c, v) => (c, bits(v)) }.sortBy(_._1)

  private def bookBits(books: Array[Array[Array[Double]]]): Seq[Long] = bits(books.flatten.flatten)

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val cents = Knn.ivfCentroids(spark, sf)
  private lazy val books = Knn.pqBooksFor(spark, sf)
  private lazy val resBooks = Knn.pqResBooksFor(spark, sf)

  /** One store per tier, written with given models: (tier, write, its
    * coarse quantizer, its codebooks, its brand).
    */
  private def tiers: Seq[(String, String => Unit, Option[Array[(Int, Array[Double])]],
      Option[Array[Array[Array[Double]]]], Boolean)] = Seq(
    ("pq", p => PqIndexStore.write(emb, "vec_id", "embedding", p, model = Some(books)),
      None, Some(books), false),
    ("ivf", p => IvfIndexStore.write(emb, "vec_id", "embedding", p, model = Some(cents)),
      Some(cents), None, false),
    ("ivfpq", p => IvfPqIndexStore.write(emb, "vec_id", "embedding", p,
      ivfModel = Some(cents), pqModel = Some(books)), Some(cents), Some(books), false),
    ("ivfpq_res", p => IvfPqIndexStore.write(emb, "vec_id", "embedding", p,
      ivfModel = Some(cents), pqModel = Some(resBooks), byResidual = true),
      Some(cents), Some(resBooks), true),
    ("ivfbq", p => IvfBqIndexStore.write(emb, "vec_id", "embedding", p, model = Some(cents)),
      Some(cents), None, false))

  test("each store's only model artifact is $path.model, and the readers return the models written") {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultFs].getName)
    for ((tier, write, c, b, res) <- tiers) {
      val dir = tmp(s"model_$tier")
      val path = s"$dir/idx"
      write(path)
      // siblings of the store: its data and its model file, nothing else
      // (checksum files belong to the filesystem layer)
      val siblings = new java.io.File(dir).list().filterNot(_.endsWith(".crc")).toSet
      val data = if (tier == "pq") "idx.codes" else "idx"
      assert(siblings == Set(data, "idx.model"), s"$tier: store artifacts $siblings")
      if (tier != "pq")
        assert(new java.io.File(path).list().forall(n => !n.startsWith("_") || n == "_SUCCESS"),
          s"$tier: no marker files inside the store root")
      for (p <- Seq(path, s"faulty://$path")) {
        c.foreach(want =>
          assert(centroidBits(IvfIndexStore.readCentroids(spark, p)) == centroidBits(want),
            s"$tier $p: centroids differ"))
        b.foreach(want =>
          assert(bookBits(PqIndexStore.readBooks(spark, p)) == bookBits(want),
            s"$tier $p: codebooks differ"))
        assert(IvfPqIndexStore.isResidual(p) == res, s"$tier $p: brand")
      }
    }
  }

  test("a store write with given models schedules no job for its model") {
    // each count is the data write's alone (the residual tier also
    // materializes its residual frame); the model file adds none
    assert(cents.nonEmpty && books.nonEmpty && resBooks.nonEmpty) // trained before counting
    val base = tmp("model_jobs")
    val jobs = tiers.map { case (tier, write, _, _, _) => tier -> countJobs(write(s"$base/$tier")) }.toMap
    assert(jobs == Map("pq" -> 3, "ivf" -> 3, "ivfpq" -> 3, "ivfpq_res" -> 5, "ivfbq" -> 3),
      s"jobs per store write: $jobs")
  }

  test("a crash while the model file is replaced leaves the previous file parseable") {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultFs].getName)
    val store = s"faulty://${tmp("model_crash")}/idx"
    val before = ModelFile.Model(Some(cents), Some(books), Some(false))
    ModelFile.write(store, before)
    for (phase <- Seq(FaultFs.CrashBefore, FaultFs.CrashMid)) {
      FaultFs.arm(FaultFs.CreateOp, Seq(".model"), 1, phase)
      val crashed =
        try { ModelFile.write(store, ModelFile.Model(Some(cents.take(3)))); false }
        catch { case _: FaultFs.InjectedCrash => true }
        finally FaultFs.disarm()
      assert(crashed && FaultFs.lastFired, s"$phase: the staged crash must fire")
      val after = ModelFile.read(store)
      assert(centroidBits(after.coarse) == centroidBits(cents), s"$phase: centroids torn")
      assert(bookBits(after.codebooks) == bookBits(books), s"$phase: codebooks torn")
      assert(after.byResidual.contains(false), s"$phase: brand torn")
    }
    // the same holds for every safetensors writer: a re-export over an
    // existing file
    val out = s"faulty://${tmp("st_crash")}/m.safetensors"
    ConvNet.saveParamsSafetensors(ConvNet.defaultParams, out)
    FaultFs.arm(FaultFs.CreateOp, Seq("m.safetensors"), 1, FaultFs.CrashMid)
    try intercept[FaultFs.InjectedCrash](ConvNet.saveParamsSafetensors(ConvNet.defaultParams, out))
    finally FaultFs.disarm()
    assert(ConvNet.loadParamsSafetensors(out).conv.toSeq == ConvNet.defaultParams.conv.toSeq)
    // and a clean write replaces the file, leaving no temp behind
    val next = ModelFile.Model(Some(cents.take(3)))
    ModelFile.write(store, next)
    assert(centroidBits(ModelFile.read(store).coarse) == centroidBits(cents.take(3)))
    val parent = new java.io.File(store.stripPrefix("faulty://")).getParentFile
    assert(parent.list().forall(n => !n.endsWith(".tmp")), parent.list().toSeq)
    assert(Safetensors.read(ModelFile.pathOf(store)).keySet == Set("cids", "centroids"))
  }
}
