package graft.sources

import graft.operators.Safetensors

/** The trained model of an ANN store as ONE safetensors file at
  * `<store>.model` — the model half of faiss.write_index, loaded into
  * one driver-resident quantizer. Each tensor is present only for the
  * tiers that train it:
  *
  *  - `cids` (I32 [nlist]) and `centroids` (F64 [nlist, dim]), rows in
  *    cid order — the coarse quantizer of IVF, IVF-PQ and IVF-BQ
  *    (Lloyd drops a cluster that empties, so cids can have gaps);
  *  - `codebooks` (F64 [m, ksub, dsub]) — PQ and IVF-PQ;
  *  - `by_residual` (I32 [1]) — IVF-PQ's brand: 1 when codes were
  *    taken over v − centroid(cid), so every later open encodes
  *    queries the store's way.
  *
  * The names are the offline-training interop names, so a store's
  * model file imports directly. Reads and writes go through the FS
  * seam on the driver with no Spark job; a write lands as a temp
  * sibling renamed into place ([[Safetensors.write]]).
  */
private[graft] object ModelFile {

  type Centroids = Array[(Int, Array[Double])]
  type Books = Array[Array[Array[Double]]]

  final case class Model(centroids: Option[Centroids] = None,
                         books: Option[Books] = None,
                         byResidual: Option[Boolean] = None) {
    def coarse: Centroids =
      centroids.getOrElse(throw new IllegalStateException("model has no coarse quantizer"))

    def codebooks: Books =
      books.getOrElse(throw new IllegalStateException("model has no PQ codebooks"))

    def residual: Boolean = byResidual.contains(true)
  }

  def pathOf(store: String): String = s"$store.model"

  /** The "is it trained" probe of build-once gates and maintainers. */
  def exists(store: String): Boolean = StoreFs.exists(pathOf(store))

  def write(store: String, m: Model): Unit = Safetensors.write(pathOf(store), tensors(m))

  def read(store: String): Model = decode(Safetensors.read(pathOf(store)))

  /** The model's tensors, coarse quantizer in cid order. */
  def tensors(m: Model): Seq[(String, (Seq[Long], Safetensors.Values))] = {
    val coarse = m.centroids.toSeq.flatMap { cs =>
      val sorted = cs.sortBy(_._1)
      val dim = sorted.headOption.fold(0)(_._2.length)
      Seq("cids" -> (Seq(sorted.length.toLong), Safetensors.I32(sorted.map(_._1))),
        "centroids" -> (Seq(sorted.length.toLong, dim.toLong),
          Safetensors.F64(sorted.flatMap(_._2))))
    }
    val pq = m.books.toSeq.map { b =>
      "codebooks" -> (Seq(b.length.toLong, b(0).length.toLong, b(0)(0).length.toLong),
        Safetensors.F64(b.flatten.flatten))
    }
    val brand = m.byResidual.toSeq.map(r =>
      "by_residual" -> (Seq(1L), Safetensors.I32(Array(if (r) 1 else 0))))
    coarse ++ pq ++ brand
  }

  /** Decode whichever model tensors are present; without `cids` the
    * centroid rows are cids 0..nlist−1 (an offline trainer's matrix).
    */
  def decode(ts: Map[String, Safetensors.Tensor]): Model = {
    val centroids = ts.get("centroids").map { t =>
      require(t.shape.length == 2, s"'centroids' must be 2-D, got ${t.shape}")
      val Seq(k, dim) = t.shape.map(_.toInt)
      val flat = t.toDoubleArray
      val cids = ts.get("cids").fold(Array.range(0, k))(_.toIntArray)
      require(cids.length == k, s"'cids' has ${cids.length} ids for $k centroids")
      Array.tabulate(k)(i => (cids(i), flat.slice(i * dim, (i + 1) * dim))).sortBy(_._1)
    }
    val books = ts.get("codebooks").map { t =>
      require(t.shape.length == 3, s"'codebooks' must be 3-D, got ${t.shape}")
      val Seq(m, ksub, dsub) = t.shape.map(_.toInt)
      val flat = t.toDoubleArray
      Array.tabulate(m)(i => Array.tabulate(ksub)(k =>
        flat.slice((i * ksub + k) * dsub, (i * ksub + k + 1) * dsub)))
    }
    Model(centroids, books, ts.get("by_residual").map(_.toIntArray.head != 0))
  }

  /** Where a retrain files the pre-retrain model. */
  def retiredPath(store: String, version: Long): String =
    s"$store/${StoreMaintenance.RetiredDirName}/v$version/_model"

  /** Copy the live model beside `version`'s retired rows (the ones
    * readBefore(version) replays) before a retrained model replaces it.
    */
  def retire(store: String, version: Long): Unit = {
    val src = StoreFs.qualified(pathOf(store))
    val fs = StoreFs.fsOf(src)
    if (StoreFs.isFile(fs, src))
      StoreFs.copyFile(fs, src, StoreFs.qualified(retiredPath(store, version)))
  }
}
