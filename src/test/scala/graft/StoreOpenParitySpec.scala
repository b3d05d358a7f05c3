package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col
import graft.operators.Knn
import graft.sources.{BqIndexStore, Bm25Store, IndexStore, IvfBqIndexStore, IvfIndexStore,
  IvfPqIndexStore, MaxsimStore, PqIndexStore, StoreFs}

/** The driver-side store opens read exactly what Spark reads: the
  * footer-schema open returns `spark.read.parquet`'s schema and rows
  * for every store dataset, falls back where inference would do more
  * than read one footer, and the driver-read models are bit-equal to
  * the models the store was written with.
  */
class StoreOpenParitySpec extends SparkSpec {

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def bits(v: Array[Double]): Seq[Long] = v.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def centroidBits(cents: Array[(Int, Array[Double])]): Seq[(Int, Seq[Long])] =
    cents.toSeq.map { case (c, v) => (c, bits(v)) }.sortBy(_._1)

  private def bookBits(books: Array[Array[Array[Double]]]): Map[(Int, Int), Seq[Long]] =
    books.zipWithIndex.flatMap { case (perM, m) =>
      perM.zipWithIndex.map { case (cv, k) => (m, k) -> bits(cv) }
    }.toMap

  test("footer-schema open equals spark.read.parquet on every store dataset") {
    val base = tmp("open_parity")
    val emb = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    IndexStore.write(emb, "vec_id", "embedding", s"$base/flat", dim = 64, metaCols = Seq("label"))
    IndexStore.writeMetadata(emb.select("vec_id", "label"), s"$base/flat")
    IvfIndexStore.write(emb, "vec_id", "embedding", s"$base/ivf")
    PqIndexStore.write(emb, "vec_id", "embedding", s"$base/pq")
    IvfPqIndexStore.write(emb, "vec_id", "embedding", s"$base/ivfpq", metaCols = Seq("label"))
    IvfPqIndexStore.write(emb, "vec_id", "embedding", s"$base/ivfpq_res", byResidual = true)
    IvfBqIndexStore.write(emb, "vec_id", "embedding", s"$base/ivfbq")
    BqIndexStore.write(emb, "vec_id", "embedding", s"$base/bq")
    BqIndexStore.writeMih(emb, "vec_id", "embedding", s"$base/mih")
    MaxsimStore.write(docs, s"$base/maxsim")
    Bm25Store.write(docs, s"$base/bm25")
    // one append, so band0 and cid directories hold more than one file
    IndexStore.append(emb.where(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 100000),
      "vec_id", "embedding", s"$base/flat", dim = 64)
    IvfIndexStore.append(emb.where(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 100000),
      "vec_id", "embedding", s"$base/ivf")
    val datasets = new java.io.File(base).listFiles().filter(_.isDirectory)
      .map(_.getPath).filterNot(p => new java.io.File(p).getName.startsWith(".")).sorted
    // every store's data and parquet sidecars (the models live in
    // `.model` files, which are not parquet)
    assert(datasets.map(new java.io.File(_).getName).toSet == Set("bm25", "bm25.dl", "bm25.stats",
      "bq", "flat", "flat.meta", "ivf", "ivfbq", "ivfpq", "ivfpq_res", "maxsim", "mih", "pq.codes"),
      s"expected every store dataset, got ${datasets.toSeq}")
    for (p <- datasets) {
      val opened = StoreFs.openParquet(spark, p)
      val read = spark.read.parquet(p)
      assert(opened.schema == read.schema, s"$p: ${opened.schema} != ${read.schema}")
      assert(rows(opened) == rows(read), s"$p: rows differ")
    }
  }

  test("footer-schema open falls back on non-Spark parquet, empty dirs and schema merging") {
    // non-Spark footers are converted rather than refused since the
    // converter landed; the parity asserted here is unchanged
    for (t <- Seq("embeddings", "documents")) {
      val p = s"$sf/$t.parquet"
      assert(StoreFs.openParquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    val empty = tmp("open_empty")
    val e1 = intercept[AnalysisException](spark.read.parquet(empty))
    val e2 = intercept[AnalysisException](StoreFs.openParquet(spark, empty))
    assert(e1.getMessage == e2.getMessage)
    // two files with different columns: one footer without merging,
    // the merged schema with it — both exactly as Spark infers them
    import spark.implicits._
    val mixed = tmp("open_mixed")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$mixed/d/p=1")
    Seq((2L, 2.0)).toDF("id", "x").write.parquet(s"$mixed/d/p=2")
    val d = s"$mixed/d"
    assert(StoreFs.openParquet(spark, d).schema == spark.read.parquet(d).schema)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = spark.read.parquet(d).schema
      assert(merged.fieldNames.toSet == Set("id", "s", "x", "p"))
      assert(StoreFs.openParquet(spark, d).schema == merged)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  /** One-row parquet file written by parquet-hadoop's example writer,
    * so its footer carries no Spark row schema.
    */
  private def writeForeign(file: String, schema: String)(fill: Group => Unit): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration)).withType(t).build()
    try { val g = new SimpleGroupFactory(t).newGroup(); fill(g); w.write(g) }
    finally w.close()
  }

  test("footers without Spark's row schema convert as Spark's inference does, under every read conf") {
    val base = tmp("open_foreign")
    writeForeign(s"$base/mixed/part-0.parquet", """message m {
        required int64 id; optional binary raw; optional int96 t96;
        optional int64 tu (TIMESTAMP(MICROS,false)); optional int64 ta (TIMESTAMP(MICROS,true));
        optional binary s (STRING); optional group xs (LIST) { repeated group list {
          optional double element; } } }""") { g =>
      g.add("id", 7L); g.add("raw", Binary.fromString("ab"))
      g.add("t96", Binary.fromConstantByteArray(new Array[Byte](12)))
      g.add("tu", 1000L); g.add("ta", 2000L); g.add("s", "x")
      g.addGroup("xs").addGroup("list").add("element", 1.5)
    }
    writeForeign(s"$base/nanos/part-0.parquet",
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); }")(_.add("ts", 123456789L))
    def values(df: DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).toSeq
    val confs = Seq("spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.legacy.parquet.nanosAsLong")
    val saved = confs.map(k => k -> spark.conf.get(k))
    try {
      for (bits <- 0 until 16) {
        confs.zipWithIndex.foreach { case (k, i) => spark.conf.set(k, ((bits >> i) & 1) == 1) }
        for (d <- Seq("mixed", "nanos")) {
          val p = s"$base/$d"
          val label = s"$d under ${confs.map(spark.conf.get).mkString(",")}"
          scala.util.Try(spark.read.parquet(p)) match {
            case scala.util.Success(read) =>
              val opened = StoreFs.openParquet(spark, p)
              assert(opened.schema == read.schema, s"$label: ${opened.schema} != ${read.schema}")
              assert(values(opened) == values(read), s"$label: rows differ")
            case scala.util.Failure(e) =>
              // TIMESTAMP(NANOS) without nanosAsLong: refused the same way
              assert(intercept[Exception](StoreFs.openParquet(spark, p)).getMessage == e.getMessage, label)
          }
        }
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("driver-read centroids and codebooks are bit-equal to the models written") {
    val base = tmp("model_parity")
    val emb = Tables.embeddings(spark, sf)
    val store = s"$base/ivfpq"
    val (cents, books) = (Knn.ivfCentroids(spark, sf), Knn.pqBooksFor(spark, sf))
    IvfPqIndexStore.write(emb, "vec_id", "embedding", store,
      ivfModel = Some(cents), pqModel = Some(books))
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultFs].getName)
    for (p <- Seq(store, s"faulty://$store")) {
      assert(centroidBits(IvfIndexStore.readCentroids(spark, p)) == centroidBits(cents),
        s"$p: centroids differ")
      assert(bookBits(PqIndexStore.readBooks(spark, p)) == bookBits(books), s"$p: codebooks differ")
      // the model file imports directly through the interop readers
      val file = graft.sources.ModelFile.pathOf(p)
      assert(centroidBits(IvfIndexStore.importModelSafetensors(file)) == centroidBits(cents), p)
      assert(bookBits(PqIndexStore.importBooksSafetensors(file)) == bookBits(books), p)
    }
  }

  test("IVF-PQ search accepts int query ids (raw, residual and filtered)") {
    val base = tmp("ivfpq_int_ids")
    val emb = Tables.embeddings(spark, sf)
    IvfPqIndexStore.write(emb, "vec_id", "embedding", s"$base/raw", metaCols = Seq("label"))
    IvfPqIndexStore.write(emb, "vec_id", "embedding", s"$base/res", byResidual = true)
    val q = emb.where(col("vec_id") < 4).select(col("vec_id"), col("embedding"), col("label"))
    val qInt = q.withColumn("vec_id", col("vec_id").cast("int"))
    for (s <- Seq("raw", "res")) {
      val want = rows(IvfPqIndexStore.search(spark, s"$base/$s", q, "vec_id", "embedding", 5))
      assert(want.nonEmpty)
      assert(rows(IvfPqIndexStore.search(spark, s"$base/$s", qInt, "vec_id", "embedding", 5)) == want, s)
    }
    val want = rows(IvfPqIndexStore.searchFiltered(spark, s"$base/raw", q, "vec_id", "embedding",
      5, Seq("label")))
    assert(want.nonEmpty)
    assert(rows(IvfPqIndexStore.searchFiltered(spark, s"$base/raw", qInt, "vec_id", "embedding",
      5, Seq("label"))) == want)
  }
}
