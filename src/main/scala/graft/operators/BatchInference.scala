package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.{HashFns => H}

/** Batched executor-side model inference over binary payload columns —
  * the executable analog of the reference's ResNet featurizer
  * (/root/reference/build_faiss_db.py:111-134) and YOLO detector
  * (/root/reference/app.py:112-124), with the model kept pluggable.
  *
  * This container has no torch/opencv, so the shipped models are
  * deterministic md5 fakes — but the Spark-side contract is the real
  * one a JNI/ONNX/TorchScript model drops into unchanged:
  *
  *  - `Loader.load()` runs ONCE per partition on the executor (the
  *    expensive weight load), never on the driver, and the model is
  *    closed when the partition's iterator is exhausted;
  *  - payloads are fed in caller-sized batches (the GPU-utilization
  *    knob), so peak memory is batchSize×payload, not partition×payload;
  *  - the stage is a mapPartitions over rows — no shuffle, no driver
  *    collect; at 100 TB it scales with input splits exactly like the
  *    reference's per-file loop scales with files.
  *
  * The md5 fakes make scaffold output hash-verifiable end-to-end: the
  * DuckDB oracle reproduces the same vectors/boxes from md5 SQL, so
  * the whole decode→detect→embed plumbing sits inside the correctness
  * gate rather than beside it.
  */
object BatchInference {

  /** A loaded featurizer instance — one per partition, fed batches. */
  trait EmbedModel {
    def embedBatch(payloads: Array[Array[Byte]]): Array[Array[Double]]
    def close(): Unit = ()
  }

  /** Serializable factory shipped to executors; `dim` sizes the output
    * schema without loading the model on the driver.
    */
  trait EmbedLoader extends Serializable {
    def load(): EmbedModel
    def dim: Int
  }

  /** A loaded detector instance: per payload, a list of
    * (class_id, score, x1, y1, x2, y2) boxes in pixel coords.
    */
  trait DetectModel {
    def detectBatch(payloads: Array[Array[Byte]]): Array[Seq[(Int, Double, Long, Long, Long, Long)]]
    def close(): Unit = ()
  }

  trait DetectLoader extends Serializable {
    def load(): DetectModel
  }

  /** Iterator that runs `f` exactly once when exhausted — releases the
    * per-partition model without holding the whole partition in memory.
    */
  private def completing[T](it: Iterator[T])(f: => Unit): Iterator[T] = new Iterator[T] {
    private var done = false
    def hasNext: Boolean = {
      val h = it.hasNext
      if (!h && !done) { done = true; f }
      h
    }
    def next(): T = it.next()
  }

  /** Append `outCol: array<double>` to `df` by running the pluggable
    * featurizer over `payloadCol` in batches of `batchSize`.
    */
  def embedStage(df: DataFrame, payloadCol: String, loader: EmbedLoader,
                 batchSize: Int = 64, outCol: String = "embedding"): DataFrame = {
    val schema = df.schema
      .add(StructField(outCol, ArrayType(DoubleType, containsNull = false), nullable = false))
    val idx = df.schema.fieldIndex(payloadCol)
    // method-local copies: a closure referencing object vals would
    // capture the enclosing object (see EventStreams' serialization note)
    val (ld, bs) = (loader, batchSize)
    df.mapPartitions { it =>
      val model = ld.load()
      val out = it.grouped(bs).flatMap { batch =>
        val vecs = model.embedBatch(batch.iterator.map(_.getAs[Array[Byte]](idx)).toArray)
        batch.lazyZip(vecs).map((r, v) => Row.fromSeq(r.toSeq :+ v.toSeq))
      }
      completing(out)(model.close())
    }(Encoders.row(schema))
  }

  /** A featurizer that consumes Arrow COLUMNAR batches — the contract
    * a GPU/ONNX runtime binds to without row materialization: payload
    * bytes arrive as one contiguous Arrow VarBinaryVector (validity +
    * offsets + data buffers), which is the same memory layout
    * PySpark's mapInArrow hands a Python UDF. Scala's Dataset has no
    * public mapInArrow (it is a Python-surface API), so the columnar
    * handoff happens inside mapPartitions: Spark rows are packed into
    * the Arrow batch once per `batchSize`, the model reads the raw
    * buffers, and only the tiny embedding output crosses back.
    */
  trait ArrowEmbedModel {
    def embedBatch(payloads: org.apache.arrow.vector.VarBinaryVector): Array[Array[Double]]
    def close(): Unit = ()
  }

  trait ArrowEmbedLoader extends Serializable {
    def load(): ArrowEmbedModel
    def dim: Int
  }

  /** Arrow-columnar variant of embedStage: same stage contract
    * (per-partition load, caller-sized batches, no shuffle, no
    * driver), but each batch crosses the model boundary as an Arrow
    * vector instead of an Array[Array[Byte]]. Bit-equal to the row
    * path by construction (asserted in Round6Spec).
    */
  def embedStageArrow(df: DataFrame, payloadCol: String, loader: ArrowEmbedLoader,
                      batchSize: Int = 64, outCol: String = "embedding"): DataFrame = {
    val schema = df.schema
      .add(StructField(outCol, ArrayType(DoubleType, containsNull = false), nullable = false))
    val idx = df.schema.fieldIndex(payloadCol)
    val (ld, bs) = (loader, batchSize)
    df.mapPartitions { it =>
      val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
      val vec = new org.apache.arrow.vector.VarBinaryVector("payload", alloc)
      val model = ld.load()
      // Arrow buffers are OFF-HEAP: the completing() wrapper alone
      // fires only when the consumer drains the iterator, so an
      // early-terminating plan (limit/take) or a task failure would
      // leak the allocation — tie release to task end as well (the
      // guard makes the double close a no-op on the normal path)
      var closed = false
      def closeAll(): Unit = if (!closed) {
        closed = true; model.close(); vec.close(); alloc.close()
      }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
      val out = it.grouped(bs).flatMap { batch =>
        vec.reset()
        vec.setInitialCapacity(batch.length)
        vec.allocateNew()
        batch.iterator.zipWithIndex.foreach { case (r, i) =>
          vec.setSafe(i, r.getAs[Array[Byte]](idx))
        }
        vec.setValueCount(batch.length)
        val vecs = model.embedBatch(vec)
        batch.lazyZip(vecs).map((r, v) => Row.fromSeq(r.toSeq :+ v.toSeq))
      }
      completing(out)(closeAll())
    }(Encoders.row(schema))
  }

  val detectionSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("class_id", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("x1", LongType, nullable = false),
    StructField("y1", LongType, nullable = false),
    StructField("x2", LongType, nullable = false),
    StructField("y2", LongType, nullable = false))), containsNull = false)

  /** Append `outCol: array<struct>` of detections to `df` by running
    * the pluggable detector over `payloadCol` in batches.
    */
  def detectStage(df: DataFrame, payloadCol: String, loader: DetectLoader,
                  batchSize: Int = 64, outCol: String = "detections"): DataFrame = {
    val schema = df.schema.add(StructField(outCol, detectionSchema, nullable = false))
    val idx = df.schema.fieldIndex(payloadCol)
    val (ld, bs) = (loader, batchSize)
    df.mapPartitions { it =>
      val model = ld.load()
      val out = it.grouped(bs).flatMap { batch =>
        val dets = model.detectBatch(batch.iterator.map(_.getAs[Array[Byte]](idx)).toArray)
        batch.lazyZip(dets).map { (r, ds) =>
          Row.fromSeq(r.toSeq :+ ds.map { case (c, s, x1, y1, x2, y2) =>
            Row(c, s, x1, y1, x2, y2)
          })
        }
      }
      completing(out)(model.close())
    }(Encoders.row(schema))
  }

  // ---- deterministic fake models (oracle-replicable md5 math) ------

  /** md5-derived fraction in [0,1): first 8 hex chars / 2^32 — exact
    * dyadic rational, bit-identical in any engine.
    */
  private def md5Frac(s: String): Double =
    java.lang.Long.parseLong(H.md5Hex(s).take(8), 16).toDouble / 4294967296.0

  /** Spark's round(_, 6): HALF_UP on the decimal repr of the double. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** ResNet stand-in formula: dim doubles in [0,1) from
    * md5(payload ++ "_d") — the exact formula of
    * ImagePipeline.fakeEmbedding, so scaffold output hash-matches the
    * same SQL oracle. Payloads are assumed UTF-8 (the test corpus
    * carries text bytes).
    */
  private def md5Embed(payload: Array[Byte], dim: Int): Array[Double] = {
    val s = new String(payload, "UTF-8")
    Array.tabulate(dim)(d => round6(md5Frac(s + "_" + (d + 1))))
  }

  final class Md5EmbedLoader(val dim: Int) extends EmbedLoader {
    def load(): EmbedModel = new EmbedModel {
      private val d0 = dim // silence "never used" on the outer val path
      def embedBatch(payloads: Array[Array[Byte]]): Array[Array[Double]] =
        payloads.map(md5Embed(_, d0))
    }
  }

  /** Pass-through featurizer for PRE-EMBEDDED corpora: the payload IS
    * the vector, serialized as big-endian float32 words (the layout an
    * upstream embedding service writes its blobs in). float → double
    * widening is exact, so downstream quantizers see bit-identical
    * values to reading the float column directly — which is what lets
    * the streaming ingest gate share the in-session oracle.
    */
  final class Float32PayloadLoader(val dim: Int) extends EmbedLoader {
    def load(): EmbedModel = new EmbedModel {
      def embedBatch(payloads: Array[Array[Byte]]): Array[Array[Double]] =
        payloads.map { bytes =>
          // fail at the featurize boundary, not as an opaque
          // quantizer/ADC error later: a truncated or misaligned blob
          // must never silently yield a shorter vector
          require(bytes.length == 4 * dim,
            s"Float32 payload is ${bytes.length} bytes; expected ${4 * dim} (dim=$dim)")
          val bb = java.nio.ByteBuffer.wrap(bytes)
          Array.fill(dim)(bb.getFloat.toDouble)
        }
    }
  }

  /** The same fake model behind the Arrow boundary: reads each payload
    * out of the columnar batch (a real model would hand the buffers to
    * its runtime without this copy).
    */
  final class Md5ArrowEmbedLoader(val dim: Int) extends ArrowEmbedLoader {
    def load(): ArrowEmbedModel = new ArrowEmbedModel {
      private val d0 = dim
      def embedBatch(payloads: org.apache.arrow.vector.VarBinaryVector): Array[Array[Double]] =
        Array.tabulate(payloads.getValueCount)(i => md5Embed(payloads.get(i), d0))
    }
  }

  /** YOLO stand-in: 1-3 boxes per payload with md5-derived centers and
    * sizes, run through the reference's exact normalized→pixel bbox
    * math (build_faiss_db.py:173-177; truncation toward zero like
    * python int()). All arithmetic is exact-dyadic doubles, so the SQL
    * oracle reproduces every coordinate bit-for-bit.
    */
  final class Md5DetectLoader extends DetectLoader {
    def load(): DetectModel = new DetectModel {
      def detectBatch(payloads: Array[Array[Byte]]): Array[Seq[(Int, Double, Long, Long, Long, Long)]] =
        payloads.map { p =>
          val s = new String(p, "UTF-8")
          val n = (java.lang.Long.parseLong(H.md5Hex(s + "_n").take(8), 16) % 3 + 1).toInt
          (0 until n).map { i =>
            val xc = md5Frac(s + "_x" + i)
            val yc = md5Frac(s + "_y" + i)
            val w = md5Frac(s + "_w" + i) / 4.0
            val h = md5Frac(s + "_h" + i) / 4.0
            val classId = (java.lang.Long.parseLong(H.md5Hex(s + "_c" + i).take(8), 16) % 5).toInt
            val score = round6(md5Frac(s + "_s" + i))
            val wAbs = (w * 640).toLong
            val hAbs = (h * 480).toLong
            val x1 = (xc * 640 - wAbs / 2.0).toLong
            val y1 = (yc * 480 - hAbs / 2.0).toLong
            (classId, score, x1, y1, x1 + wAbs, y1 + hAbs)
          }
        }
    }
  }

  // ---- driver-checkable queries ------------------------------------

  /** m_embed_scaffold: the full pluggable-inference path (binary
    * payload → per-partition model load → batched forward → vector
    * column), exploded long for the gate. Same oracle formula as
    * m_fake_embed — but the values here travel through mapPartitions
    * and a real model API instead of a Catalyst expression.
    */
  def mEmbedScaffold(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("doc_id") < 10)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    embedStageArrow(base, "payload", new Md5ArrowEmbedLoader(8), batchSize = 4)
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("d0", "f")))
      .select(col("doc_id"), (col("d0") + 1).cast("long").as("d"), col("f"))
      .orderBy("doc_id", "d")
  }

  /** m_pipeline: the reference's ENTIRE program as one registered,
    * oracle-checked plan — ingest (build_faiss_db.py:138-226: payload →
    * detect → crop → embed → persist index + metadata sidecar) feeding
    * the query flow (app.py:100-160: top-5 search → metadata join →
    * majority label vote). Every stage is the production-shaped one:
    * batched executor-side inference (no shuffle), a partitioned
    * persisted index, broadcast queries, windowed top-k, and a
    * broadcast vote join. The fake crop carries the (payload, box)
    * identity the way a real crop carries pixels; with torch/opencv
    * present, only the two Loaders change.
    *
    * Output: the top-5 neighbors per query crop with each neighbor's
    * label and the query's majority-vote prediction (ties to the
    * smallest label, app.py's Counter.most_common order made
    * deterministic).
    */
  /** Stages 1-4 of the reference ingest (detect → crop → embed →
    * persist index + metadata): returns the embedded crop frame and
    * the index path. Shared by m_pipeline (exact query flow) and
    * m_pipeline_ann (banded partition-pruned query flow).
    */
  private def pipelineIngest(spark: SparkSession, dir: String,
                             tag: String): (DataFrame, String) = {
    import graft.sources.IndexStore
    val dim = 8
    val assets = Tables.documents(spark, dir)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text"), col("text").cast("binary").as("payload"))
    // stage 1: pluggable detector (app.py:112-124), one row per box
    val det = detectStage(assets, "payload", new Md5DetectLoader, batchSize = 16)
      .select(col("doc_id"), col("text"),
        posexplode(col("detections")).as(Seq("det_id", "dt")))
    // stage 2: crop (build_faiss_db.py:178-182's img[y1:y2, x1:x2]) —
    // the fake crop is the payload tagged with its box origin
    val crops = det.select(
      (col("doc_id") * 10 + col("det_id")).as("crop_id"),
      col("doc_id"),
      col("dt.class_id").cast("long").as("label"),
      col("dt.score").as("score"),
      concat(col("text"), lit("_"), col("dt.x1").cast("string"),
        lit("_"), col("dt.y1").cast("string")).cast("binary").as("payload"))
    // stage 3: batched featurizer (build_faiss_db.py:111-134)
    val embedded = embedStage(crops, "payload", new Md5EmbedLoader(dim), batchSize = 16)
      .select(col("crop_id"), col("doc_id"), col("label"), col("score"), col("embedding"))
      .transform(graft.Materialize.forceCached)
    // stage 4: persist index + metadata sidecar (faiss.write_index +
    // metadata.pkl, build_faiss_db.py:218-226)
    val path = graft.sources.StoreFs.gatePath(spark, dir, tag) + "/idx"
    // disjoint index + metadata writes off the same cached frame —
    // overlapped (guide §2.6)
    graft.sources.StoreLayout.concurrently2(
      IndexStore.write(embedded, "crop_id", "embedding", path, dim),
      IndexStore.writeMetadata(embedded.select(col("crop_id"), col("label")), path))
    (embedded, path)
  }

  /** The reference's class-name dimension (app.py:30's CLASS_NAMES,
    * presented via `.title()` at app.py:153). The engine's synthetic
    * label space is [0, 5), one wider than the reference's four
    * classes, so label 4 carries a placeholder name. Broadcast label
    * dim — the canonical tiny-dimension join shape.
    */
  private def classNameDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(0L -> "glioma tumor", 1L -> "meningioma tumor", 2L -> "no tumor",
        3L -> "pituitary tumor", 4L -> "unknown tumor")
      .toDF("cn_label", "cn_raw")
      .select(col("cn_label"), initcap(col("cn_raw")).as("cn_name"))
  }

  /** Stages 5-6 of the query flow: metadata join + majority label vote
    * over whatever hit list the index tier produced (app.py:148-160),
    * with each label presented through the class-name dim exactly as
    * the reference renders it (CLASS_NAMES[class_id].title(),
    * app.py:153).
    */
  private def labelVote(spark: SparkSession, hits: DataFrame,
                        path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.sources.IndexStore
    val labeled = hits.join(
        broadcast(IndexStore.readMetadata(spark, path)),
        hits("neighbor_id") === col("crop_id"))
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"),
        col("label").as("neighbor_label"))
    val votes = labeled.groupBy("query_id", "neighbor_label")
      .agg(count(lit(1)).as("nv"))
    val wv = Window.partitionBy("query_id")
      .orderBy(col("nv").desc, col("neighbor_label").asc)
    val pred = votes.withColumn("rv", row_number().over(wv)).filter(col("rv") === 1)
      .select(col("query_id").as("pq"), col("neighbor_label").as("pred_label"),
        col("nv").as("pred_votes"))
    val cn = classNameDim(spark)
    labeled.join(broadcast(pred), col("query_id") === col("pq"))
      .join(broadcast(cn), col("neighbor_label") === col("cn_label"))
      .withColumn("neighbor_name", col("cn_name")).drop("cn_label", "cn_name")
      .join(broadcast(cn), col("pred_label") === col("cn_label"))
      .withColumn("pred_name", col("cn_name"))
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"),
        col("neighbor_label"), col("neighbor_name"),
        col("pred_label"), col("pred_name"), col("pred_votes"))
      .orderBy("query_id", "rnk")
  }

  /** Query set = the HIGHEST-CONFIDENCE crop per query doc — exactly
    * app.py:121's `result.boxes.conf.argmax()`: the uploaded image
    * contributes one query vector, from its best detection.
    */
  private def bestCropQueries(embedded: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("crop_id").asc)
    embedded.filter(col("doc_id") < 3)
      .withColumn("rq", row_number().over(wq)).filter(col("rq") === 1)
      .select(col("crop_id"), col("embedding"))
  }

  def mPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val (embedded, path) = pipelineIngest(spark, dir, "m_pipeline")
    // stage 5: query flow (app.py:108-160) — the first 3 docs as the
    // "uploaded images", each querying with its best-confidence crop,
    // exact top-5 over the loaded index
    val hits = IndexStore.search(IndexStore.read(spark, path),
      bestCropQueries(embedded), "crop_id", "embedding", k = 5)
    labelVote(spark, hits, path)
  }

  /** m_pipeline_ann: the same reference program on the SCALE serving
    * tier — since r10 the query MULTIPROBES the persisted index: its
    * own LSH band-0 bucket plus the 4 Hamming-1 neighbor buckets
    * (band0 is the partition column, so the probe reads ≤ 5/16 of the
    * index's files via a static IN partition filter instead of
    * band0-only's 1/16 — and stops structurally missing neighbors
    * that straddle one hyperplane), then exact-rescoring and the
    * label vote run inside the probed buckets. The hit lists are
    * data-dependent (a query may have < 5 probed neighbors), which is
    * the ANN recall trade the oracle replays exactly.
    */
  def mPipelineAnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val (embedded, path) = pipelineIngest(spark, dir, "m_pipeline_ann")
    val hits = IndexStore.searchAnnProbed(spark, path,
      bestCropQueries(embedded), "crop_id", "embedding", k = 5, dim = 8)
    labelVote(spark, hits, path)
  }

  /** m_pipeline_decode: the reference's ENTIRE program with the
    * pixel stages fed by a REAL codec — synthetic PNGs through
    * javax.imageio (build_faiss_db.py:72's cv2.imread), the γ=1.5 LUT
    * AND cv2's exact 3×3 Gaussian over the decoded pixels (the
    * preprocess stages in the reference's order and arithmetic —
    * build_faiss_db.py:53-83; [1,2,1]/4 separable kernel, reflect-101
    * borders, round-half-up — see ImageDecode.gaussBlur3),
    * deterministic detector boxes through the exact bbox truncation math
    * (build_faiss_db.py:168-180), a REAL pixel-range crop, and an
    * embedding derived from the CROPPED PIXEL CONTENT (canonical
    * row-major pixel string → md5 → 8 dims) — so a single wrong pixel
    * anywhere in decode → LUT → crop changes the embedding, the
    * neighbor ranking, and the final label vote. Index persist,
    * best-confidence-crop query selection (app.py:121), exact top-5,
    * metadata join and majority vote are the same stages m_pipeline
    * gates; only the model inference itself remains a fake (no torch
    * in this environment). The oracle replays the closed pixel form
    * through every stage in SQL.
    */
  /** Stages 0-1 of the decode-fed pipelines: real PNG decode, then the
    * reference's preprocess in order and in its EXACT arithmetic —
    * the γ=1.5 LUT, then cv2's actual 3×3/σ=0 Gaussian
    * (build_faiss_db.py:72-83's imread → LUT → GaussianBlur):
    * separable [1,2,1]/4 kernel, reflect-101 borders, fixed-point
    * round-half-up — ImageDecode.gaussBlur3, the same math
    * m_decode_blur3 gates standalone. Returns the blurred
    * (doc_id, y, x, lpx) frame.
    */
  private def decodeLutBlurFrame(spark: SparkSession, dir: String): DataFrame = {
    val lut = ImageDecode.decodedFrames(spark, dir, w = 32, h = 24, nDocs = 8)
      .withColumn("gpx",
        (pow(col("px") / lit(255.0), lit(1.0) / lit(1.5)) * 255).cast("long"))
      .select("doc_id", "y", "x", "gpx")
    ImageDecode.gaussBlur3(lut, w = 32, h = 24, pxCol = "gpx", outCol = "lpx")
  }

  /** Stage 2 of the decode-fed pipelines: detector boxes (1-3 per doc;
    * single-division coordinate derivation so the fp value is identical
    * on both engines) through the exact normalized→pixel truncation
    * math. Returns (crop_id, bdoc, label, score, x1, y1, x2, y2).
    */
  private def decodeBoxes(spark: SparkSession, dir: String): DataFrame = {
    val det = Tables.documents(spark, dir).filter(col("doc_id") < 8)
      .select(col("doc_id"),
        explode(sequence(lit(0), (col("doc_id") % 3).cast("int"))).as("det_id"))
    val xc = ((col("doc_id") % 5) * 2 + col("det_id") + 6) / lit(20.0)
    val yc = (col("doc_id") % 7 + 2) / lit(10.0)
    val w = (col("doc_id") % 3 + 2) / lit(10.0)
    val h = (col("doc_id") % 4 + 2) / lit(10.0)
    det.select(
        (col("doc_id") * 10 + col("det_id")).as("crop_id"),
        col("doc_id").as("bdoc"),
        ((col("doc_id") * 7 + col("det_id")) % 5).as("label"),
        round(H.md5Long(concat(lit("sc_"), col("doc_id").cast("string"),
          lit("_"), col("det_id").cast("string")), 8) / lit(4294967296.0), 6)
          .as("score"),
        ImagePipeline.yoloBbox(xc, yc, w, h, lit(32), lit(24)).as("bb"))
      .select(col("crop_id"), col("bdoc"), col("label"), col("score"),
        col("bb.x1").as("x1"), col("bb.y1").as("y1"),
        col("bb.x2").as("x2"), col("bb.y2").as("y2"))
  }

  def mPipelineDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val dim = 8
    val lutFr = decodeLutBlurFrame(spark, dir)
    val boxes = decodeBoxes(spark, dir)
    // stage 3: real crop + content signature + embedding from pixels
    val embedded = lutFr
      .join(broadcast(boxes), col("doc_id") === col("bdoc"))
      .filter(col("x") >= col("x1") && col("x") < col("x2") &&
        col("y") >= col("y1") && col("y") < col("y2"))
      .groupBy("crop_id", "doc_id", "label", "score")
      .agg(expr("""md5(array_join(transform(
             array_sort(collect_list(struct(y, x, lpx))),
             s -> cast(s.lpx as string)), ','))""").as("sig"))
      .select(col("crop_id"), col("doc_id"), col("label"), col("score"),
        ImagePipeline.fakeEmbedding(col("sig"), dim).as("embedding"))
      .transform(graft.Materialize.forceCached)
    // stages 4-6: persist, best-crop query, exact top-5, label vote
    val path = graft.sources.StoreFs.gatePath(spark, dir, "m_pipeline_decode") + "/idx"
    // the index and its metadata sidecar are DISJOINT datasets off the
    // same cached frame — overlap the two writes (guide §2.6; the
    // store-build pattern §5 applied everywhere else)
    graft.sources.StoreLayout.concurrently2(
      IndexStore.write(embedded, "crop_id", "embedding", path, dim),
      IndexStore.writeMetadata(embedded.select(col("crop_id"), col("label")), path))
    val hits = IndexStore.search(IndexStore.read(spark, path),
      bestCropQueries(embedded), "crop_id", "embedding", k = 5)
    labelVote(spark, hits, path)
  }

  /** m_pipeline_real: the reference program with REAL TENSOR MATH in
    * the inference seat — decode → γ-LUT → blur → detector boxes →
    * real pixel crop, then the crop travels through the
    * BatchInference scaffold (per-partition model load, Arrow-columnar
    * batches, no shuffle) into an ACTUAL convnet forward pass
    * (ConvNet: bilinear shortest-side Resize → CenterCrop 8×8 →
    * fixed-point Normalize → 3×3 conv ×4 → ReLU → 2×2 max-pool →
    * dense 36→8), mirroring build_faiss_db.py:110-135's
    * transform+resnet18 at fixed integer weights — the preprocess
    * replays the reference's Resize/CenterCrop/Normalize chain
    * (119-123) in exact integer form. Index persist,
    * best-confidence-crop query selection (app.py:121), exact top-5,
    * metadata join and majority vote complete the program. Every
    * activation of the forward pass is integer arithmetic on
    * closed-form weights, so the DuckDB oracle replays resize → conv →
    * ReLU → pool → dense in SQL — a hash match proves the scaffolded
    * batched inference computed the exact network output for every
    * crop, and Round8Spec separately pins the Arrow path bit-equal to
    * a driver-side forward of the same payloads.
    */
  def mPipelineReal(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val lutFr = decodeLutBlurFrame(spark, dir)
    // clamp boxes to the frame: the model sees the pixels that exist
    // (numpy's implicit slice clamp, build_faiss_db.py:178-182)
    val boxes = decodeBoxes(spark, dir).select(
      col("crop_id"), col("bdoc"), col("label"), col("score"),
      greatest(col("x1"), lit(0L)).as("cx1"),
      greatest(col("y1"), lit(0L)).as("cy1"),
      (least(col("x2"), lit(32L)) - greatest(col("x1"), lit(0L))).as("cw"),
      (least(col("y2"), lit(24L)) - greatest(col("y1"), lit(0L))).as("ch"))
    // stage 3: real crop packed as the model wire payload
    // "w,h:p0,p1,…" (row-major) — pure declarative string packing, so
    // the payload itself is oracle-replayable
    val crops = lutFr
      .join(broadcast(boxes), col("doc_id") === col("bdoc"))
      .filter(col("x") >= col("cx1") && col("x") < col("cx1") + col("cw") &&
        col("y") >= col("cy1") && col("y") < col("cy1") + col("ch"))
      .groupBy("crop_id", "doc_id", "label", "score", "cw", "ch")
      .agg(expr("""array_join(transform(
             array_sort(collect_list(struct(y, x, lpx))),
             s -> cast(s.lpx as string)), ',')""").as("pxs"))
      .select(col("crop_id"), col("doc_id"), col("label"), col("score"),
        concat(col("cw").cast("string"), lit(","), col("ch").cast("string"),
          lit(":"), col("pxs")).cast("binary").as("payload"))
    // stage 4: the REAL forward pass through the Arrow-columnar
    // scaffold — the exact boundary a GPU runtime binds to. The
    // weights travel as DATA: persisted to a parquet sidecar, loaded
    // back, and served through the parameterized loader — so this
    // gate proves the loaded-weights path end to end, and a real
    // trained model is just a different sidecar (the state_dict
    // contract; build_faiss_db.py:111's pretrained load, minus torch)
    val root = graft.sources.StoreFs.gatePath(spark, dir, "m_pipeline_real")
    val wpath = s"$root/weights"
    ConvNet.saveParams(spark, ConvNet.defaultParams, wpath)
    val params = ConvNet.loadParams(spark, wpath)
    val embedded = embedStageArrow(crops, "payload",
      new ConvNet.ParamArrowLoader(params), batchSize = 8)
      .select(col("crop_id"), col("doc_id"), col("label"), col("score"), col("embedding"))
      .transform(graft.Materialize.forceCached)
    // stages 5-7: persist, best-crop query, exact top-5, label vote
    val path = s"$root/idx"
    // disjoint index + metadata writes off the same cached frame —
    // overlapped, same as m_pipeline_decode
    graft.sources.StoreLayout.concurrently2(
      IndexStore.write(embedded, "crop_id", "embedding", path, ConvNet.Dim),
      IndexStore.writeMetadata(embedded.select(col("crop_id"), col("label")), path))
    val hits = IndexStore.search(IndexStore.read(spark, path),
      bestCropQueries(embedded), "crop_id", "embedding", k = 5)
    labelVote(spark, hits, path)
  }

  /** m_detect: the pluggable detector path (app.py:112-124's
    * model(image) loop as a batched executor stage), exploded to one
    * row per detection.
    */
  /** m_detect_empty: the reference's zero-result branch (app.py:108-110
    * — "no tumor detected" when the detector returns no boxes) as a
    * queryable contract: detections are confidence-thresholded at 0.5
    * and EVERY document reports its surviving count, with
    * has_detection = false marking the docs the app would warn on. The
    * left join keeps absent groups — the shape groupBy alone silently
    * drops, which is exactly the bug class this gate pins.
    */
  def mDetectEmpty(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val kept = detectStage(base, "payload", new Md5DetectLoader, batchSize = 8)
      .select(col("doc_id"), explode(col("detections")).as("dt"))
      .filter(col("dt.score") >= 0.5)
      .groupBy("doc_id").agg(count(lit(1)).as("n_det"))
    base.select("doc_id").join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_det"), lit(0L)).as("n_det"),
        col("n_det").isNotNull.as("has_detection"))
      .orderBy("doc_id")
  }

  def mDetect(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    detectStage(base, "payload", new Md5DetectLoader, batchSize = 8)
      .select(col("doc_id"), posexplode(col("detections")).as(Seq("det_id", "dt")))
      .select(col("doc_id"), col("det_id").cast("long").as("det_id"),
        col("dt.class_id").cast("long").as("class_id"), col("dt.score").as("score"),
        col("dt.x1").as("x1"), col("dt.y1").as("y1"),
        col("dt.x2").as("x2"), col("dt.y2").as("y2"))
      .orderBy("doc_id", "det_id")
  }
}
