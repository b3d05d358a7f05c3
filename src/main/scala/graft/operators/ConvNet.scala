package graft.operators

/** A REAL convolutional network forward pass in pure JVM integer
  * arithmetic — the executable stand-in for the reference's ResNet-18
  * featurizer (/root/reference/build_faiss_db.py:110-135) now that the
  * inference scaffold needs actual tensor math rather than an md5
  * fake. torch does not exist in this container, so the weights are
  * small and fixed — but the computation is a genuine convnet:
  *
  *   payload (w,h + row-major crop pixels)
  *     → bilinear Resize(shortest-side 10) (torchvision Resize, fixed-point)
  *     → CenterCrop 8×8                    (the Resize→CenterCrop pair)
  *     → Normalize(mean .449, std .226)    (scaled-integer thousandths)
  *     → 4 filters of 3×3 valid conv       → 4×6×6
  *     → ReLU                              (max(0, ·))
  *     → 2×2 max-pool                      → 4×3×3
  *     → flatten (36) → dense 36→8 + bias  → 8-dim embedding
  *
  * Everything is exact integer arithmetic on deterministic closed-form
  * weights, so the DuckDB oracle replays the ENTIRE forward pass in
  * SQL (joins over the weight formulas) and the driver gate
  * hash-verifies every activation end to end. The same layer math at
  * float precision is what a JNI/ONNX model computes; only `load()`
  * changes when a real runtime is present.
  *
  * Scale shape: the forward runs inside BatchInference's mapPartitions
  * contract — per-partition model load, caller-sized batches, no
  * shuffle, no driver involvement. Work is O(pixels) per row with
  * fixed constants; at 100 TB it scales with input splits exactly like
  * the reference's per-file featurize loop scales with files.
  */
object ConvNet {

  val InSize = 8     // resized input side
  val K = 3          // conv kernel side
  val NFilters = 4
  val ConvOut: Int = InSize - K + 1          // 6 (valid convolution)
  val PoolOut: Int = ConvOut / 2             // 3 (2×2 max-pool)
  val Dim = 8        // embedding width

  /** Conv weight for (filter f, kernel row ky, kernel col kx) —
    * closed-form integers in [-3, 3], replayed verbatim by the SQL
    * oracle: ((f·9 + ky·3 + kx)·5) mod 7 − 3.
    */
  def convW(f: Int, ky: Int, kx: Int): Int =
    ((f * 9 + ky * 3 + kx) * 5) % 7 - 3

  /** Dense weight for (output o, filter f, pooled row py, pooled col
    * px): ((o·36 + f·9 + py·3 + px)·3) mod 5 − 2 ∈ [-2, 2].
    */
  def fcW(o: Int, f: Int, py: Int, px: Int): Int =
    ((o * 36 + f * 9 + py * 3 + px) * 3) % 5 - 2

  /** The network's parameters as DATA — the load()-boundary contract
    * that makes the model swappable without touching the engine: a
    * production deployment writes real trained weights to the same
    * sidecar and every pipeline stage downstream is unchanged (the
    * torch checkpoint → state_dict shape, minus torch). The default
    * instance carries the closed-form integer weights the SQL oracle
    * replays.
    */
  final case class Params(conv: Array[Int], fc: Array[Int], bias: Array[Int])
    extends Serializable {
    require(conv.length == NFilters * K * K, "conv weights: 4 filters of 3x3")
    require(fc.length == Dim * NFilters * PoolOut * PoolOut, "fc weights: 8 x 36")
    require(bias.length == Dim, "bias: one per output dim")
  }

  /** The closed-form weights (convW/fcW/bias o+1) as a Params value. */
  def defaultParams: Params = Params(
    Array.tabulate(NFilters * K * K)(i => convW(i / 9, (i % 9) / 3, i % 3)),
    Array.tabulate(Dim * NFilters * PoolOut * PoolOut)(i =>
      fcW(i / 36, (i % 36) / 9, (i % 9) / 3, i % 3)),
    Array.tabulate(Dim)(_ + 1))

  /** Persist parameters as a (layer, idx, w) parquet sidecar — the
    * write_index/state_dict analog for the model itself.
    */
  def saveParams(spark: org.apache.spark.sql.SparkSession, p: Params,
                 path: String): Unit = {
    import spark.implicits._
    (p.conv.zipWithIndex.map { case (w, i) => ("conv", i, w) }
      ++ p.fc.zipWithIndex.map { case (w, i) => ("fc", i, w) }
      ++ p.bias.zipWithIndex.map { case (w, i) => ("bias", i, w) })
      .toSeq.toDF("layer", "idx", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadParams(spark: org.apache.spark.sql.SparkSession,
                 path: String): Params = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    def layer(name: String): Array[Int] =
      rows.filter(_._1 == name).sortBy(_._2).map(_._3)
    Params(layer("conv"), layer("fc"), layer("bias"))
  }

  /** State-dict tensor names + shapes of this net in a safetensors
    * file — the torch export convention (`conv.weight` [4,3,3],
    * `fc.weight` [8,4,3,3], `fc.bias` [8]), row-major, matching the
    * flat index order [[Params]] uses.
    */
  private val StShapes: Seq[(String, Seq[Long])] = Seq(
    "conv.weight" -> Seq(NFilters.toLong, K.toLong, K.toLong),
    "fc.weight" -> Seq(Dim.toLong, NFilters.toLong, PoolOut.toLong, PoolOut.toLong),
    "fc.bias" -> Seq(Dim.toLong))

  /** Load parameters from a safetensors file — REAL externally-trained
    * weights served without torch in the container: the training side
    * exports the public format, [[Safetensors.read]] parses it
    * (header + raw little-endian tensors, through the FS seam), and
    * the result is the same [[Params]] every inference stage already
    * consumes. Float tensors are accepted when exactly integral
    * (integerized/quantized exports); anything lossy fails loudly.
    */
  def loadParamsSafetensors(path: String): Params = {
    val ts = Safetensors.read(path)
    def tensor(name: String, shape: Seq[Long]): Array[Int] = {
      val t = ts.getOrElse(name,
        throw new IllegalArgumentException(s"$path: missing tensor $name"))
      require(t.shape == shape,
        s"$path: $name shape ${t.shape.mkString("x")} != ${shape.mkString("x")}")
      t.toIntArray
    }
    Params(
      tensor("conv.weight", StShapes(0)._2),
      tensor("fc.weight", StShapes(1)._2),
      tensor("fc.bias", StShapes(2)._2))
  }

  /** Export parameters as a safetensors file (state-dict names) — the
    * round-trip twin of [[loadParamsSafetensors]] and the fixture
    * generator.
    */
  def saveParamsSafetensors(p: Params, path: String): Unit =
    Safetensors.write(path, Seq(
      StShapes(0)._1 -> (StShapes(0)._2, Safetensors.I32(p.conv)),
      StShapes(1)._1 -> (StShapes(1)._2, Safetensors.I32(p.fc)),
      StShapes(2)._1 -> (StShapes(2)._2, Safetensors.I32(p.bias))))

  /** Payload wire format: "w,h:p0,p1,…" (UTF-8), pixels row-major.
    * The declarative side packs it with pure SQL string functions, so
    * the payload column itself sits inside the correctness gate.
    */
  def parsePayload(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val s = new String(bytes, "UTF-8")
    val colon = s.indexOf(':')
    require(colon > 0, "convnet payload must be 'w,h:pixels'")
    val Array(w, h) = s.substring(0, colon).split(',').map(_.trim.toInt)
    val px = s.substring(colon + 1).split(',').map(_.trim.toInt)
    require(px.length == w * h, s"expected ${w * h} pixels, got ${px.length}")
    (w, h, px)
  }

  /** Shortest-side target of the bilinear resize — the scaled analog
    * of torchvision's Resize(256) (build_faiss_db.py:119): the SHORT
    * side lands exactly on this, the long side scales to
    * round(long·R/short), aspect preserved, then CenterCrop takes the
    * central InSize×InSize (the Resize(256)→CenterCrop(224) pair).
    */
  val ResizeShort = 10

  /** Resized dims for a w×h input: short side → [[ResizeShort]], long
    * side → round-half-up of long·R/short in exact integer form
    * ((2·a + b) div (2·b) = round(a/b) for positive ints — the same
    * closed form the SQL oracle replays).
    */
  def bilinearDims(w: Int, h: Int): (Int, Int) =
    if (w <= h) (ResizeShort, (2 * h * ResizeShort + w) / (2 * w))
    else ((2 * w * ResizeShort + h) / (2 * h), ResizeShort)

  /** Half-pixel-center bilinear sampling params for target index t of
    * T over source size S (align_corners=false, the torchvision/PIL
    * convention): source position = ((2t+1)·S − T) / (2T). Returns
    * (i0, i1, frac) with frac in denominator D = 2T; a negative
    * position clamps to the edge (i0 = i1 = 0, frac = 0), and i0 can
    * never exceed S−1 by construction.
    */
  private def bilinearAxis(t: Int, T: Int, S: Int): (Int, Int, Int) = {
    val num = (2 * t + 1) * S - T
    val d = 2 * T
    if (num < 0) (0, 0, 0)
    else {
      val i0 = num / d
      (i0, math.min(i0 + 1, S - 1), num - i0 * d)
    }
  }

  /** Fixed-point Normalize (mean 0.449, std 0.226 — the grayscale
    * collapse of the ImageNet stats in build_faiss_db.py:122's
    * Normalize(mean, std)): output is thousandths of (v/255 − μ)/σ.
    * Every intermediate division runs on a non-negative operand
    * (+452000 = 2000·226 re-centers before the σ divide), so the JVM,
    * Spark `div`, and DuckDB `//` all floor identically.
    */
  def normalizeFp(v: Long): Long =
    (v * 1000000L / 255L - 449000L + 452000L) / 226L - 2000L

  /** The model-input preprocess, in the reference transform's order
    * and a fixed-point form both engines replay exactly
    * (build_faiss_db.py:119-123: Resize → CenterCrop → ToTensor →
    * Normalize): shortest-side bilinear resize to [[ResizeShort]],
    * center-crop InSize×InSize, per-pixel Normalize. The bilinear
    * accumulator is exact integer arithmetic in denominator
    * (2·nw)·(2·nh) with one floor division at the end.
    */
  def preprocess(w: Int, h: Int, px: Array[Int]): Array[Int] = {
    val (nw, nh) = bilinearDims(w, h)
    val oy = (nh - InSize) / 2
    val ox = (nw - InSize) / 2
    val dy = 2 * nh
    val dx = 2 * nw
    val out = new Array[Int](InSize * InSize)
    var i = 0
    while (i < InSize) {
      val (y0, y1, fy) = bilinearAxis(oy + i, nh, h)
      var j = 0
      while (j < InSize) {
        val (x0, x1, fx) = bilinearAxis(ox + j, nw, w)
        val v = (dy - fy).toLong *
            ((dx - fx).toLong * px(y0 * w + x0) + fx.toLong * px(y0 * w + x1)) +
          fy.toLong *
            ((dx - fx).toLong * px(y1 * w + x0) + fx.toLong * px(y1 * w + x1))
        out(i * InSize + j) = normalizeFp(v / (dy.toLong * dx)).toInt
        j += 1
      }
      i += 1
    }
    out
  }

  /** The full forward pass: bilinear Resize → CenterCrop → Normalize →
    * conv → ReLU → max-pool → dense. Returns integer-valued doubles
    * (the embedding the index tier consumes). The default bias (o+1)
    * keeps the vector from the zero norm a pathological all-flat crop
    * could otherwise produce.
    */
  def forward(w: Int, h: Int, px: Array[Int]): Array[Double] =
    forwardWith(defaultParams, w, h, px)

  /** forward() under explicit parameters — the serving path for
    * weights loaded from the sidecar ([[loadParams]]).
    */
  def forwardWith(p: Params, w: Int, h: Int, px: Array[Int]): Array[Double] = {
    val in = preprocess(w, h, px)
    // conv + ReLU: 4 × 6 × 6
    val conv = new Array[Int](NFilters * ConvOut * ConvOut)
    var f = 0
    while (f < NFilters) {
      var oy = 0
      while (oy < ConvOut) {
        var ox = 0
        while (ox < ConvOut) {
          var s = 0
          var ky = 0
          while (ky < K) {
            var kx = 0
            while (kx < K) {
              s += p.conv(f * 9 + ky * 3 + kx) * in((oy + ky) * InSize + (ox + kx))
              kx += 1
            }
            ky += 1
          }
          conv((f * ConvOut + oy) * ConvOut + ox) = math.max(0, s)
          ox += 1
        }
        oy += 1
      }
      f += 1
    }
    // 2×2 max-pool: 4 × 3 × 3
    val pool = new Array[Int](NFilters * PoolOut * PoolOut)
    f = 0
    while (f < NFilters) {
      var py = 0
      while (py < PoolOut) {
        var px2 = 0
        while (px2 < PoolOut) {
          var m = Int.MinValue
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              val v = conv((f * ConvOut + 2 * py + dy) * ConvOut + (2 * px2 + dx))
              if (v > m) m = v
              dx += 1
            }
            dy += 1
          }
          pool((f * PoolOut + py) * PoolOut + px2) = m
          px2 += 1
        }
        py += 1
      }
      f += 1
    }
    // dense 36 → 8 with bias
    Array.tabulate(Dim) { o =>
      var s = p.bias(o)
      var f2 = 0
      while (f2 < NFilters) {
        var py = 0
        while (py < PoolOut) {
          var px2 = 0
          while (px2 < PoolOut) {
            s += p.fc(o * 36 + f2 * 9 + py * 3 + px2) * pool((f2 * PoolOut + py) * PoolOut + px2)
            px2 += 1
          }
          py += 1
        }
        f2 += 1
      }
      s.toDouble
    }
  }

  /** Forward from a wire payload — the model-boundary entry point. */
  def forwardPayload(bytes: Array[Byte]): Array[Double] = {
    val (w, h, px) = parsePayload(bytes)
    forward(w, h, px)
  }

  def forwardPayloadWith(p: Params, bytes: Array[Byte]): Array[Double] = {
    val (w, h, px) = parsePayload(bytes)
    forwardWith(p, w, h, px)
  }

  /** Arrow-columnar loader over EXPLICIT parameters — the serving
    * loader for sidecar-loaded weights (m_pipeline_real drives it
    * with the persisted default weights; a production model swap is a
    * different sidecar, same class). Params ship to executors by
    * closure — a few hundred ints.
    */
  final class ParamArrowLoader(p: Params) extends BatchInference.ArrowEmbedLoader {
    val dim: Int = Dim
    def load(): BatchInference.ArrowEmbedModel = new BatchInference.ArrowEmbedModel {
      def embedBatch(payloads: org.apache.arrow.vector.VarBinaryVector): Array[Array[Double]] =
        Array.tabulate(payloads.getValueCount)(i => forwardPayloadWith(p, payloads.get(i)))
    }
  }

  /** Row-batch loader for BatchInference.embedStage. */
  final class Loader extends BatchInference.EmbedLoader {
    val dim: Int = Dim
    def load(): BatchInference.EmbedModel = new BatchInference.EmbedModel {
      def embedBatch(payloads: Array[Array[Byte]]): Array[Array[Double]] =
        payloads.map(forwardPayload)
    }
  }

  /** Arrow-columnar loader for BatchInference.embedStageArrow — reads
    * each payload straight out of the VarBinaryVector's buffers.
    */
  final class ArrowLoader extends BatchInference.ArrowEmbedLoader {
    val dim: Int = Dim
    def load(): BatchInference.ArrowEmbedModel = new BatchInference.ArrowEmbedModel {
      def embedBatch(payloads: org.apache.arrow.vector.VarBinaryVector): Array[Array[Double]] =
        Array.tabulate(payloads.getValueCount)(i => forwardPayload(payloads.get(i)))
    }
  }
}
