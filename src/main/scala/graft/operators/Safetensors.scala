package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM reader/writer for the safetensors format — the public,
  * deliberately-trivial tensor container (8-byte little-endian header
  * length, a JSON header mapping tensor name → {dtype, shape,
  * data_offsets}, then the raw little-endian buffer). This is the
  * bridge that lets the inference seat serve EXTERNALLY-TRAINED
  * weights end-to-end without torch in the container: a training job
  * exports `model.safetensors`, [[ConvNet.loadParamsSafetensors]]
  * loads it into the same [[ConvNet.Params]] the sidecar path uses,
  * and every pipeline stage downstream (BatchInference's
  * per-partition model load, the forward, the store build) is
  * unchanged. The reference loads its featurizer with
  * torch.load / torchvision weights (/root/reference/app.py:40-48);
  * this is the torch-free half of that seam.
  *
  * Scope: the dtypes the engine consumes (I32/I64/F32/F64), header
  * parsed with Spark's bundled Jackson. Files go through [[graft
  * .sources.StoreFs]], so a model published to HDFS/S3 loads the same
  * way — model artifacts are cluster files, not driver-local ones.
  */
object Safetensors {

  final case class Tensor(dtype: String, shape: Seq[Long], data: ByteBuffer) {
    def numElements: Long = shape.product

    /** Elements as Ints, EXACTNESS-CHECKED: the integer-arithmetic
      * forward ([[ConvNet]]) serves integerized weights, so a float
      * tensor must hold exactly-integral values — a lossy cast would
      * silently corrupt every downstream activation.
      */
    def toIntArray: Array[Int] = {
      val b = data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      val n = numElements.toInt
      val out = new Array[Int](n)
      var i = 0
      dtype match {
        case "I32" => while (i < n) { out(i) = b.getInt(); i += 1 }
        case "I64" => while (i < n) {
          val v = b.getLong()
          require(v >= Int.MinValue && v <= Int.MaxValue, s"I64 overflow: $v")
          out(i) = v.toInt; i += 1
        }
        case "F32" => while (i < n) {
          val v = b.getFloat()
          require(v == math.rint(v), s"non-integral F32 weight: $v")
          out(i) = v.toInt; i += 1
        }
        case "F64" => while (i < n) {
          val v = b.getDouble()
          require(v == math.rint(v), s"non-integral F64 weight: $v")
          out(i) = v.toInt; i += 1
        }
        case d => throw new IllegalArgumentException(s"unsupported dtype $d")
      }
      out
    }

    /** Elements as Doubles — the ANN model files' currency
      * (centroids, PQ codebooks). Lossless for F64/F32/I32; an I64
      * beyond 2^53 would silently round, so it is rejected.
      */
    def toDoubleArray: Array[Double] = {
      val b = data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      val n = numElements.toInt
      val out = new Array[Double](n)
      var i = 0
      dtype match {
        case "F64" => while (i < n) { out(i) = b.getDouble(); i += 1 }
        case "F32" => while (i < n) { out(i) = b.getFloat().toDouble; i += 1 }
        case "I32" => while (i < n) { out(i) = b.getInt().toDouble; i += 1 }
        case "I64" => while (i < n) {
          val v = b.getLong()
          require(math.abs(v) <= (1L << 53), s"I64 value $v exceeds double precision")
          out(i) = v.toDouble; i += 1
        }
        case d => throw new IllegalArgumentException(s"unsupported dtype $d")
      }
      out
    }
  }

  /** The serializer interpolates tensor names into the JSON header
    * verbatim; a quote, backslash, or control char would corrupt the
    * header (the parse would then fail or misread offsets). Current
    * callers use fixed names, so a loud require is the right guard.
    */
  private def requireHeaderSafe(name: String): Unit =
    require(name.forall(c => c >= 0x20 && c != '"' && c != '\\'),
      s"tensor name '$name' contains JSON-unsafe characters " +
        "(quote, backslash, or control char)")

  private def byteWidth(dtype: String): Int = dtype match {
    case "I32" | "F32" => 4
    case "I64" | "F64" => 8
    case d => throw new IllegalArgumentException(s"unsupported dtype $d")
  }

  /** Parse a safetensors byte image: tensors by name (insertion order
    * of the JSON header; the `__metadata__` entry, if present, is
    * skipped per spec).
    *
    * The parser sits on the MODEL-IMPORT TRUST BOUNDARY (externally
    * trained artifacts land here), so every malformed input fails
    * LOUDLY with a named error instead of silently mis-slicing:
    * truncated header, header length past the file, non-JSON header,
    * duplicate tensor names (Jackson's default tree parse would keep
    * the LAST silently), missing per-tensor fields, negative or
    * out-of-bounds data_offsets, span/shape mismatches, and
    * OVERLAPPING tensor extents (two names sharing bytes means at
    * least one reads another's data).
    */
  def parse(bytes: Array[Byte]): Map[String, Tensor] = {
    require(bytes.length >= 8, "truncated safetensors: no header length")
    val hdrLen = ByteBuffer.wrap(bytes, 0, 8).order(ByteOrder.LITTLE_ENDIAN)
      .getLong()
    require(hdrLen > 0 && 8 + hdrLen <= bytes.length,
      s"safetensors header length $hdrLen out of bounds")
    val header = new String(bytes, 8, hdrLen.toInt, "UTF-8")
    val jf = new com.fasterxml.jackson.core.JsonFactory()
    jf.enable(com.fasterxml.jackson.core.JsonParser.Feature
      .STRICT_DUPLICATE_DETECTION)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(jf)
    val root =
      try mapper.readTree(header)
      catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          throw new IllegalArgumentException(
            s"safetensors header is not valid JSON (or has duplicate " +
              s"tensor names): ${e.getOriginalMessage}")
      }
    require(root != null && root.isObject,
      "safetensors header must be a JSON object")
    val dataStart = 8 + hdrLen.toInt
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Tensor]
    val extents = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val names = root.fieldNames()
    while (names.hasNext) {
      val name = names.next()
      if (name != "__metadata__") {
        val t = root.get(name)
        require(t != null && t.isObject &&
            t.hasNonNull("dtype") && t.hasNonNull("shape") &&
            t.hasNonNull("data_offsets"),
          s"tensor $name: missing dtype/shape/data_offsets")
        val dtype = t.get("dtype").asText()
        val shape = {
          val it = t.get("shape").elements()
          val b = Seq.newBuilder[Long]
          while (it.hasNext) b += it.next().asLong()
          b.result()
        }
        require(shape.forall(_ >= 0), s"tensor $name: negative shape dim")
        val off = t.get("data_offsets")
        require(off.isArray && off.size() == 2,
          s"tensor $name: data_offsets must be a 2-element array")
        val (b0, b1) = (off.get(0).asLong(), off.get(1).asLong())
        require(b0 >= 0 && b1 >= b0 && dataStart + b1 <= bytes.length,
          s"tensor $name offsets [$b0,$b1) out of bounds")
        require(b1 - b0 == shape.product * byteWidth(dtype),
          s"tensor $name byte span ${b1 - b0} != shape ${shape.mkString("x")}")
        extents += ((b0, b1, name))
        val buf = ByteBuffer.wrap(bytes, dataStart + b0.toInt, (b1 - b0).toInt)
          .slice().order(ByteOrder.LITTLE_ENDIAN)
        out(name) = Tensor(dtype, shape, buf.asReadOnlyBuffer())
      }
    }
    // disjoint extents: sort by begin, each must end before the next
    // begins (zero-width tensors are fine anywhere)
    val nonEmpty = extents.toSeq.filter(e => e._2 > e._1).sortBy(_._1)
    nonEmpty.zip(nonEmpty.drop(1)).foreach { case ((_, e1, n1), (s2, _, n2)) =>
      require(e1 <= s2, s"tensors $n1 and $n2 have overlapping data_offsets")
    }
    out.toMap
  }

  /** Read a safetensors file through the FS seam (local, HDFS, S3 —
    * model artifacts are cluster files). Model files are small by
    * contract (a header + the weights); this is a whole-file read.
    */
  def read(path: String): Map[String, Tensor] = {
    val p = graft.sources.StoreFs.qualified(path)
    val fs = graft.sources.StoreFs.fsOf(p)
    val len = fs.getFileStatus(p).getLen
    require(len < 64L * 1024 * 1024, s"model file $path is ${len}B; " +
      "the whole-file reader is for small-model artifacts")
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](len.toInt)
      in.readFully(0, bytes)
      parse(bytes)
    } finally in.close()
  }

  /** A tensor's values for [[serialize]], tagged with their dtype. */
  sealed abstract class Values(val dtype: String, val length: Int) {
    private[Safetensors] def putAll(b: ByteBuffer): Unit
  }

  final case class I32(values: Array[Int]) extends Values("I32", values.length) {
    private[Safetensors] def putAll(b: ByteBuffer): Unit = values.foreach(b.putInt)
  }

  final case class F64(values: Array[Double]) extends Values("F64", values.length) {
    private[Safetensors] def putAll(b: ByteBuffer): Unit = values.foreach(b.putDouble)
  }

  /** Serialize tensors (name → (shape, values)) to a safetensors byte
    * image — the export half (a JVM-side trainer, a fixture generator,
    * a store's model file, a format round-trip). Dtypes may mix within
    * one image. Offsets are packed in sequence order with no padding,
    * matching the reference implementation.
    */
  def serialize(tensors: Seq[(String, (Seq[Long], Values))]): Array[Byte] = {
    var off = 0L
    val entries = tensors.map { case (name, (shape, vals)) =>
      requireHeaderSafe(name)
      require(shape.product == vals.length,
        s"tensor $name: shape ${shape.mkString("x")} != ${vals.length} values")
      val b0 = off
      off += vals.length.toLong * byteWidth(vals.dtype)
      s""""$name":{"dtype":"${vals.dtype}","shape":[${shape.mkString(",")}],""" +
        s""""data_offsets":[$b0,$off]}"""
    }
    val header = entries.mkString("{", ",", "}").getBytes("UTF-8")
    val buf = ByteBuffer.allocate(8 + header.length + off.toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(header.length.toLong)
    buf.put(header)
    tensors.foreach { case (_, (_, vals)) => vals.putAll(buf) }
    buf.array()
  }

  /** Write a safetensors file through the FS seam. The image lands in a
    * hidden temp sibling first and is then renamed over `path`, so a
    * crash mid-write leaves the previous file whole (the temp is the
    * only torn artifact), never a truncated one.
    */
  def write(path: String, tensors: Seq[(String, (Seq[Long], Values))]): Unit = {
    val p = graft.sources.StoreFs.qualified(path)
    val fs = graft.sources.StoreFs.fsOf(p)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID}.tmp")
    try {
      val out = fs.create(tmp, true)
      try out.write(serialize(tensors))
      finally out.close()
      // one atomic rename where the scheme replaces in place (local
      // POSIX); schemes that refuse to rename onto a file (HDFS) take
      // delete-then-rename, whose window leaves the complete temp
      if (!fs.rename(tmp, p)) graft.sources.StoreFs.moveReplace(fs, tmp, p)
    } finally graft.sources.StoreFs.delete(fs, tmp)
  }
}
