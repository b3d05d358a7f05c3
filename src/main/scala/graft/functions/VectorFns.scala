package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector algebra over `array<float>`/`array<double>` columns as pure
  * Catalyst expressions (zip_with/aggregate higher-order functions —
  * codegen'd, no UDFs, no MLlib Vector boxing in the hot path).
  *
  * Re-expresses the reference's FAISS primitives
  * (faiss.normalize_L2 + IndexFlatIP ≙ cosine similarity;
  * /root/reference/build_faiss_db.py:214-216, app.py:139-144).
  *
  * Determinism: computations are done in double with a fixed
  * left-to-right fold so results are reproducible; similarity outputs
  * are rounded to 6 dp on both engine and oracle sides (SURVEY.md §6).
  */
object VectorFns {

  /** Cast array<float> → array<double> once, up front. */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Σ aᵢ·bᵢ — native codegen'd expression (same left-to-right fold as
    * the higher-order formulation, ~50× faster in pairwise joins; see
    * expressions.DotProductD).
    */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExprs.dotD(a, b)

  def norm2(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity: dot/(|a|·|b|) — written exactly as the oracle's
    * list_dot_product formula so both sides evaluate the same doubles.
    */
  def cosine(a: Column, b: Column): Column =
    cosinePre(dot(a, b), norm2(a), norm2(b))

  /** Cosine given precomputed norms (avoids re-deriving |a| per pair in
    * a k-NN join — the norms are computed once per row before the join).
    * A zero-norm vector scores NULL in any ANSI mode (a TRY division),
    * so one zero vector never fails a whole search.
    */
  def cosinePre(dotAB: Column, normA: Column, normB: Column): Column =
    try_divide(dotAB, normA * normB)

  /** L2-normalized copy of the vector (FAISS normalize_L2). */
  def l2Normalize(v: Column): Column = {
    val n = norm2(v)
    transform(v, x => x / n)
  }

  def l2DistanceSq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Element-wise quantization round(x·1000) as long — used for every
    * LSH sign decision so bucket bits come from exact integer sums
    * (associative, engine-order-independent) rather than float dots.
    * A NaN component quantizes to 0 in any ANSI mode (the ANSI cast of
    * NaN to long throws).
    */
  def quantize(v: Column, scale: Int = 1000): Column =
    transform(v, x => nanvl(round(x * scale, 0), lit(0.0)).cast("long"))

  /** Signed integer dot of a quantized vector with the ±1 hyperplane
    * `signs` (length = vector dim): zip_with against a literal sign
    * array + integer fold. (A flat 64-term sum expression per bit
    * balloons past codegen method limits with 8 bits — the
    * higher-order-function form stays a tight loop.)
    */
  def signedIntDot(vq: Column, signs: Array[Int]): Column =
    aggregate(
      zip_with(vq, typedLit(signs.map(_.toLong).toSeq), (x, w) => x * w),
      lit(0L), (acc, x) => acc + x)
}
