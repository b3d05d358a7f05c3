package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, oracle-replicable hash primitives.
  *
  * Every hash in the engine is arithmetic over md5 — the one hash both
  * Spark and DuckDB compute bit-identically — so dedup/LSH/fingerprint
  * operators stay end-to-end verifiable against a SQL oracle
  * (SURVEY.md §4/§6). All are plain Catalyst expressions: codegen'd,
  * no UDFs.
  */
object HashFns {

  /** Mersenne prime 2^31-1: the modulus for MinHash permutations.
    * Keeps a*h+b < 2^62 (no int64 overflow — DuckDB errors on overflow
    * where Spark would silently wrap, so staying in-range is load-bearing
    * for parity).
    */
  val P31: Long = 2147483647L

  /** First `n` (≤15) hex chars of md5 as a non-negative long.
    * DuckDB equivalent: CAST('0x' || substr(md5(x),1,n) AS BIGINT).
    */
  def md5Long(c: Column, n: Int): Column = {
    require(n >= 1 && n <= 15, "15 hex chars = 60 bits keeps the value positive in int64")
    conv(substring(md5(c), 1, n), 16, 10).cast("long")
  }

  /** Array of hashes of all k-char shingles of `text`, each in [0, P31).
    * Built with sequence/transform so it is one codegen'd projection —
    * no explode, no shuffle; md5 is computed exactly once per shingle.
    */
  def shingleHashes(text: Column, k: Int): Column =
    when(length(text) < k, array().cast("array<bigint>")).otherwise(
      transform(
        sequence(lit(1), length(text) - (k - 1)),
        i => md5Long(text.substr(i, lit(k)), 15) % P31))

  /** MinHash permutation i of a pre-reduced hash h∈[0,P31):
    * (a_i·h + b_i) mod P31. Constants are fixed odd multipliers.
    */
  val minhashA: Array[Long] = Array(
    1103579L, 2096411L, 4073L, 330967L, 7559L, 969199L, 564493L, 1394539L,
    2038073L, 104047L, 8219L, 491237L, 1205561L, 3677L, 754423L, 1864703L)
  val minhashB: Array[Long] = Array(
    12569L, 79633L, 583487L, 2129L, 490027L, 955403L, 27799L, 1093L,
    390419L, 201233L, 62987L, 12323L, 880421L, 33931L, 711151L, 510031L)
  val numPerms: Int = minhashA.length

  def minhashPerm(h: Column, i: Int): Column =
    (lit(minhashA(i)) * h + lit(minhashB(i))) % P31

  /** 32-bit token hash (8 hex chars). */
  def tokenHash32(tok: Column): Column = md5Long(tok, 8)

  /** JVM-side md5 hex — same bytes as Spark/DuckDB md5 — used to derive
    * fixed structures (LSH hyperplane signs) identically on both sides.
    */
  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** ±1 sign for LSH hyperplane j, dimension d (1-based), from the first
    * hex digit of md5("hp_<j>_<d>"): digits 0-7 → +1, 8-f → -1.
    * SQL twin: CASE WHEN strpos('0123456789abcdef',
    *   substr(md5('hp_'||j||'_'||d),1,1)) <= 8 THEN 1 ELSE -1 END.
    */
  def hyperplaneSign(j: Int, d: Int): Int =
    if (Character.digit(md5Hex(s"hp_${j}_${d}").charAt(0), 16) < 8) 1 else -1

  /** LSH signature width: 8 hyperplanes, read as 2 bands of 4 bits, so
    * candidates share a half-signature.
    */
  val LshBits = 8
  val LshBandBits = 4

  private val signsByDim =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Int]]]()

  /** The LshBits × dim hyperplane sign matrix, row j = hyperplaneSign(j,
    * 1..dim): derived from md5 once per dim, since every LSH build and
    * query banding reads it.
    */
  def hyperplaneSigns(dim: Int): Array[Array[Int]] =
    signsByDim.computeIfAbsent(dim, _ =>
      Array.tabulate(LshBits)(j => Array.tabulate(dim)(d => hyperplaneSign(j, d + 1))))

  /** `df` plus its vector column `v` quantized (`vq`, VectorFns.quantize)
    * and the integer LSH band keys band0/band1 of `vq` over `dim`
    * components. Bits come from exact integer dots (associative, so
    * identical across engines, unlike float sign tests); band b packs
    * bits b·LshBandBits until (b+1)·LshBandBits.
    */
  def withBands(df: DataFrame, dim: Int): DataFrame = {
    val s = hyperplaneSigns(dim)
    def bit(j: Int): Column = when(VectorFns.signedIntDot(col("vq"), s(j)) > 0, 1).otherwise(0)
    def band(b: Int): Column =
      (0 until LshBandBits).map(r => bit(b * LshBandBits + r) * lit(1 << r)).reduce(_ + _)
    df.withColumn("vq", VectorFns.quantize(col("v")))
      .withColumn("band0", band(0)).withColumn("band1", band(1))
  }
}
