package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Source/sink format coverage: CSV, JSON, ORC round-trips.
  *
  * Each query writes a projection of a test table out in the format,
  * reads it back, and aggregates the re-read data — the oracle runs
  * the same aggregate against the original parquet, so a hash match
  * proves the write+read path preserved values exactly (schema, nulls,
  * floating-point text round-trip).
  *
  * Scale shape: writes are partitioned (one file per task, no driver
  * funnel); reads are splittable scans. CSV re-reads use an explicit
  * schema — inference is a second full pass at 100 TB.
  */
object Formats {

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_mktsegment", StringType),
    StructField("c_acctbal", DoubleType)))

  private def base(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select("c_custkey", "c_mktsegment", "c_acctbal")

  /** Aggregate whose hash proves value fidelity through the format:
    * exact cents sum + key extremes per segment.
    */
  private def fidelityAgg(df: DataFrame): DataFrame =
    df.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")) / lit(100.0))
          .as("sum_bal"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"))
      .orderBy("c_mktsegment")

  def srcCsv(spark: SparkSession, dir: String): DataFrame = {
    val out = StoreFs.gatePath(spark, dir, "roundtrip_csv")
    base(spark, dir).write.mode("overwrite").option("header", "true").csv(out)
    fidelityAgg(spark.read.schema(customerSchema).option("header", "true").csv(out))
  }

  def srcJson(spark: SparkSession, dir: String): DataFrame = {
    val out = StoreFs.gatePath(spark, dir, "roundtrip_json")
    base(spark, dir).write.mode("overwrite").json(out)
    fidelityAgg(spark.read.schema(customerSchema).json(out))
  }

  def srcOrc(spark: SparkSession, dir: String): DataFrame = {
    val out = StoreFs.gatePath(spark, dir, "roundtrip_orc")
    base(spark, dir).write.mode("overwrite").orc(out)
    fidelityAgg(spark.read.orc(out))
  }

  /** How many per-doc files the binary-ingest fixture materializes —
    * bounded: the driver-side file writes below simulate the EXTERNAL
    * filesystem the source reads, they are not part of the query.
    */
  val BinaryFixtureDocs = 64

  /** src_binary: whole-file binary ingest — the reference's actual
    * input path (build_faiss_db.py walks an image DIRECTORY; app.py
    * reads an uploaded file), expressed as Spark's `binaryFile`
    * source. The fixture writes one file per doc from the documents
    * table (driver-side, bounded — it plays the external filesystem);
    * the QUERY is the distributed part: a binaryFile scan over the
    * directory with `pathGlobFilter` pruning at listing time, the doc
    * id parsed from the path, and length + md5 computed from the raw
    * bytes. The oracle never sees the files — it derives the same
    * (doc_id, length, md5) from the documents TABLE, so a hash match
    * proves the encode → file → scan → digest round-trip byte-exact.
    * At 100 TB this is the image/audio corpus ingest pattern:
    * binaryFile parallelizes by file across executors, the listing
    * prunes by glob, and the content column flows straight into the
    * decode pipelines (ImageDecode.pixelFrame).
    */
  def srcBinary(spark: SparkSession, dir: String): DataFrame = {
    // BUILD-ONCE fixture (r17 — the r16 per-invocation nanoTime dir
    // re-wrote 64 files through the checksummed FS on every bench rep
    // and tripled the gate's time): the per-file writes stage into a
    // dot-prefixed dir (invisible to binaryFile's listing) and land
    // under `files/` with ONE rename, so a concurrent invocation
    // either sees the complete fixture or builds its own stage and
    // loses the rename race — never a partially-written directory.
    // Still through the FS seam: a cluster session writes the fixture
    // to fs.defaultFS, where binaryFile's executors can read it.
    val rootPath = StoreFs.qualified(StoreFs.gatePath(spark, dir, "binsrc"))
    val fs = StoreFs.fsOf(rootPath)
    val files = new org.apache.hadoop.fs.Path(rootPath, "files")
    if (!StoreFs.isDir(fs, files)) {
      val stage = new org.apache.hadoop.fs.Path(
        rootPath, s".build_${System.nanoTime()}")
      StoreFs.mkdirs(fs, stage)
      Tables.documents(spark, dir)
        .select("doc_id", "text").filter(col("doc_id") < BinaryFixtureDocs)
        .collect().foreach { r =>
          val out = fs.create(
            new org.apache.hadoop.fs.Path(stage, f"doc_${r.getLong(0)}%05d.bin"),
            true)
          try out.write(
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
      if (!fs.rename(stage, files)) StoreFs.delete(fs, stage) // lost the race
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin") // pruned at listing, not scan
      .load(files.toString)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        col("length"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id")
  }

  /** src_partitioned: partitioned-table layout + dynamic partition
    * pruning (DPP) — the scan-pruning half of the layout story
    * (src_bucketed covers the shuffle half). The fact table (orders)
    * is written `partitionBy(o_month)`; the query joins it to a
    * dimension filtered on a NON-partition column (year), so static
    * pruning cannot apply — Spark's PartitionPruning rule instead
    * inserts a DynamicPruningExpression on the fact scan (asserted in
    * Round6Spec), evaluates the broadcast dim at runtime, and reads
    * only the matching month directories. At 100 TB with date/tenant
    * partitions, this is the difference between scanning the whole
    * fact table and scanning the 12 partitions a dim filter selects.
    */
  def srcPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val out = StoreFs.gatePath(spark, dir, "roundtrip_part")
    Tables.orders(spark, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      // hash-cluster by the partition column across the cluster width
      // BEFORE the dynamic-partition write: the local single-file scan
      // is one task, which would otherwise open/close all ~80 month
      // directories' files serially (the whole write on one core);
      // clustered, each task writes a few dirs in parallel and each
      // dir lands as one file. Explicit numPartitions pins the
      // exchange against AQE coalescing (the frame is small locally);
      // defaultParallelism keeps it scale-adaptive, not a constant.
      .repartition(spark.sparkContext.defaultParallelism, col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(out)
    val fact = spark.read.parquet(out)
    // dim reads the ORIGINAL table (a different source, so no scan
    // reuse ties it to the fact): distinct months, filtered on year —
    // a column the fact's partition values don't expose statically
    val dim = Tables.orders(spark, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
        year(col("o_orderdate")).as("yr"))
      .distinct()
      .filter(col("yr") === 1996)
    fact.join(broadcast(dim), col("o_month") === col("m"))
      .groupBy("o_month", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")) / lit(100.0))
          .as("revenue"))
      .orderBy("o_month", "o_orderpriority")
  }

  /** Morton interleave of two 8-bit bucket columns: bit i of `a` lands
    * at position 2i+1, bit i of `b` at 2i — a single codegen'd integer
    * projection (16 shift/mask terms OR-folded).
    */
  private def morton8(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce((x, y) => x.bitwiseOR(y))

  /** Z-order clustered events store + zone-map file skipping — the
    * multi-dimensional half of the layout story (src_partitioned
    * prunes on ONE partition column; Z-order gives range pruning on
    * TWO correlated-access columns from a single sort key, the Delta
    * `OPTIMIZE ZORDER BY` idea). Both dimensions are scaled to 8-bit
    * value-order buckets via exact integer arithmetic, bit-interleaved
    * into a 16-bit Morton key, and the table is range-partitioned +
    * sorted by that key, so every file covers a small rectangle in
    * (user_id, ts) space instead of a thin slab in one dimension. The
    * zone map (per-file min/max of both columns — what Delta/Iceberg
    * keep in their manifests, and parquet keeps per row group) is then
    * enough to skip most files for a rectangle predicate. Returns the
    * rectangle aggregate plus (files kept, files total) for the spec;
    * the oracle checks the aggregate against a full scan of the raw
    * table — a hash match proves the skip logic admits every needed
    * file (no false negatives), and the spec asserts kept < total
    * (pruning actually bites).
    */
  private[graft] def zorderRect(spark: SparkSession, dir: String): (DataFrame, Int, Int) = {
    val out = StoreFs.gatePath(spark, dir, "roundtrip_zord")
    val ev = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val r = ev.agg(min(col("user_id")), max(col("user_id")),
      min(col("ts").cast("long")), max(col("ts").cast("long"))).head()
    val (umin, umax, tmin, tmax) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val ub = (col("user_id") - umin) * 256L / (umax - umin + 1)
    val tb = (col("ts").cast("long") - tmin) * 256L / (tmax - tmin + 1)
    ev.withColumn("z", morton8(ub, tb))
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(out)
    val manifest = spark.read.parquet(out)
      .groupBy(input_file_name().as("path"))
      .agg(min(col("user_id")).as("u_lo"), max(col("user_id")).as("u_hi"),
        min(col("ts").cast("long")).as("t_lo"), max(col("ts").cast("long")).as("t_hi"))
      .collect()
    // rectangle: ~10% of the user range × 5 of 30 days
    val uLo = umin + (umax - umin + 1) / 5
    val uHi = umin + (umax - umin + 1) * 3 / 10
    val zone = java.time.ZoneOffset.UTC // session timeZone is UTC (Tables.scala)
    def sec(d: Int) = java.time.LocalDateTime.of(2024, 1, d, 0, 0).toEpochSecond(zone)
    val (tLo, tHi) = (sec(10), sec(15))
    val kept = manifest.filter { f =>
      f.getLong(2) >= uLo && f.getLong(1) <= uHi &&
        f.getLong(4) >= tLo && f.getLong(3) < tHi
    }.map(_.getString(0))
    val agg = spark.read.parquet(kept: _*)
      .filter(col("user_id").between(uLo, uHi) &&
        col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100 + lit(0.5)).cast("long")) / lit(100.0))
          .as("sum_value"))
      .orderBy("event_type")
    (agg, kept.length, manifest.length)
  }

  def srcZorder(spark: SparkSession, dir: String): DataFrame =
    zorderRect(spark, dir)._1

  /** src_bucketed: co-located join via bucketing — both fact tables
    * written bucketed+sorted on the join key, then joined through the
    * catalog. The join reads bucket files pairwise: NO shuffle of
    * either side at read time (asserted in Round2Spec). At 100 TB this
    * is the difference between re-shuffling petabytes per join and a
    * one-time layout cost at write time.
    */
  def srcBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = StoreFs.gateTag(spark, dir)
    val ordersT = s"graft_orders_bkt_$tag"
    val lineitemT = s"graft_lineitem_bkt_$tag"
    // the in-memory catalog is per-session but the warehouse directory
    // outlives it — clear both or the managed-table write refuses the
    // orphan location
    Seq(ordersT, lineitemT).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = StoreFs.qualified(
        spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + s"/$t")
      StoreFs.delete(StoreFs.fsOf(loc), loc)
    }
    // pre-shuffle each side into its bucket layout: repartition(8, key)
    // is the SAME murmur3-pmod placement the bucketed writer stamps on
    // file names, so each task holds exactly one bucket and the 8
    // sort+encode+write pipelines run in parallel — the local
    // single-file scan is one task, which would otherwise sort the
    // whole table and write all 8 bucket files serially. (Join-time
    // shuffle-freeness is a property of the bucketed TABLES, unchanged
    // — Round2Spec asserts it.)
    Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
      .repartition(8, col("o_orderkey"))
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(ordersT)
    Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice", "l_discount")
      .repartition(8, col("l_orderkey"))
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(lineitemT)
    spark.table(lineitemT)
      .join(spark.table(ordersT),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + lit(0.5))
          .cast("long")) / lit(100.0)).as("revenue"))
  }
}
