package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.KmvAgg
import graft.functions.{HashFns => H}
import graft.operators.Relational

/** Persisted per-source curation sketches — the append-only store
  * twins of q_bitmap_distinct and q_kmv_jaccard.
  *
  * At 100 TB a curation pipeline tracks per-source statistics (how
  * many distinct users/documents per source; how much do two sources
  * overlap) continuously, not by rescanning the corpus per question.
  * Both stores below persist KILOBYTES per source and answer their
  * query from the store alone, because both sketch families are
  * mergeable and idempotent under re-aggregation:
  *
  *  - bitmap shards: bit_or is associative + idempotent, so per-batch
  *    shards (possibly overlapping) re-OR losslessly — EXACT distinct
  *    counts from an incremental store (same algebra as
  *    Relational.bitmapShards / EventStreams.runBitmapIngest);
  *  - KMV sketches: the k smallest distinct hashes of a union are the
  *    k smallest of the per-batch k-smallests ([[KmvAgg]]), so
  *    appended per-batch sketches re-aggregate to the exact one-shot
  *    sketch, and any pairwise source overlap is estimable from 2k
  *    longs.
  *
  * Layout: `path/event_type=<src>/` parquet rows, one dir per source —
  * a per-source report prunes to one directory. Appends land new
  * files; [[BitmapStore.compact]] / [[KmvStore.compact]] rewrite each
  * dir to its MERGED minimal form through StoreMaintenance's
  * crash-consistent temp-dir + manifest swap (results unchanged by
  * the merge algebra; the spec pins three-append + compact == one
  * shot).
  */
object BitmapStore {

  /** Build/replace the store from (event_type, user_id) rows. */
  def write(df: DataFrame, path: String): Unit =
    writeShards(Relational.bitmapShards(df), "overwrite", path)

  /** Append a batch's shards — overlapping (source, bucket) cells are
    * fine, the report's re-OR absorbs them.
    */
  def append(df: DataFrame, path: String): Unit =
    writeShards(Relational.bitmapShards(df), "append", path)

  /** Land ALREADY-BUILT shard rows — the entry point for callers that
    * derive several batches' shards in one pass (the store gates'
    * wave split; each landed frame is identical to the shards
    * write/append would have built from that batch's raw rows).
    */
  private[sources] def writeShards(shards: DataFrame, mode: String,
                                   path: String): Unit =
    shards.write.mode(mode).partitionBy("event_type").parquet(path)

  /** Exact per-source distinct counts from the store alone. */
  def report(spark: SparkSession, path: String): DataFrame =
    Relational.bitmapCount(spark.read.parquet(path))

  /** Merge-compact: rewrite each source dir to one shard row per
    * bucket (bit_or of the appended shards) in a single file. Purely
    * physical — report() is unchanged because re-OR is idempotent.
    */
  def compact(spark: SparkSession, path: String): (Int, Int) =
    StoreMaintenance.rewritePartitions(spark, path, _ > 0,
      rows => rows.groupBy("bucket")
        .agg(expr("bit_or(bits)").as("bits")).coalesce(1))
}

/** K-minimum-values sketch store — see [[BitmapStore]]'s scaladoc for
  * the shared store contract. Rows under `event_type=<src>/` are the
  * source's k smallest distinct `h = md5Long("kmv_" + user_id)`
  * values (one long per row; same hash as q_kmv_jaccard so the two
  * surfaces agree).
  */
object KmvStore {
  val K = 64

  /** Per-source KMV sketch rows of a batch of (event_type, user_id)
    * rows. KmvAgg partial-aggregates map-side: the exchange carries at
    * most K longs per source per task, never the rows.
    */
  private[graft] def sketchRows(df: DataFrame): DataFrame =
    df.withColumn("h",
        H.md5Long(concat(lit("kmv_"), col("user_id").cast("string")), 15))
      .groupBy("event_type")
      .agg(KmvAgg.kmv(col("h"), K).as("hs"))
      .select(col("event_type"), explode(col("hs")).as("h"))

  /** [[sketchRows]] with a wave key carried through the group-by (one
    * scan + one aggregation builds every wave's sketch — the KmvAgg
    * over a wave's rows grouped by source ≡ grouped by (wave, source),
    * since the wave is a function of the row).
    */
  private[sources] def sketchRowsByWave(df: DataFrame,
      wave: org.apache.spark.sql.Column): DataFrame =
    df.withColumn("h",
        H.md5Long(concat(lit("kmv_"), col("user_id").cast("string")), 15))
      .groupBy(wave.as("wave"), col("event_type"))
      .agg(KmvAgg.kmv(col("h"), K).as("hs"))
      .select(col("wave"), col("event_type"), explode(col("hs")).as("h"))

  def write(df: DataFrame, path: String): Unit =
    writeSketch(sketchRows(df), "overwrite", path)

  def append(df: DataFrame, path: String): Unit =
    writeSketch(sketchRows(df), "append", path)

  /** Land already-built sketch rows — see BitmapStore.writeShards. */
  private[sources] def writeSketch(rows: DataFrame, mode: String,
                                   path: String): Unit =
    rows.write.mode(mode).partitionBy("event_type").parquet(path)

  /** The merged per-source sketch: re-aggregating appended sketch rows
    * with the same KmvAgg IS the k-smallest-of-union merge.
    */
  private def merged(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy("event_type")
      .agg(KmvAgg.kmv(col("h"), K).as("hs"))
      .select(col("event_type"), explode(col("hs")).as("h"))

  /** Pairwise Jaccard estimates between ALL sources, from the store
    * alone: for each source pair, the union sketch is the K smallest
    * of the two sketches' distinct values, and est_common counts union
    * members present in both — |A∩B|/|A∪B| estimated from 2K longs per
    * pair. Everything after the store read is over ≤ sources·K rows
    * (broadcast-only joins).
    */
  def report(spark: SparkSession, path: String): DataFrame = {
    // materialize the merged sketch once: it is referenced five times
    // below (both pair sides, the source list, two semi joins) and
    // re-deriving the store re-aggregation per reference would
    // multiply the plan; the cached table is ≤ sources·K longs
    val sk = graft.Materialize.forceCached(merged(spark, path))
    val ska = sk.select(col("event_type").as("src_a"), col("h"))
    val skb = sk.select(col("event_type").as("src_b"), col("h"))
    val srcs = sk.select("event_type").distinct()
    val pairs = srcs.select(col("event_type").as("src_a"))
      .crossJoin(broadcast(srcs.select(col("event_type").as("src_b"))))
      .filter(col("src_a") < col("src_b"))
    val und = pairs.join(broadcast(ska), "src_a").select("src_a", "src_b", "h")
      .union(pairs.join(broadcast(skb), "src_b").select("src_a", "src_b", "h"))
      .distinct()
    val w = Window.partitionBy("src_a", "src_b").orderBy("h")
    val un = und.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K).select("src_a", "src_b", "h")
    val est = un.join(broadcast(ska), Seq("src_a", "h"), "left_semi")
      .join(broadcast(skb), Seq("src_b", "h"), "left_semi")
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("est_common"))
    pairs.join(est, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), lit(K.toLong).as("k"),
        coalesce(col("est_common"), lit(0L)).as("est_common"),
        round(coalesce(col("est_common"), lit(0L)) / lit(K.toDouble), 6)
          .as("jacc_est"))
      .orderBy("src_a", "src_b")
  }

  /** Merge-compact: rewrite each source dir to its merged K-row sketch
    * in one file (drops appended rows beyond the k-smallest). Purely
    * physical for report() by the merge property.
    */
  def compact(spark: SparkSession, path: String): (Int, Int) =
    StoreMaintenance.rewritePartitions(spark, path, _ > 0,
      rows => rows.agg(KmvAgg.kmv(col("h"), K).as("hs"))
        .select(explode(col("hs")).as("h")))
}

/** Persisted hourly event-rate store — the monitoring twin of
  * q_anomaly. Per-batch (hour, event_type, n) partial counts append
  * under event_type= dirs; the report re-SUMS the shards into the
  * merged series and replays the z-score ranking. Unlike the sketch
  * stores, counts are additive but NOT idempotent — losslessness
  * rests on each source row landing in exactly one LIVE shard. Batch
  * callers get that from disjoint waves ([[append]]); the streaming
  * maintainer (EventStreams.runRateIngest) gets it from
  * [[appendBatch]]'s batchId-keyed overwrite, which makes an
  * at-least-once replay replace its shard instead of double-counting.
  * Merge-compact rewrites each source dir to one row per hour
  * (results unchanged: sum re-associates; wave layout only — batch
  * shards keep their bid identity).
  */
object RateStore {

  def write(ev: DataFrame, path: String): Unit =
    writeRows(Relational.rateRows(ev), "overwrite", path)

  def append(ev: DataFrame, path: String): Unit =
    writeRows(Relational.rateRows(ev), "append", path)

  /** Land already-built partial-count rows — see BitmapStore.writeShards. */
  private[sources] def writeRows(rows: DataFrame, mode: String,
                                 path: String): Unit =
    rows.write.mode(mode).partitionBy("event_type").parquet(path)

  /** Idempotent per-batch shard for at-least-once executors
    * (Structured Streaming's foreachBatch): the batch's partial counts
    * land under a batchId-derived `bid=<id>` subtree written with
    * OVERWRITE, so a batch replayed after a crash-between-append-and-
    * checkpoint-commit REPLACES its shard instead of double-counting.
    * Plain [[append]] would silently inflate the hourly sums in
    * exactly that window — sums are additive, not idempotent, so the
    * sink must carry the batch identity. Readers discover `bid` as an
    * extra partition column; [[report]]'s re-sum ignores it. A store
    * is either wave-appended ([[write]]/[[append]]) or
    * stream-maintained (this method) — the two layouts don't mix.
    * Batch shards keep their `bid` identity permanently (merging
    * across bids would reopen the replay double-count); each shard is
    * calendar-bounded kilobytes, so the store grows with batch count,
    * not corpus size.
    */
  /** r16: each batch shard is a VERSIONED append (touched dir =
    * `bid=<id>`, O(1) listings), so the lexical-tier time-travel
    * contract extends to the rate store: [[reportBefore]] serves the
    * ranking as it stood before any wave. A crash-REPLAYED batch is
    * the one corrective case: its overwrite replaces the shard's
    * files, so the replaced bytes are gone and the replay's version
    * records only the replacement — "before the replay" is not
    * reconstructible (it was an at-least-once duplicate anyway).
    * Returns the version (0 = store creation, no pre-state).
    */
  def appendBatch(ev: DataFrame, path: String, batchId: Long): Long =
    StoreMaintenance.versionedAppend(path, Seq(s"bid=$batchId")) {
      Relational.rateRows(ev)
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(s"$path/bid=$batchId")
    }

  private def merged(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy("hour", "event_type").agg(sum(col("n")).as("n"))

  /** z-score anomaly ranking from the store alone (q_anomaly's
    * output, hence its oracle).
    */
  def report(spark: SparkSession, path: String): DataFrame =
    Relational.anomalyRank(merged(spark, path))

  /** TIME TRAVEL on the additive tier (q_snapshot_rate): the anomaly
    * ranking as it stood BEFORE version `version` landed — the same
    * re-sum as [[report]] over the snapshot's file set, with the
    * partition columns re-attached (a pure append lineage keeps every
    * snapshot file live, so basePath discovery applies —
    * [[StoreMaintenance.readBeforeWithPartitions]]). A monitoring
    * audit ("what did the anomaly board show before last night's
    * ingest?") is this exact read.
    */
  def reportBefore(spark: SparkSession, path: String, version: Long): DataFrame =
    Relational.anomalyRank(
      StoreMaintenance.readBeforeWithPartitions(spark, path, version)
        .groupBy("hour", "event_type").agg(sum(col("n")).as("n")))

  def compact(spark: SparkSession, path: String): (Int, Int) =
    StoreMaintenance.rewritePartitions(spark, path, _ > 0,
      rows => rows.groupBy("hour").agg(sum(col("n")).as("n")).coalesce(1))
}

/** Driver-gate queries for the curation stores: build the store from
  * three overlapping appends (user_id mod 3 waves), merge-compact,
  * then answer from the store alone. The oracles are the SEMANTIC
  * ground truth over the raw table — a hash match proves
  * append + merge + compact lost nothing.
  */
object CurationStoreQueries {

  /** Land a cached wave-keyed shard frame as write + 2 appends (the
    * gate's 3-wave protocol, unchanged on disk: each landed frame is
    * exactly the shards the per-wave builder produced — the wave key
    * is a row function, so one grouped pass over the source equals the
    * three filtered passes it replaces, and the landed bytes carry no
    * wave column). r17: the gates previously scanned + hashed the full
    * events table once PER WAVE.
    */
  private def landWaves(byWave: DataFrame,
                        land: (DataFrame, String) => Unit): Unit = {
    val cached = graft.Materialize.forceCached(byWave)
    (0 until 3).foreach { i =>
      land(cached.filter(col("wave") === i).drop("wave"),
        if (i == 0) "overwrite" else "append")
    }
    graft.Materialize.release(cached)
  }

  /** q_bitmap_store: 3-wave append-only bitmap store → exact per-source
    * distinct counts (q_bitmap_distinct's oracle).
    */
  def qBitmapStore(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "bitmap_store") + "/idx"
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    landWaves(Relational.bitmapShardsByWave(ev, col("user_id") % 3),
      (shards, mode) => BitmapStore.writeShards(shards, mode, path))
    BitmapStore.compact(spark, path)
    BitmapStore.report(spark, path)
  }

  /** q_kmv_store: 3-wave append-only KMV store → pairwise source
    * overlap estimates, oracle-replayed exactly (md5 hashing makes
    * the ESTIMATE deterministic, not just its error bound).
    */
  def qKmvStore(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "kmv_store") + "/idx"
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    landWaves(KmvStore.sketchRowsByWave(ev, col("user_id") % 3),
      (rows, mode) => KmvStore.writeSketch(rows, mode, path))
    KmvStore.compact(spark, path)
    KmvStore.report(spark, path)
  }

  /** q_rate_store: 3 DISJOINT-wave append-only rate store → z-score
    * anomaly ranking (q_anomaly's oracle). The waves split on
    * event_id — rows, not users — because count shards are additive,
    * not idempotent: disjointness models the exactly-once delivery of
    * the checkpointed stream source that maintains this store.
    */
  def qRateStore(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "rate_store") + "/idx"
    val ev = Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), col("event_id"))
    landWaves(Relational.rateRowsByWave(ev, col("event_id") % 3),
      (rows, mode) => RateStore.writeRows(rows, mode, path))
    RateStore.compact(spark, path)
    RateStore.report(spark, path)
  }
}
