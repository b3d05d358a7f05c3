package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  Trigger}
import org.apache.spark.sql.types._
import graft.Tables
import graft.sources.{ModelFile, StoreFs, StoreMaintenance}

/** Event row for the stateful sessionizer (ts in epoch millis). */
case class SessionEvent(user_id: Long, event_id: Long, ts_ms: Long)

/** Event row for the event-time-timeout sessionizer: carries the
  * watermarked timestamp column through the typed projection.
  */
case class SessionEventT(user_id: Long, event_id: Long, ts_ms: Long,
                         ts: java.sql.Timestamp)

/** Open-session state carried across micro-batches per user. */
case class SessionState(sessionId: Long, startMs: Long, lastMs: Long, n: Long)

/** Closed session emitted by the sessionizer. */
case class SessionOut(user_id: Long, session_id: Long, n_events: Long, duration_s: Long)

/** State for the NATURAL-KEY sessionizer: no cross-session counter, so
  * a timeout can evict the whole entry (see sessionizeStreamNat).
  */
case class SessionNatState(startMs: Long, lastMs: Long, n: Long)

/** Closed session keyed by its start time instead of an ordinal — the
  * replayable form: any two runs that see the same events emit the
  * same rows, no matter where state was evicted in between.
  */
case class SessionNatOut(user_id: Long, session_start_ms: Long,
                         n_events: Long, duration_s: Long)

/** Structured Streaming over the events table: the same windowed
  * aggregation expressed as a stream (readStream → watermark → window)
  * and as its batch twin (what the driver verifies against DuckDB).
  *
  * At scale the stream source is Kafka/files and state is backed by
  * RocksDB; the plan shape (watermark bounds state, window agg is a
  * streaming partial agg) is identical.
  */
object EventStreams {

  /** The driver parquet carries naive timestamp[us]; the declared
    * TimestampType reads it as a session-TZ (UTC) instant — same
    * normalization as the batch Tables loader, and INT96-compatible
    * for files the engine writes itself.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def keyed(id: String, value: String, t: DataType): StructType =
    StructType(Seq(StructField(id, LongType), StructField(value, t)))

  /** (doc_id, text): the documents the text maintainers stream. */
  private val docTextSchema = keyed("doc_id", "text", StringType)

  /** (doc_id, payload): the raw binary rows the embed and image
    * maintainers stream.
    */
  private val docPayloadSchema = keyed("doc_id", "payload", BinaryType)

  /** (vec_id, embedding): the vectors the vector maintainers and the
    * ANN serving stream read.
    */
  private def vecSchema(t: DataType = ArrayType(FloatType)): StructType =
    keyed("vec_id", "embedding", t)

  /** The parquet file stream over `dir` under a declared schema,
    * optionally glob-filtered (the testdata dir holds every table) and
    * rate-limited to `maxFilesPerTrigger` files per micro-batch.
    */
  private def fileStream(spark: SparkSession, schema: StructType, dir: String,
                         glob: Option[String] = None,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    glob.foreach(reader.option("pathGlobFilter", _))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** The one run scaffold of every incremental maintainer: an
    * AvailableNow run over a durable checkpoint processes exactly the
    * files that arrived since the previous run, then stops — the file
    * source records processed files in the checkpoint log, so a run
    * costs only the delta no matter how large the landing zone has
    * grown. Each micro-batch goes to `perBatch` with its batch id.
    * foreachBatch is at-least-once: a crash between a batch's writes
    * and its checkpoint commit replays the batch on the next run, so
    * every body writes idempotently (bid-keyed overwrites, versioned
    * appends of re-derivable shards). A batch that throws fails the run
    * with a StreamingQueryException; the batch stays uncommitted and the
    * next run over the same checkpoint replays it.
    */
  private def runAvailableNow(stream: DataFrame, checkpoint: String,
                              outputMode: String = "append")(
                              perBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(perBatch)
      .start()
    q.awaitTermination()
    q
  }

  /** The post-run maintenance tail. Auto-compaction bounds the
    * small-file debt: a lock-free listing decides whether any partition
    * dir accumulated more than `compactMaxFiles` files, and the rewrite
    * (range-reclustered by `recluster`, so zone-map pruning contracts
    * survive) only runs when it trips. The wired-in vacuum then
    * reclaims versions older than `vacuumRetentionMs`, bounding the
    * snapshot debt each rewrite accrues (one retired version). The
    * maintainer owns its store, so the retention it was configured
    * with IS the store's policy: minRetentionMs = 0 bypasses the
    * interactive fat-finger floor. Because a short retention erases
    * the readBefore lineage (including the wave's own just-retired
    * version), every reclaim is logged with its count and horizon, so
    * operators see the audit window shrink instead of discovering time
    * travel silently stopped working.
    */
  private def maintain(spark: SparkSession, path: String, compactMaxFiles: Option[Int],
                       vacuumRetentionMs: Option[Long],
                       recluster: Option[String] = None): Unit = {
    compactMaxFiles.foreach(max =>
      StoreMaintenance.compactIfNeeded(spark, path, max, recluster = recluster))
    vacuumRetentionMs.foreach { ms =>
      StoreMaintenance.vacuumIfAged(path, ms, minRetentionMs = 0)
        .foreach { case (deleted, kept) =>
          if (deleted > 0)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"auto-vacuum($path): reclaimed $deleted retired version(s) " +
                s"past the ${ms}ms horizon ($kept kept) — readBefore lineage " +
                "older than the horizon is no longer reconstructible")
        }
    }
  }

  /** 15-minute tumbling-window counts per event type — streaming form. */
  def windowAggStream(spark: SparkSession, dir: String): DataFrame =
    fileStream(spark, eventsSchema, dir, glob = Some("events.parquet"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100 + lit(0.5)).cast("long")) / lit(100.0)).as("sum_value"))

  /** Runs the stream to completion against the static dir via the
    * memory sink (the local test harness path; processAllAvailable
    * drives all batches synchronously).
    */
  def runToMemory(spark: SparkSession, dir: String, name: String): StreamingQuery = {
    val q = windowAggStream(spark, dir)
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .start()
    q.processAllAvailable()
    q
  }

  val SessionGapMs: Long = 30L * 60 * 1000

  /** Stateful streaming sessionization — the custom-state path
    * (flatMapGroupsWithState) for the same 30-minute-gap semantics as
    * the batch q_sessionize. Sessions are emitted when CLOSED by a
    * later event's gap; each user's trailing open session stays in
    * state for the next micro-batch (so for a finite replay the
    * streamed output is the batch output minus the last session per
    * user — asserted in StreamingSpec).
    *
    * At scale: state is per-user (key-partitioned), RocksDB-backed,
    * and an event-time timeout would close idle sessions; events
    * within a micro-batch are sorted per group before folding.
    */
  def sessionizeStream(spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    val events = fileStream(spark, eventsSchema, dir, glob = Some("events.parquet"))
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
      .as[SessionEvent]

    def fold(user: Long, events: Iterator[SessionEvent],
             state: GroupState[SessionState]): Iterator[SessionOut] = {
      val sorted = events.toSeq.sortBy(e => (e.ts_ms, e.event_id))
      var st = state.getOption.orNull
      val out = Seq.newBuilder[SessionOut]
      sorted.foreach { e =>
        if (st == null) {
          st = SessionState(1L, e.ts_ms, e.ts_ms, 1L)
        } else if (e.ts_ms - st.lastMs > SessionGapMs) {
          out += SessionOut(user, st.sessionId, st.n, (st.lastMs - st.startMs) / 1000)
          st = SessionState(st.sessionId + 1, e.ts_ms, e.ts_ms, 1L)
        } else {
          st = st.copy(lastMs = e.ts_ms, n = st.n + 1)
        }
      }
      if (st != null) state.update(st)
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
  }

  /** Event-time-timeout sessionization: same 30-minute-gap semantics,
    * but idle sessions are CLOSED BY THE WATERMARK instead of lingering
    * in state forever — the piece sessionizeStream leaves open. Each
    * update arms a timeout at lastEvent + gap; when the watermark
    * passes it, the state fires one last time with hasTimedOut and the
    * session is emitted and evicted. This is how streaming state stays
    * bounded over months of uptime: watermark-driven eviction, not
    * table growth.
    *
    * Caveat of the ORDINAL session id: eviction removes the per-user
    * counter, so a user who returns after a timeout restarts at
    * session_id 1 — fine for per-session consumers, wrong for anyone
    * joining on (user_id, session_id) across evictions. The
    * gate-complete form is [[sessionizeStreamNat]], whose natural
    * start-time key is replayable through any eviction (that is the
    * variant the s_sessionize oracle gate runs).
    */
  def sessionizeStreamEvt(spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    val events = fileStream(spark, eventsSchema, dir, glob = Some("events.parquet"))
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("ts"))
      .as[SessionEventT]

    // local copy — referencing the object member from the closure drags
    // the (non-serializable) enclosing object into the task
    val gapMs = SessionGapMs

    def fold(user: Long, events: Iterator[SessionEventT],
             state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator.single(SessionOut(user, st.sessionId, st.n, (st.lastMs - st.startMs) / 1000))
      } else {
        val sorted = events.toSeq.sortBy(e => (e.ts_ms, e.event_id))
        var st = state.getOption.orNull
        val out = Seq.newBuilder[SessionOut]
        sorted.foreach { e =>
          if (st == null) {
            st = SessionState(1L, e.ts_ms, e.ts_ms, 1L)
          } else if (e.ts_ms - st.lastMs > gapMs) {
            out += SessionOut(user, st.sessionId, st.n, (st.lastMs - st.startMs) / 1000)
            st = SessionState(st.sessionId + 1, e.ts_ms, e.ts_ms, 1L)
          } else {
            st = st.copy(lastMs = e.ts_ms, n = st.n + 1)
          }
        }
        if (st != null) {
          state.update(st)
          state.setTimeoutTimestamp(st.lastMs + gapMs)
        }
        out.result().iterator
      }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fold)
  }

  /** The GATE-complete sessionizer: same 30-minute-gap fold and
    * watermark-timeout eviction as [[sessionizeStreamEvt]], but the
    * session key is its START TIME, not an ordinal. The ordinal form
    * must either keep a per-user counter alive forever (state that
    * never evicts) or restart numbering after an eviction (ids that
    * depend on where the watermark happened to fall); the natural key
    * has neither problem — a timeout removes the WHOLE state entry and
    * the emitted rows are a pure function of the event stream, so
    * N streamed waves reproduce the batch sessionization exactly
    * (s_sessionize hash-matches the DuckDB oracle on it). Reads a
    * plain parquet directory (the incremental-wave layout), not the
    * glob-filtered testdata dir.
    */
  def sessionizeStreamNat(spark: SparkSession, srcDir: String): Dataset[SessionNatOut] = {
    import spark.implicits._
    val events = fileStream(spark, eventsSchema, srcDir)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("ts"))
      .as[SessionEventT]

    val gapMs = SessionGapMs // local copy — see sessionizeStreamEvt

    def close(user: Long, st: SessionNatState): SessionNatOut =
      SessionNatOut(user, st.startMs, st.n, (st.lastMs - st.startMs) / 1000)

    def fold(user: Long, events: Iterator[SessionEventT],
             state: GroupState[SessionNatState]): Iterator[SessionNatOut] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator.single(close(user, st))
      } else {
        val sorted = events.toSeq.sortBy(e => (e.ts_ms, e.event_id))
        var st = state.getOption.orNull
        val out = Seq.newBuilder[SessionNatOut]
        sorted.foreach { e =>
          if (st == null) {
            st = SessionNatState(e.ts_ms, e.ts_ms, 1L)
          } else if (e.ts_ms - st.lastMs > gapMs) {
            out += close(user, st)
            st = SessionNatState(e.ts_ms, e.ts_ms, 1L)
          } else {
            st = st.copy(lastMs = e.ts_ms, n = st.n + 1)
          }
        }
        if (st != null) {
          state.update(st)
          state.setTimeoutTimestamp(st.lastMs + gapMs)
        }
        out.result().iterator
      }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fold)
  }

  /** The bid=-sharded sinks (sessionize / dedup / stream-join) are NOT
    * backward compatible with the flat appended-part-file layout they
    * replaced: parquet partition discovery rejects a directory mixing
    * root-level data files with bid= partition dirs. A checkpointed
    * stream resuming over a legacy sink must fail HERE with a
    * migration message, not later with Spark's opaque discovery error.
    * (Migration: move the legacy files under a one-off `bid=-1/` dir —
    * readers treat it as any other shard.)
    */
  private def requireBidLayout(outPath: String): Unit = {
    val root = StoreFs.qualified(outPath)
    val legacy = StoreFs.list(StoreFs.fsOf(root), root)
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
    require(legacy.isEmpty,
      s"sink $outPath holds ${legacy.length} root-level data file(s) from the " +
        "pre-bid= flat layout; partition discovery cannot mix them with bid= " +
        "shards — move them under a bid=-1/ subdirectory first")
  }

  /** Incremental sessionization run: AvailableNow over the source dir,
    * closed sessions appended to a parquet sink — the nightly "close
    * out yesterday's sessions" job shape.
    */
  def runSessionizeIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                          outPath: String): StreamingQuery =
    runBidSharded(sessionizeStreamNat(spark, srcDir).toDF(), checkpoint, outPath)

  /** A run of a bid=-sharded sink. foreachBatch is at-least-once: a
    * crash between sink write and checkpoint commit replays the batch.
    * Writing each batch as an overwrite of its OWN bid= directory makes
    * the replay replace its shard instead of duplicating rows (batch
    * ids are checkpointed, so they never collide across restarts).
    */
  private def runBidSharded(stream: DataFrame, checkpoint: String,
                            outPath: String): StreamingQuery = {
    requireBidLayout(outPath)
    runAvailableNow(stream, checkpoint) { (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outPath/bid=$batchId")
    }
  }

  /** Streaming deduplication: first event per (user_id, event_type)
    * key, with watermark-bounded state (dropDuplicatesWithinWatermark
    * evicts keys once the watermark passes — bounded state at 100 TB,
    * unlike a plain dropDuplicates whose state grows forever).
    */
  def dedupStream(spark: SparkSession, dir: String): DataFrame =
    dedupStreamFrom(spark, dir, glob = Some("events.parquet"))

  /** The same bounded-state dedup over a plain directory (the
    * incremental-wave layout runDedupIngest feeds).
    */
  def dedupStreamFrom(spark: SparkSession, srcDir: String,
                      glob: Option[String] = None): DataFrame =
    fileStream(spark, eventsSchema, srcDir, glob)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"))

  /** Incremental dedup run: AvailableNow + checkpoint, first-seen rows
    * appended to the sink. State carries across runs, so a key seen in
    * an earlier wave is not re-emitted by a later one (within the
    * watermark horizon — the API's documented bound).
    */
  def runDedupIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                     outPath: String): StreamingQuery =
    runBidSharded(dedupStreamFrom(spark, srcDir), checkpoint, outPath)

  /** Stream-stream interval join: purchases joined to the same user's
    * views from the preceding 30 minutes, both sides watermarked so
    * the join state is bounded (views older than the watermark minus
    * the interval are evicted). The batch twin below is what the spec
    * asserts against.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    streamStreamJoinFrom(spark, dir, glob = Some("events.parquet"))

  /** The same watermarked join over a plain directory (the
    * incremental-wave layout runStreamJoinIngest feeds).
    */
  def streamStreamJoinFrom(spark: SparkSession, srcDir: String,
                           glob: Option[String] = None): DataFrame = {
    def side(t: String) =
      fileStream(spark, eventsSchema, srcDir, glob).filter(col("event_type") === t)
    val views = side("view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = side("purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(views,
      expr("""v_user = p_user AND
              view_ts >= p_ts - INTERVAL 30 MINUTES AND view_ts <= p_ts"""))
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"))
  }

  /** Batch twin of streamStreamJoin (same predicate on the static
    * table) — registered as s_interval_join so the stream-stream join
    * semantics sit inside the oracle gate, not just the spec. The plan
    * is an equi-join on user with a residual time-range filter: hash-
    * joinable, per-user fan-out bounded by the 30-minute window.
    */
  def streamStreamJoinBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    purchases.join(views,
      expr("""v_user = p_user AND
              view_ts >= p_ts - INTERVAL 30 MINUTES AND view_ts <= p_ts"""))
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"))
  }

  /** Incremental stream-stream-join run: AvailableNow + checkpoint,
    * matched pairs appended to the sink. Join state (the watermark-
    * bounded view buffer) carries across runs, so a purchase arriving
    * in a later wave still finds its in-window views from an earlier
    * one — exactly-once by the checkpoint.
    */
  def runStreamJoinIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                          outPath: String): StreamingQuery =
    runBidSharded(streamStreamJoinFrom(spark, srcDir), checkpoint, outPath)

  /** The checkpointed upsert pipeline: AvailableNow runs over the
    * source dir keep the aggregation state (per-type running counts)
    * across runs, and each micro-batch appends its updated rows tagged
    * with the batch id (idempotent append — re-running a batch rewrites
    * the same rows). A later wave UPDATES the counts the earlier wave
    * established, and [[resolveUpserts]]' latest-batch-wins read
    * serves the merged table. This is the
    * exactly-once-without-a-table-format upsert pattern: with a
    * lakehouse table the foreachBatch body becomes a MERGE; the
    * batch-id tagging is the idempotency that survives foreachBatch's
    * at-least-once replay either way.
    */
  def runUpsertIncremental(spark: SparkSession, srcDir: String, checkpoint: String,
                           target: String): StreamingQuery =
    runAvailableNow(fileStream(spark, eventsSchema, srcDir)
        .groupBy("event_type").agg(count(lit(1)).as("n")),
      checkpoint, outputMode = "update") { (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId)).write.mode("append").parquet(target)
    }

  /** Incremental ingest — the batch-cadence pipeline ("process
    * tonight's new files") that replaces full recomputes at 100 TB:
    * each run appends exactly the event files that arrived since the
    * previous one to `target`.
    */
  def runIncremental(spark: SparkSession, srcDir: String, checkpoint: String,
                     target: String): StreamingQuery =
    runAvailableNow(fileStream(spark, eventsSchema, srcDir), checkpoint) { (batch, _) =>
      batch.write.mode("append").parquet(target)
    }

  /** Streaming index maintenance: incremental file-source ingest →
    * batched featurizer → persistent PQ index. Each AvailableNow run
    * embeds exactly the files that arrived since the last run and
    * folds them into the compressed index: the FIRST wave trains the
    * codebooks (PqIndexStore.write), every later wave encodes with the
    * FROZEN persisted books and appends (PqIndexStore.append — the
    * faiss add() path), so new vectors become searchable with no
    * rebuild and no retraining pass over the existing corpus. At
    * 100 TB this is the "tonight's new documents join the ANN index"
    * pipeline: cost scales with the delta, never the corpus.
    */
  def runEmbedIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                     indexPath: String, loader: graft.operators.BatchInference.EmbedLoader,
                     batchSize: Int = 64,
                     autoCompactMaxFiles: Option[Int] = None,
                     autoVacuumRetentionMs: Option[Long] = None): StreamingQuery = {
    val q = runAvailableNow(fileStream(spark, docPayloadSchema, srcDir), checkpoint) {
      (batch, _) =>
        val embedded = graft.operators.BatchInference
          .embedStage(batch, "payload", loader, batchSize)
        val store = graft.sources.PqIndexStore
        if (ModelFile.exists(indexPath)) store.append(embedded, "doc_id", "embedding", indexPath)
        else store.write(embedded, "doc_id", "embedding", indexPath)
    }
    // the PQ layout has no partition dirs: the FLAT code table takes
    // compactIfNeeded's flat-layout path
    maintain(spark, s"$indexPath.codes", autoCompactMaxFiles, autoVacuumRetentionMs)
    q
  }

  /** Streaming ANN serving — the query-side twin of runEmbedIngest
    * (that one maintains the index from a stream; this one ANSWERS a
    * stream of queries against a persisted index): each micro-batch
    * of query vectors is searched against the loaded flat store and
    * appends its exact top-k to the result sink. The index is read
    * once per batch from its persisted layout (no driver-resident
    * state beyond the path), so the serving job restarts from its
    * checkpoint with no warm-up, and scaling the corpus only changes
    * the scan each batch joins against — the micro-batch plan is
    * byte-identical to the batch IndexStore.search.
    */
  def runKnnServe(spark: SparkSession, srcDir: String, checkpoint: String,
                  storePath: String, outPath: String, k: Int = 5): StreamingQuery =
    runAvailableNow(fileStream(spark, vecSchema(), srcDir), checkpoint) { (batch, _) =>
      graft.sources.IndexStore
        .search(graft.sources.IndexStore.read(spark, storePath),
          batch, "vec_id", "embedding", k)
        .write.mode("append").parquet(outPath)
    }

  /** Incremental Bloom-filter maintenance — the streaming twin of
    * d_bloom (new document batches arrive; the membership filter must
    * cover them before the NEXT batch probes it). Each micro-batch
    * appends its own (word, bits) contributions; the serving filter
    * is the bit_or re-aggregation over all appended shards
    * (mergedBloom) — a log-structured filter exploiting bit_or's
    * associativity, so ingest never reads existing state (no
    * read-modify-write race, pure dynamic append) and compaction is
    * the usual group-by rewrite. mBits is fixed at filter creation —
    * a Bloom filter cannot resize without rehashing, so the streaming
    * contract sizes it for the expected corpus up front.
    */
  def runBloomIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                     storePath: String, mBits: Long): StreamingQuery =
    runAvailableNow(fileStream(spark, docTextSchema, srcDir), checkpoint) { (batch, _) =>
      rootShard(storePath)(graft.operators.Dedup.bloomWords(batch, mBits))
    }

  /** A versioned append of `shard` to the store root, so "before wave
    * N" is replayable (StoreMaintenance.readBefore).
    */
  private def rootShard(storePath: String)(shard: DataFrame): Unit = {
    StoreMaintenance.versionedAppend(storePath, Seq(".")) {
      shard.write.mode("append").parquet(storePath)
    }
    ()
  }

  /** PSI threshold above which the per-wave monitor recommends a
    * retrain. The population-stability index over the wave's coarse-
    * list assignment histogram vs the training histogram is the
    * standard model-monitoring drift statistic, and the right one
    * here: raw assignment-similarity LEVELS cannot tell a healthy
    * wave from a drifted one (the training reference is in-sample-
    * biased upward, and a tightly clustered drifted cohort can even
    * score HIGHER than fresh isotropic rows — both measured), but the
    * assignment DISTRIBUTION is immune to that bias: an isotropic
    * wave spreads over the lists like training did (PSI 0.07
    * measured), while drifted cluster structure funnels into few
    * lists (PSI 1.49 measured). 0.25 is the textbook
    * "significant shift, action required" line, sitting between the
    * two with a factor of ≥3.7 on either side (spec-pinned at ≥2×).
    */
  val DriftPsiThreshold = 0.25

  /** Proportion floor for PSI's log-ratio terms — the standard
    * smoothing so an empty bucket on one side contributes a large
    * finite term instead of ±∞.
    */
  private val PsiFloor = 1e-3

  /** Per-list assignment shares of a bounded deterministic sample of
    * `rows` under the store's FROZEN centroids (its model file). The
    * sample is the `sample` lowest vec_ids (stable under batch replay); the
    * collect is list-count-bounded, the histogram sample-bounded —
    * the same contracts as training.
    */
  private def assignShares(rows: DataFrame, storePath: String,
                           sample: Int): (Long, Map[Int, Double]) = {
    val cents = graft.sources.IvfIndexStore
      .readCentroids(rows.sparkSession, storePath)
    val s = rows
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.VectorFns.norm2(col("v")))
      .orderBy("vec_id").limit(sample)
    val counts = graft.operators.Knn.withCidSim(s, cents)
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    require(n > 0, "drift monitor needs at least one sampled row")
    (n, cents.map { case (cid, _) =>
      cid -> counts.getOrElse(cid, 0L).toDouble / n
    }.toMap)
  }

  private def psi(ref: Map[Int, Double], wave: Map[Int, Double]): Double =
    (ref.keySet ++ wave.keySet).toSeq.map { cid =>
      val p = math.max(ref.getOrElse(cid, 0.0), PsiFloor)
      val q = math.max(wave.getOrElse(cid, 0.0), PsiFloor)
      (q - p) * math.log(q / p)
    }.sum

  /** One drift histogram of a store: `shares` bins a wave, and its
    * baseline lives beside the store at `$store.<stats>` as
    * (`key`, share, `total`) rows. A wave past [[DriftPsiThreshold]]
    * sets the `.driftlog` shard's `flag` column.
    */
  private final case class DriftHist(stats: String, key: String, total: String, flag: String,
                                     shares: (DataFrame, String) => (Long, Map[Int, Double]))

  /** The vector tier's histogram: coarse-list assignment shares under
    * the frozen quantizer; the baseline is the training wave's.
    */
  private val ListHist = DriftHist("driftstats", "cid", "n_train", "retrain_recommended",
    assignShares(_, _, graft.operators.Knn.IvfTrainSample))

  /** Bounded sample for the LEXICAL drift monitor: the wave's
    * lowest-doc_id prefix, like every monitoring sample (stable under
    * batch replay, corpus-size-independent).
    */
  val LexDriftSample = 256

  /** Token-bucket shares of a document wave — the lexical tier's
    * drift histogram: the distribution of the sampled wave's TOKEN
    * OCCURRENCES over the [[graft.sources.Bm25Store.Buckets]] md5
    * token buckets (the same bucketing the postings layout prunes
    * by). Natural corpora are Zipfian, so a handful of head tokens
    * carry most of the mass and the bucket histogram is far from
    * uniform — a vocabulary shift (new language mix, template change,
    * OCR noise) moves those spikes and the PSI trips (measured on
    * this corpus: in-distribution wave ≈ 0.002, vowel-remapped wave ≈
    * 1.55, three orders apart). Collect is Buckets-bounded; the
    * histogram is sample-bounded.
    */
  private def tokenBucketShares(batch: DataFrame,
                                sample: Int): (Long, Map[Int, Double]) = {
    val s = batch.select("doc_id", "text").orderBy("doc_id").limit(sample)
    val counts = s
      .select(explode(graft.sources.Bm25Store.tokensOf(col("text"))).as("tok"))
      .select(graft.sources.Bm25Store.tb(col("tok")).cast("int").as("b"))
      .groupBy("b").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    require(n > 0, "lexical drift monitor needs at least one token")
    (n, (0 until graft.sources.Bm25Store.Buckets).map(b =>
      b -> counts.getOrElse(b, 0L).toDouble / n).toMap)
  }

  /** The postings tier's histogram: token-bucket shares; the baseline
    * is the first monitored wave's.
    */
  private val TokenHist = DriftHist("tokstats", "b", "n_tokens", "drift_flagged",
    (rows, _) => tokenBucketShares(rows, LexDriftSample))

  /** Persist a drift baseline: the wave's shares under `h`, one row
    * per bucket beside the store.
    */
  private def writeBaseline(h: DriftHist, rows: DataFrame, storePath: String): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (n, shares) = h.shares(rows, storePath)
    shares.toSeq.sorted.map { case (key, share) => (key, share, n) }
      .toDF(h.key, "share", h.total)
      .coalesce(1).write.mode("overwrite").parquet(s"$storePath.${h.stats}")
  }

  /** Per-wave drift check — lock-free, bounded, bid-keyed idempotent
    * like every streamed shard: PSI between the wave's histogram and
    * the baseline beside the store, written as one `.driftlog` shard
    * (n_sampled, psi, flag) per wave. A store with no baseline yet (a
    * store written OUTSIDE the maintainer — registry models, manual
    * build — or a BM25 store's first monitored wave) bootstraps it from
    * this wave, which then becomes the baseline every later wave
    * compares against.
    */
  private def logWave(h: DriftHist, batch: DataFrame, storePath: String, bid: Long): Double = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (!StoreFs.exists(s"$storePath.${h.stats}")) writeBaseline(h, batch, storePath)
    val ref = spark.read.parquet(s"$storePath.${h.stats}").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val (n, shares) = h.shares(batch, storePath)
    val p = psi(ref, shares)
    Seq((n, p, p > DriftPsiThreshold))
      .toDF("n_sampled", "psi", h.flag)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$storePath.driftlog/bid=$bid")
    p
  }

  /** The vector tier's per-wave check: PSI between the wave's
    * coarse-list assignment histogram (frozen quantizer, bounded
    * sample) and the training histogram. A tripped wave sets
    * `retrain_recommended` — the batch advisor's crowding signal
    * (v_ivf_drift_report's per-list counts) folded into the ingest
    * loop, surfacing "rebuild the index" the wave it becomes true
    * instead of at the next manual audit. Remediation is
    * [[graft.sources.IvfIndexStore.retrain]] /
    * [[graft.sources.IvfPqIndexStore.retrain]] (v_ivf_retrain_store's
    * contract), or [[AutoRetrainPolicy]].
    */
  private[graft] def logDriftWave(batch: DataFrame, storePath: String, bid: Long): Double =
    logWave(ListHist, batch, storePath, bid)

  /** The postings tier's per-wave check: PSI between the wave's
    * token-bucket histogram and the baseline. Nothing in a BM25 store
    * trains, so a tripped wave sets `drift_flagged`: the CORPUS
    * DISTRIBUTION shifted (vocabulary / language mix / template
    * change). The store itself stays exact (df, dl, stats re-derive
    * additively), but downstream consumers calibrated on the old
    * distribution — quality classifiers, DSIR weights, mixture
    * temperatures, dedup thresholds — are the things to re-examine,
    * and avgdl-sensitive score comparisons across the boundary stop
    * being apples-to-apples.
    */
  private[graft] def logLexDriftWave(batch: DataFrame, storePath: String, bid: Long): Double =
    logWave(TokenHist, batch, storePath, bid)

  /** Whether an autonomous act recorded in the bid-keyed log at
    * `logPath` ran fewer than `minWavesBetween` waves before `bid` —
    * the cooldown both drift policies share.
    */
  private def coolingDown(spark: SparkSession, logPath: String, bid: Long,
                          minWavesBetween: Int): Boolean =
    StoreFs.exists(logPath) &&
      Option(spark.read.parquet(logPath).agg(max(col("bid").cast("long"))).head().get(0))
        .exists(b => bid - b.asInstanceOf[Long] < minWavesBetween)

  /** Policy for [[runBm25Ingest]]'s AUTONOMOUS lexical remediation —
    * [[AutoRetrainPolicy]]'s twin for the postings tier. Nothing in a
    * BM25 store trains, so the act is not a rebuild: a tripped wave
    * means the corpus DISTRIBUTION shifted and every later wave would
    * re-flag against the stale baseline forever. The policy's
    * documented act is to REBASE the `.tokstats` baseline onto the
    * tripping wave (accept the new distribution as the reference,
    * exactly once per shift), under the same min-waves cooldown so a
    * run of drifted waves re-baselines once, not per wave.
    */
  final case class AutoBaselinePolicy(
      psiThreshold: Double = DriftPsiThreshold,
      minWavesBetween: Int = 2)

  /** The policy's act: rebase the token-bucket baseline onto the
    * tripping wave and record one bid-keyed idempotent `.lexlog`
    * shard (psi, action) — which is also what the cooldown reads.
    * The rebase is bounded (sample-limit histogram write) and
    * lock-free like the monitor itself.
    */
  private[graft] def maybeAutoRebase(batch: DataFrame, storePath: String,
                                     bid: Long, waveP: Double,
                                     policy: AutoBaselinePolicy): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$storePath.lexlog"
    if (waveP <= policy.psiThreshold ||
        coolingDown(spark, logPath, bid, policy.minWavesBetween)) return
    writeBaseline(TokenHist, batch, storePath)
    Seq((waveP, "rebase")).toDF("psi", "action")
      .coalesce(1).write.mode("overwrite").parquet(s"$logPath/bid=$bid")
  }

  /** The IVF-family maintainers' one body: ingest (vec_id, embedding)
    * batches into a persisted trained store through its `write` (the
    * first wave) and `append` (every later wave: assign with the
    * frozen coarse quantizer, encode with the frozen codebooks — faiss
    * add() per micro-batch, exactly-once by the checkpoint). The first
    * wave may arrive as SEVERAL micro-batches (a source
    * maxFilesPerTrigger, a future trigger default): training inside
    * batch 0 alone would freeze the model over an arbitrary partial
    * sample and make batch≡stream equivalence depend on wave
    * composition. So until the store is trained, batches only STAGE
    * their raw rows, as batchId-keyed overwrites (a crash-replayed
    * batch must REPLACE its shard, not double its rows into the
    * training sample), and one training pass runs over the whole
    * staged wave when the stream drains. With `monitor`, each
    * post-training wave writes its drift-log shard ([[logDriftWave]])
    * and training writes the baseline; `autoRetrain` acts on a tripped
    * wave ([[maybeAutoRetrain]]). The maintenance tail runs AFTER the
    * deferred training — compacting a store that does not exist yet is
    * at best a wasted listing.
    */
  private def runStagedIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                              storePath: String, autoCompactMaxFiles: Option[Int],
                              maxFilesPerTrigger: Option[Int],
                              autoVacuumRetentionMs: Option[Long], monitor: Boolean,
                              autoRetrain: Option[AutoRetrainPolicy], vecType: DataType)(
                              write: DataFrame => Unit,
                              append: DataFrame => Unit): StreamingQuery = {
    val stage = s"$storePath.trainstage"
    def trained = ModelFile.exists(storePath)
    val q = runAvailableNow(fileStream(spark, vecSchema(vecType), srcDir,
        maxFilesPerTrigger = maxFilesPerTrigger), checkpoint) { (batch, bid) =>
      if (trained) {
        append(batch)
        if (monitor) {
          val p = logDriftWave(batch, storePath, bid)
          autoRetrain.foreach(maybeAutoRetrain(batch, storePath, bid, p, _))
        }
      }
      else batch.write.mode("overwrite").parquet(s"$stage/bid=$bid")
    }
    if (!trained && StoreFs.exists(stage)) {
      write(spark.read.parquet(stage))
      if (monitor) writeBaseline(ListHist, spark.read.parquet(stage), storePath)
      // the staged rows are recomputable from the checkpointed source
      // (and now live in the store); a crash before this delete is
      // harmless — trained=true blocks any retrain on the next run
      StoreMaintenance.rmTree(stage)
    }
    maintain(spark, storePath, autoCompactMaxFiles, autoVacuumRetentionMs)
    q
  }

  /** Streaming maintainer for the two-stage compressed tier: ingest
    * embedding batches into a persisted IvfPqIndexStore
    * ([[runStagedIngest]]). The first wave trains (or inherits
    * registry models via the pre-written store). If the store is
    * residual-branded, appended codes come back residual-encoded (the
    * brand travels with the data, never a maintainer flag). With
    * `driftMonitor = true` every post-training wave also writes a
    * one-row drift-log shard ([[logDriftWave]]) — the per-wave "has the
    * distribution left the frozen model behind" check, so the retrain
    * decision has a signal without anyone running the batch advisor by
    * hand.
    */
  def runIvfPqIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                     storePath: String,
                     autoCompactMaxFiles: Option[Int] = None,
                     maxFilesPerTrigger: Option[Int] = None,
                     autoVacuumRetentionMs: Option[Long] = None,
                     driftMonitor: Boolean = false): StreamingQuery = {
    val store = graft.sources.IvfPqIndexStore
    runStagedIngest(spark, srcDir, checkpoint, storePath, autoCompactMaxFiles,
      maxFilesPerTrigger, autoVacuumRetentionMs, driftMonitor, None, ArrayType(FloatType))(
      store.write(_, "vec_id", "embedding", storePath),
      store.append(_, "vec_id", "embedding", storePath))
  }

  /** Policy for [[runIvfIngest]]'s AUTONOMOUS drift remediation — the
    * r15 verdict's open loop: s_drift_monitor flags drift,
    * IvfIndexStore.retrain remediates, and a human connected them.
    * With a policy the maintainer closes it: a wave whose PSI exceeds
    * `psiThreshold` triggers a retrain, unless one already ran within
    * the last `minWavesBetween` waves (cooldown — retrain is an
    * O(store) layout rewrite, and back-to-back drifted waves must not
    * thrash it). `sample` is the retrain mixture size (the advisor's
    * bounded 50/50 contract).
    */
  final case class AutoRetrainPolicy(
      psiThreshold: Double = DriftPsiThreshold,
      minWavesBetween: Int = 2,
      sample: Int = graft.operators.Knn.IvfTrainSample)

  /** The policy's act: build the bounded 50/50 post-append mixture —
    * the lowest sample/2 ids of the PRE-WAVE corpus (store minus the
    * tripping wave) plus the lowest sample/2 of the wave, wave ids
    * remapped to follow the base ids (rank-based — exactly
    * driftMixedSample's recipe, derived from the store and the batch
    * instead of the evaluation fixtures) — and retrain under the
    * maintenance lock. The store scan here is NOT a scale concern:
    * retrain itself is an O(store) layout rewrite, the cooldown keeps
    * it rare, and the TakeOrdered prefix is sample-bounded. One
    * bid-keyed idempotent `.retrainlog` shard records (version, psi)
    * per act, and is also what the cooldown reads.
    */
  private[graft] def maybeAutoRetrain(batch: DataFrame, storePath: String,
                                      bid: Long, waveP: Double,
                                      policy: AutoRetrainPolicy): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$storePath.retrainlog"
    if (waveP <= policy.psiThreshold ||
        coolingDown(spark, logPath, bid, policy.minWavesBetween)) return
    val half = policy.sample / 2
    val store = spark.read.parquet(storePath).select("vec_id", "v", "nrm")
    val base = store
      .join(batch.select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
      .orderBy("vec_id").limit(half)
    val wave = graft.plans.Ranking.topK(batch
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", graft.functions.VectorFns.norm2(col("v"))),
        Nil, Seq(col("vec_id").asc), half, "rn")
      .select((col("rn") - 1 + half).cast("long").as("vec_id"),
        col("v"), col("nrm"))
    val train = base.union(wave).transform(graft.Materialize.forceCached)
    val version = graft.sources.IvfIndexStore.retrain(spark, storePath, train)
    Seq((version, waveP)).toDF("version", "psi")
      .coalesce(1).write.mode("overwrite").parquet(s"$logPath/bid=$bid")
  }

  /** Streaming maintainer for the FLAT IVF tier (IvfIndexStore —
    * runIvfPqIngest's uncompressed twin, [[runStagedIngest]]): first
    * wave trains (or the store is pre-written with registry models),
    * later waves append with the frozen coarse quantizer. With
    * `driftMonitor` each post-training wave writes the PSI drift-log
    * shard; with `autoRetrain` the maintainer additionally CLOSES the
    * drift loop — a tripped wave retrains the store itself under the
    * policy's threshold + cooldown (s_retrain_auto gates the
    * lifecycle: a drifted ingest ends with appended-cohort recall
    * restored with no manual retrain call, hash-matching
    * v_ivf_retrain_store's oracle). `vecType` lets double-precision
    * pipelines stream without the float32 quantization the default
    * schema imposes.
    */
  def runIvfIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                   storePath: String,
                   autoCompactMaxFiles: Option[Int] = None,
                   maxFilesPerTrigger: Option[Int] = None,
                   autoVacuumRetentionMs: Option[Long] = None,
                   driftMonitor: Boolean = false,
                   autoRetrain: Option[AutoRetrainPolicy] = None,
                   vecType: org.apache.spark.sql.types.DataType =
                     ArrayType(FloatType)): StreamingQuery = {
    val store = graft.sources.IvfIndexStore
    runStagedIngest(spark, srcDir, checkpoint, storePath, autoCompactMaxFiles,
      maxFilesPerTrigger, autoVacuumRetentionMs, driftMonitor || autoRetrain.isDefined,
      autoRetrain, vecType)(
      store.write(_, "vec_id", "embedding", storePath),
      store.append(_, "vec_id", "embedding", storePath))
  }

  /** Incremental multi-index-hash maintenance — the streaming twin of
    * BqIndexStore.writeMih (the radius tier's online contract: new
    * fingerprint vectors must answer radius probes before the next
    * batch lands). Each AvailableNow micro-batch sign-packs ONLY the
    * delta and dynamic-partition-appends its (blk, bval) bucket rows;
    * bucket rows are self-contained (codes ride inline), so ingest
    * never reads existing state — the same log-structured no-RMW shape
    * as runBloomIngest, and searchRadius over the store is equal by
    * construction to a single batch build over the union of the
    * waves (spec-asserted, two waves). Small-file growth is absorbed
    * by the usual StoreMaintenance compaction pass, reclustered by
    * bval for the layout's zone-map pruning.
    */
  def runMihIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                   storePath: String,
                   autoCompactMaxFiles: Option[Int] = None,
                   autoVacuumRetentionMs: Option[Long] = None): StreamingQuery = {
    val q = runAvailableNow(fileStream(spark, vecSchema(), srcDir), checkpoint) { (batch, _) =>
      graft.sources.BqIndexStore.appendMih(batch, "vec_id", "embedding", storePath)
    }
    maintain(spark, storePath, autoCompactMaxFiles, autoVacuumRetentionMs,
      recluster = Some("bval"))
    q
  }

  /** Incremental sketch maintenance — the streaming twin of
    * q_hll_rollup: each AvailableNow batch appends ONE HLL sketch row
    * per event type (kilobytes, regardless of batch size); the
    * serving estimate is hll_union_agg over the appended shards. HLL
    * registers are per-value maxima, so the union of per-batch
    * sketches is STATE-IDENTICAL to one sketch over all rows — the
    * report equals the batch build exactly (spec-asserted), and
    * history is never rescanned. This is the persisted-sketch
    * pattern: a daily distinct-users dashboard at 100 TB reads
    * kilobytes of shards, not the corpus.
    */
  def runHllIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                   storePath: String): StreamingQuery =
    runAvailableNow(fileStream(spark, eventsSchema, srcDir), checkpoint) { (batch, _) =>
      rootShard(storePath)(batch.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("sk")))
    }

  /** Distinct estimates from the incrementally built sketch store —
    * register-identical to a single batch sketch over the same rows.
    */
  def hllDistinctReport(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(storePath)
      .groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .orderBy("event_type")

  /** Streaming maintainer of the persisted KMV overlap store
    * (sources.KmvStore): each AvailableNow batch appends its own
    * per-source k-smallest-distinct-hash sketch rows; the store
    * report's KmvAgg re-aggregation IS the k-smallest-of-union merge,
    * so overlapping batches are lossless and pairwise source Jaccard
    * estimates stay exactly equal to the one-shot batch sketch
    * (spec-asserted, two waves) — the log-structured bloom/bitmap
    * shape applied to the overlap-estimation sketch.
    */
  def runKmvIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                   storePath: String): StreamingQuery =
    runAvailableNow(fileStream(spark, eventsSchema, srcDir), checkpoint) { (batch, _) =>
      // versioned shard append; touched dirs unknown ahead of the agg
      // (event_type partitions), and the sketch store is kilobytes —
      // the full-tree diff is O(shards)
      StoreMaintenance.versionedAppend(storePath) {
        graft.sources.KmvStore
          .sketchRows(batch.select(col("event_type"), col("user_id")))
          .write.mode("append").partitionBy("event_type").parquet(storePath)
      }
    }

  /** Streaming maintainer of the persisted hourly-rate store
    * (sources.RateStore — the q_anomaly monitoring twin): each
    * AvailableNow batch writes its own (hour, event_type, n) partial
    * counts as an IDEMPOTENT batchId-keyed shard
    * (RateStore.appendBatch: overwrite under bid=<id>). Counts are
    * ADDITIVE, not idempotent, and foreachBatch only guarantees
    * at-least-once execution — a crash between the shard write and
    * the checkpoint commit replays the batch on restart. The
    * batchId-derived overwrite makes the replay REPLACE its shard
    * rather than double-count it, so the report's re-sum equals the
    * one-shot series under replay (spec-asserted, including a forced
    * re-execution of a committed batch). History is never rescanned;
    * an anomaly dashboard reads kilobytes of shards, not the event
    * log.
    */
  def runRateIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                    storePath: String): StreamingQuery =
    runAvailableNow(fileStream(spark, eventsSchema, srcDir), checkpoint) { (batch, batchId) =>
      graft.sources.RateStore
        .appendBatch(batch.select(col("ts"), col("event_type")), storePath, batchId)
    }

  /** Streaming image-fingerprint ingest — the multimodal × streaming
    * closure of the radius tier: each AvailableNow batch of raw image
    * payloads runs the REAL decode (javax.imageio via
    * ImageDecode.pixelFrame) → perceptual-hash fingerprint
    * (phashFromFrame's fixed-point DCT) → 64-bit code split into two
    * words → MIH bucket rows appended to the radius store. New images
    * become radius-searchable (near-duplicate detection under bit
    * corruption) without touching existing state — cost scales with
    * the delta, and BqIndexStore.searchRadius serves the result with
    * the same pigeonhole pruning as the embedding tier.
    */
  def runPhashIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                     storePath: String,
                     autoCompactMaxFiles: Option[Int] = None,
                     autoVacuumRetentionMs: Option[Long] = None): StreamingQuery = {
    val q = runAvailableNow(fileStream(spark, docPayloadSchema, srcDir), checkpoint) {
      (batch, _) =>
        val frames = graft.operators.ImageDecode.pixelFrame(batch, "doc_id", "payload")
        val codes = graft.operators.ImagePipeline.phashFromFrame(frames)
          .select(col("doc_id").as("id"),
            (col("phash").bitwiseAND(lit(4294967295L))).as("code_lo"),
            shiftrightunsigned(col("phash"), 32).as("code_hi"))
        graft.sources.BqIndexStore.appendMihCodes(codes, storePath)
    }
    // the MIH layout's zone-map pruning contract needs bval-clustered
    // files, so the budgeted rewrite reclusters (runMihIngest's policy)
    maintain(spark, storePath, autoCompactMaxFiles, autoVacuumRetentionMs,
      recluster = Some("bval"))
    q
  }

  /** Incremental exact-distinct maintenance — the streaming twin of
    * q_bitmap_distinct: each AvailableNow batch appends its OWN bitmap
    * shards (event_type, bucket, bits); because bit_or is associative
    * and idempotent, re-ORing the appended shards at read time equals
    * the one-shot batch bitmap even when batches overlap in users —
    * the same log-structured no-read-modify-write shape as
    * runBloomIngest, but for an EXACT count. At 100 TB this is how a
    * daily exact-distinct dashboard avoids rescanning history: the
    * store grows by delta-shards, the serving query is a tiny re-agg.
    */
  def runBitmapIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                      storePath: String): StreamingQuery =
    runAvailableNow(fileStream(spark, eventsSchema, srcDir), checkpoint) { (batch, _) =>
      rootShard(storePath)(graft.operators.Relational
        .bitmapShards(batch.select(col("event_type"), col("user_id"))))
    }

  /** Exact per-type distinct counts from an incrementally built shard
    * store — equal by construction to q_bitmap_distinct over the
    * union of the ingested batches.
    */
  def bitmapDistinctReport(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Relational.bitmapCount(spark.read.parquet(storePath))

  /** The serving-side merge of an ingested filter store: OR the
    * per-batch shards per word. Equal by construction to the filter a
    * single batch build produces over the union of the batches.
    */
  def mergedBloom(spark: SparkSession, storePath: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(storePath)
      .groupBy("word")
      .agg(org.apache.spark.sql.functions.expr("bit_or(bits)").as("bits"))

  /** Streaming maintainer of the persisted late-interaction index
    * (sources.MaxsimStore): each AvailableNow batch of documents
    * derives its own sampled-hash vector rows and dynamic-partition-
    * appends them into their hash buckets — structure-free, no
    * read-modify-write (the log-structured MIH/bloom shape applied to
    * the ColBERT layout). New documents become maxsim-searchable
    * without touching existing state; two streamed waves answer
    * identically to one batch build (spec-asserted).
    */
  def runMaxsimIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                      storePath: String,
                      autoCompactMaxFiles: Option[Int] = None,
                      autoVacuumRetentionMs: Option[Long] = None): StreamingQuery = {
    val q = runAvailableNow(fileStream(spark, docTextSchema, srcDir), checkpoint) { (batch, _) =>
      graft.sources.MaxsimStore.append(batch, storePath)
    }
    // bounded small-file debt per hbkt bucket dir after each wave
    maintain(spark, storePath, autoCompactMaxFiles, autoVacuumRetentionMs)
    q
  }

  /** Incremental span-dedup maintenance — the streaming twin of
    * d_span_dedup. Each AvailableNow batch of NEW documents is hashed
    * ONCE into distinct (doc_id, span-hash) rows (Dedup.spanHashes,
    * the only pass that touches text) and appended to the span store;
    * the checkpointed file source guarantees old documents are never
    * re-read or re-hashed. Because span occurrence counts are
    * additive over appends, `spanDedupReport` over the store
    * reproduces the batch operator's output exactly (spec-asserted,
    * two waves) — nightly corpus drops keep dedup current for the
    * cost of hashing only the delta.
    */
  def runSpanIngest(spark: SparkSession, srcDir: String, checkpoint: String,
                    storePath: String): StreamingQuery =
    runAvailableNow(fileStream(spark, docTextSchema, srcDir), checkpoint) { (batch, _) =>
      rootShard(storePath)(graft.operators.Dedup.spanHashes(batch))
    }

  /** d_span_dedup's report from an incrementally maintained span
    * store — no text, no hashing, just the count + join-back.
    */
  def spanDedupReport(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Dedup.spanReport(spark.read.parquet(storePath))

  /** Reader-side resolution for the foreachBatch target: latest
    * batch_id per key wins.
    */
  def resolveUpserts(spark: SparkSession, target: String): DataFrame =
    graft.plans.Ranking.topK(spark.read.parquet(target), Seq("event_type"),
        Seq(col("batch_id").desc), 1, "rn")
      .select("event_type", "n")

  /** s_window_stream: the ACTUAL streaming windowed aggregation IN the
    * driver gate — windowAggStream (readStream → watermark → tumbling
    * window, complete mode to the memory sink) driven to completion,
    * its state-store output formatted exactly like the batch twin and
    * hash-matched against s_window_agg's oracle: the streaming partial
    * agg + state store reproduce the batch aggregation bit-for-bit,
    * closing the one F-section API row that predated the gate itself.
    */
  def sWindowStream(spark: SparkSession, dir: String): DataFrame = {
    val name = s"swindowstream_${StoreFs.gateTag(spark, dir)}"
    if (!spark.catalog.tableExists(name))
      runToMemory(spark, dir, name).stop()
    spark.table(name)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")
  }

  /** s_sliding_agg: 30-minute windows sliding every 15 — each event
    * lands in exactly two windows. Same plan shape streaming or batch:
    * the window expression expands rows map-side, then one partial agg.
    */
  def sSlidingAggBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "30 minutes", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"))
      .orderBy("win_start", "event_type")

  /** s_window_agg: batch twin of windowAggStream — identical window
    * semantics (epoch-aligned tumbling windows), oracle-checkable.
    */
  def sWindowAggBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100 + lit(0.5)).cast("long")) / lit(100.0)).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** The one wave driver of the streaming gates. Under the gate's work
    * path `name`, wave i of `waves` lands in `<root>/<src>` (the first
    * overwrites, later ones append) and `ingest(src, ckpt, sink, i)`
    * runs after it. `waves` receives the sink path `<root>/<sink>` and
    * runs first, so a gate's seed write goes there. The build is
    * guarded by `built(sink)`: re-invocations (Bench reps) only read the
    * sink. Returns the sink path.
    */
  private def streamWaves(spark: SparkSession, dir: String, name: String, sink: String,
                          built: String => Boolean = StoreFs.exists(_),
                          src: String = "in")(
                          waves: String => Seq[DataFrame])(
                          ingest: (String, String, String, Int) => Unit): String = {
    val root = StoreFs.gatePath(spark, dir, name)
    val (in, ckpt, out) = (s"$root/$src", s"$root/ckpt", s"$root/$sink")
    if (!built(out)) waves(out).zipWithIndex.foreach { case (wave, i) =>
      wave.write.mode(if (i == 0) "overwrite" else "append").parquet(in)
      ingest(in, ckpt, out, i)
    }
    out
  }

  /** The second of two waves runs under the auto-compact policy. */
  private def compactLast(i: Int): Option[Int] = Option.when(i == 1)(4)

  /** Two waves of `df` split by `c` parity, even first. */
  private def parityWaves(df: DataFrame, c: String): Seq[DataFrame] =
    Seq(df.filter(col(c) % 2 === 0), df.filter(col(c) % 2 === 1))

  /** The event-id parity waves of the events table. */
  private def eventWaves(spark: SparkSession, dir: String): String => Seq[DataFrame] =
    _ => parityWaves(Tables.events(spark, dir), "event_id")

  /** Two TIME-SPLIT event waves (events up to the midpoint of the time
    * range, then the rest) — the wave layout for WATERMARKED gates. A
    * parity split would land half of wave 2 below the watermark wave 1
    * advanced, and the stream would (legitimately, per the watermark
    * contract) drop it as late; splitting on event time models what a
    * checkpointed source actually delivers — files arriving in rough
    * event-time order. Also returns the corpus max event ts (for flush
    * sentinels).
    */
  private def timeWaves(spark: SparkSession, dir: String): (Seq[DataFrame], java.sql.Timestamp) = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = ev.agg(min(col("ts")), max(col("ts"))).collect()(0)
    val (mn, mx) = (r.getTimestamp(0), r.getTimestamp(1))
    val mid = new java.sql.Timestamp((mn.getTime + mx.getTime) / 2)
    (Seq(ev.filter(col("ts") <= lit(mid)), ev.filter(col("ts") > lit(mid))), mx)
  }

  /** s_ivfpq_ingest: the streaming IVF-PQ maintainer IN the driver
    * gate — two AvailableNow waves of embedding files flow through
    * runIvfPqIngest and the resulting store's search hash-matches
    * v_ivf_pq's oracle, so two-wave ≡ batch equivalence moves from
    * spec assertion into the oracle gate. The store is seeded with the
    * session registry's models and ZERO rows (the maintainer's
    * documented inherit-a-pre-written-store's-models path): the gate
    * corpus IS the 500-vector training prefix, so maintainer-side
    * training would need the entire corpus inside wave 1 and the
    * two-wave shape would be vacuous — seeding instead routes EVERY
    * data row through the streamed frozen-model append. Idempotent
    * across invocations (Bench reps): the waves land once, later calls
    * only search.
    */
  def sIvfPqIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Knn
    val emb = Tables.embeddings(spark, dir)
    val store = streamWaves(spark, dir, "sivfpq_store", "idx", ModelFile.exists) { store =>
      graft.sources.IvfPqIndexStore.write(
        emb.filter(col("vec_id") < 0), "vec_id", "embedding", store,
        ivfModel = Some(Knn.ivfCentroids(spark, dir)),
        pqModel = Some(Knn.pqBooksFor(spark, dir)))
      Seq(emb.filter(col("vec_id") < 250), emb.filter(col("vec_id") >= 250))
    } { (src, ckpt, store, i) =>
      runIvfPqIngest(spark, src, ckpt, store, autoCompactMaxFiles = compactLast(i))
    }
    graft.sources.IvfPqIndexStore.search(spark, store,
      emb.filter(col("vec_id") < Knn.NumQueries), "vec_id", "embedding",
      Knn.DefaultK)
      .orderBy("query_id", "rnk")
  }

  /** s_embed_ingest: the payload→featurize→PQ maintainer IN the driver
    * gate — the one vector maintainer that was still spec-only. Two
    * AvailableNow waves of RAW BINARY payloads (each embedding
    * serialized as big-endian float32 words — the pre-embedded-corpus
    * blob layout) flow through runEmbedIngest: batched featurization
    * via the pluggable EmbedLoader, then frozen-codebook appends into
    * the persisted PQ store. The store is seeded with the session
    * registry's codebooks and zero rows (the sIvfPqIngest seeding
    * rationale: the gate corpus IS the training prefix, so every data
    * row must route through the streamed frozen-model append). The
    * final ADC search hash-matches v_pq's oracle: payload encode →
    * stream → featurize → quantize → store → search, lossless
    * end-to-end. Idempotent across invocations.
    */
  def sEmbedIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Knn
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val loader = new graft.operators.BatchInference.Float32PayloadLoader(64)
    val store = streamWaves(spark, dir, "sembed_store", "idx",
        p => StoreFs.exists(s"$p.codes")) { store =>
      graft.sources.PqIndexStore.write(
        emb.filter(col("vec_id") < 0), "vec_id", "embedding", store,
        model = Some(Knn.pqBooksFor(spark, dir)))
      val payloads = emb.select("vec_id", "embedding")
        .as[(Long, Array[Float])]
        .map { case (id, v) =>
          val bb = java.nio.ByteBuffer.allocate(4 * v.length)
          v.foreach(bb.putFloat)
          (id, bb.array())
        }
        .toDF("doc_id", "payload")
      // split at the corpus midpoint (not a fixed id) so BOTH waves are
      // non-empty at every scale factor — the cross-wave frozen-codebook
      // append is the contract this gate exists to exercise
      val mid = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2 + 1
      Seq(payloads.filter(col("doc_id") < mid), payloads.filter(col("doc_id") >= mid))
    } { (src, ckpt, store, i) =>
      runEmbedIngest(spark, src, ckpt, store, loader, autoCompactMaxFiles = compactLast(i))
    }
    graft.sources.PqIndexStore.search(spark, store,
      emb.filter(col("vec_id") < Knn.NumQueries), "vec_id", "embedding",
      Knn.DefaultK)
      .orderBy("query_id", "rnk")
  }

  /** s_mih_ingest: the streaming multi-index-hash maintainer IN the
    * driver gate — two AvailableNow waves through runMihIngest (both
    * waves genuinely streamed: MIH appends are structure-free, nothing
    * trains), then searchRadius over the resulting store hash-matches
    * v_bq_range's BRUTE-FORCE oracle: the streamed layout's pigeonhole
    * pruning is proven lossless by the hash, not asserted by a spec.
    * The second wave runs under the auto-compact policy, so the gate
    * also proves compaction preserves radius results. Idempotent
    * across invocations.
    */
  def sMihIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Knn
    val emb = Tables.embeddings(spark, dir)
    val store = streamWaves(spark, dir, "smih_store", "idx")(_ =>
      Seq(emb.filter(col("vec_id") < 250), emb.filter(col("vec_id") >= 250))) {
      (src, ckpt, store, i) =>
        runMihIngest(spark, src, ckpt, store, autoCompactMaxFiles = compactLast(i))
    }
    val codes = Knn.corpus(spark, dir).select(col("vec_id"),
      Knn.bqWords(col("v"), 0).as("code_lo"), Knn.bqWords(col("v"), 32).as("code_hi"))
    graft.sources.BqIndexStore
      .searchRadius(spark, store, Knn.bqCorruptedQueries(codes), radius = 7)
      .orderBy("query_id", "neighbor_id")
  }

  /** s_maxsim_ingest: the streaming late-interaction maintainer IN the
    * driver gate — two AvailableNow document waves through
    * runMaxsimIngest (second under the auto-compact policy), then the
    * store search hash-matches v_maxsim's oracle: the streamed
    * hash-bucketed layout AND the compaction rewrite serve exactly as
    * the in-session operator. Idempotent across invocations.
    */
  def sMaxsimIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Knn
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val store = streamWaves(spark, dir, "smaxsim_store", "idx")(
      _ => parityWaves(docs, "doc_id")) { (src, ckpt, store, i) =>
      runMaxsimIngest(spark, src, ckpt, store, autoCompactMaxFiles = compactLast(i))
    }
    graft.sources.MaxsimStore
      .search(spark, store, docs.filter(col("doc_id") < 3), Knn.DefaultK)
  }

  /** s_span_ingest: the streaming span-store maintainer IN the driver
    * gate — two document waves through runSpanIngest, then the report
    * over the incrementally built store hash-matches d_span_dedup's
    * oracle (span occurrence counts are additive over appends, proven
    * by the hash, not a spec). Idempotent across invocations.
    */
  def sSpanIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val store = streamWaves(spark, dir, "sspan_store", "spans")(
      _ => parityWaves(docs, "doc_id"))((src, ckpt, store, _) =>
      runSpanIngest(spark, src, ckpt, store))
    spanDedupReport(spark, store)
  }

  /** Streaming maintainer of the persisted BM25 postings store
    * (sources.Bm25Store): each AvailableNow batch of (doc_id, text)
    * rows tokenizes map-side and lands its postings/dl/stats as
    * batchId-keyed idempotent shards (Bm25Store.appendBatch — the
    * RateStore recipe: postings and stats are ADDITIVE, so an
    * at-least-once replay must REPLACE its shard, not re-add it).
    * Nothing trains, so there is no frozen-model caveat: df, dl and
    * the corpus stats re-derive additively at serve time and a
    * streamed store serves bit-identically to a one-shot build.
    */
  def runBm25Ingest(spark: SparkSession, srcDir: String, checkpoint: String,
                    storePath: String,
                    driftMonitor: Boolean = false,
                    autoRebase: Option[AutoBaselinePolicy] = None): StreamingQuery = {
    val monitor = driftMonitor || autoRebase.isDefined
    runAvailableNow(fileStream(spark, docTextSchema, srcDir), checkpoint) { (batch, batchId) =>
      graft.sources.Bm25Store.appendBatch(batch, storePath, batchId)
      if (monitor) {
        val p = logLexDriftWave(batch, storePath, batchId)
        autoRebase.foreach(maybeAutoRebase(batch, storePath, batchId, p, _))
      }
    }
  }

  /** s_bm25_ingest: the streaming postings-store maintainer IN the
    * driver gate — two document waves through runBm25Ingest (batchId-
    * keyed idempotent shards), then the store search hash-matches
    * t_bm25's one-shot oracle: the additive df/dl/stats algebra across
    * streamed appends is proven by the hash. Idempotent across
    * invocations.
    */
  def sBm25Ingest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val store = streamWaves(spark, dir, "sbm25_store", "idx")(
      _ => parityWaves(docs, "doc_id"))((src, ckpt, store, _) =>
      runBm25Ingest(spark, src, ckpt, store))
    graft.sources.Bm25Store.search(spark, store,
        docs.filter(col("doc_id") < 3).select(col("doc_id").as("q_id"), col("text")),
        k = 5)
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** s_bm25_drift: the LEXICAL drift monitor IN the driver gate —
    * s_drift_monitor's twin for the postings tier. Wave 1 streams
    * half the corpus (the monitor bootstraps its token-bucket
    * baseline from it: psi exactly 0.0, healthy); wave 2 streams the
    * other half with every vowel remapped to a digit (a deterministic
    * vocabulary shift both engines can replay: translate in Spark ≡
    * sequential single-char replaces in DuckDB, disjoint targets).
    * The oracle replays the bounded lowest-doc_id samples, the
    * whitespace tokenize, the md5 token-bucket arithmetic, the 1e-3
    * proportion floors, and the (q−p)ln(q/p) sum — measured
    * separation: in-distribution wave ≈ 0.002, remapped wave ≈ 1.55
    * (three orders, stable across all probed SFs), so the 0.25 line
    * has real margin on both sides.
    */
  def sBm25Drift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val store = streamWaves(spark, dir, "sbm25drift_store", "idx")(_ => Seq(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), translate(col("text"), "aeiou", "01234").as("text")))) {
      (src, ckpt, store, _) => runBm25Ingest(spark, src, ckpt, store, driftMonitor = true)
    }
    spark.read.parquet(s"$store.driftlog")
      .select(col("bid").cast("long").as("bid"), col("n_sampled"),
        round(col("psi"), 6).as("psi"),
        col("drift_flagged").cast("long").as("drift_flagged"))
      .orderBy("bid")
  }

  /** s_bm25_drift_auto: the CLOSED lexical drift loop IN the driver
    * gate — s_bm25_drift flags, this ACTS (the r16 verdict's item 5:
    * the IVF loop closed in r16, the lexical monitor still only
    * warned). Three doc-disjoint waves stream through runBm25Ingest
    * under an [[AutoBaselinePolicy]]: wave 0 (doc_id % 3 = 0, clean)
    * bootstraps the baseline (psi exactly 0); wave 1 (% 3 = 1, every
    * vowel remapped — the monitor's deterministic vocabulary shift)
    * trips the 0.25 line and the maintainer REBASES the `.tokstats`
    * baseline onto it with no manual call, recording the bid-keyed
    * `.lexlog` act; wave 2 (% 3 = 2, the SAME remapped vocabulary)
    * then measures against the REBASED baseline and stays quiet —
    * proof the act changed the monitor's reference, not just logged.
    * The oracle replays all three PSI computations with the baseline
    * SWITCH (wave 2 vs wave 1's histogram), the policy's trip rule,
    * and the cooldown's guaranteed-skip at bid 2; the cooldown's
    * richer staging (act, skip inside the window, act again past it)
    * is spec-pinned over four direct-driven waves.
    */
  def sBm25DriftAuto(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val remap = translate(col("text"), "aeiou", "01234").as("text")
    val store = streamWaves(spark, dir, "sbm25auto_store", "idx")(_ => Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1).select(col("doc_id"), remap),
      docs.filter(col("doc_id") % 3 === 2).select(col("doc_id"), remap))) {
      (src, ckpt, store, _) =>
        runBm25Ingest(spark, src, ckpt, store, autoRebase = Some(AutoBaselinePolicy()))
    }
    val acts = spark.read.parquet(s"$store.lexlog")
      .select(col("bid").cast("long").as("abid"), lit(1L).as("rebased"))
    spark.read.parquet(s"$store.driftlog")
      .select(col("bid").cast("long").as("bid"), col("n_sampled"),
        round(col("psi"), 6).as("psi"),
        col("drift_flagged").cast("long").as("drift_flagged"))
      .join(broadcast(acts), col("bid") === col("abid"), "left")
      .select(col("bid"), col("n_sampled"), col("psi"), col("drift_flagged"),
        coalesce(col("rebased"), lit(0L)).as("rebased"))
      .orderBy("bid")
  }

  /** q_snapshot_sbm25: TIME TRAVEL on the STREAMED lexical store —
    * q_snapshot_bm25 covers the wave-appended layout; this covers the
    * bid-sharded one the streaming maintainer writes. Both document
    * waves land through runBm25Ingest (each component shard a
    * VERSIONED append since r16), then Bm25Store.searchBefore with
    * per-root defaults (each root's last version = wave 2's) serves
    * the WAVE-1-ONLY ranking: postings, dl, and the stats re-sum all
    * replay at the pre-wave state through the same rankBm25 tail as
    * live search. Hash-matches t_bm25's oracle over the even-doc
    * corpus alone (queries = even docs < 3, so oracle and engine
    * agree on the query set drawn from the snapshot corpus).
    */
  def qSnapshotSBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val store = streamWaves(spark, dir, "snapsbm25_store", "idx")(
      _ => parityWaves(docs, "doc_id"))((src, ckpt, store, _) =>
      runBm25Ingest(spark, src, ckpt, store))
    graft.sources.Bm25Store.searchBefore(spark, store,
        docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 3)
          .select(col("doc_id").as("q_id"), col("text")),
        k = 5)
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** s_drift_consumer: the NUMBER behind s_bm25_drift's warning. The
    * lexical monitor's doc claims "the store stays exact, the
    * distribution-calibrated CONSUMERS drift" — this gate proves it:
    * for every document of the flagged wave (the vowel-remapped odd
    * cohort), score the t_quality classifier on the ORIGINAL text and
    * on the REMAPPED text the wave actually carried, and report the
    * per-doc shift. The remap guts the stopword hits ("the" → "th1"),
    * so quality collapses — a consumer calibrated on the old
    * distribution now mis-scores the new wave, which is exactly what
    * the monitor's flag means operationally. Every row carries the
    * monitor's own verdict (drift_flagged, from the ACTUAL `.driftlog`
    * of the shared s_bm25_drift store), and the oracle replays the
    * PSI flag AND both quality computations end to end.
    */
  def sDriftConsumer(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val flag = sBm25Drift(spark, dir).filter(col("bid") === 1)
      .select(col("drift_flagged"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"),
        TextAnalysis.qualityOf(col("text")).as("q_orig"),
        TextAnalysis.qualityOf(
          translate(col("text"), "aeiou", "01234")).as("q_drift"))
      .withColumn("delta", round(col("q_drift") - col("q_orig"), 6))
      .crossJoin(broadcast(flag))
      .select("doc_id", "q_orig", "q_drift", "delta", "drift_flagged")
      .orderBy("doc_id")
  }

  /** s_drift_monitor: the per-wave drift monitor IN the driver gate —
    * the PSI arithmetic moves from spec assertion into the oracle.
    * The store is seeded with the session registry's models (the
    * inherit-models path, so the frozen quantizer is the oracle's
    * deterministic Lloyd replay); wave 1 streams the isotropic corpus
    * and the monitor bootstraps its baseline from it (psi exactly
    * 0.0, healthy), wave 2 streams the drift gate's cohort and its
    * PSI against the wave-1 histogram trips the 0.25 line. The oracle
    * replays BOTH bounded samples (lowest-id prefix), the float32
    * quantization the stream schema imposes on the drifted wave
    * (CAST through REAL), the round-6 assignment argmax, the 1e-3
    * proportion floors, and the PSI sum — so the monitor's number is
    * hash-proven, not just spec-bounded. Idempotent across
    * invocations (Bench reps): waves land once, later calls read the
    * log.
    */
  def sDriftMonitor(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Knn
    val emb = Tables.embeddings(spark, dir)
    val store = streamWaves(spark, dir, "sdrift_store", "idx", ModelFile.exists) { store =>
      graft.sources.IvfPqIndexStore.write(
        emb.filter(col("vec_id") < 0), "vec_id", "embedding", store,
        ivfModel = Some(Knn.ivfCentroids(spark, dir)),
        pqModel = Some(Knn.pqBooksFor(spark, dir)))
      Seq(emb.select("vec_id", "embedding"), Knn.driftFrame(spark, dir)
        .select(col("vec_id"), col("v").cast("array<float>").as("embedding")))
    } { (src, ckpt, store, _) =>
      runIvfPqIngest(spark, src, ckpt, store, driftMonitor = true)
    }
    spark.read.parquet(s"$store.driftlog")
      .select(col("bid").cast("long").as("bid"), col("n_sampled"),
        round(col("psi"), 6).as("psi"),
        col("retrain_recommended").cast("long").as("retrain_recommended"))
      .orderBy("bid")
  }

  /** s_retrain_auto: the CLOSED drift loop IN the driver gate —
    * s_drift_monitor flags, v_ivf_retrain_store remediates by hand;
    * here the maintainer itself does both. The store starts on the
    * inherit-models path (frozen isotropic quantizer = the oracle's
    * deterministic Lloyd replay); wave 1 streams the isotropic corpus
    * (monitor bootstraps its baseline: psi 0, no action), wave 2
    * streams the drifted cohort — its PSI trips the policy and the
    * maintainer retrains ON ITS OWN with the bounded 50/50 mixture it
    * derives from the store + the tripping wave (≡ driftMixedSample by
    * construction: ids are contiguous, so lowest-prefix + rank-remap
    * reproduce the evaluation fixture exactly). The gate's output is
    * the store's own post-ingest recall report, hash-matching
    * v_ivf_retrain_store's oracle: recall on the appended cohort
    * restored to 1.0 with NO manual retrain call. Streams doubles
    * (vecType) — the drift-store lifecycle is double-precision end to
    * end, so batch ≡ stream bit-for-bit.
    */
  def sRetrainAuto(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Knn
    val store = streamWaves(spark, dir, "sretrain_store", "idx", ModelFile.exists) { store =>
      graft.sources.IvfIndexStore.write(
        Knn.corpus(spark, dir).filter(col("vec_id") < 0)
          .select(col("vec_id"), col("v").as("embedding")),
        "vec_id", "embedding", store,
        model = Some(Knn.ivfCentroids(spark, dir)))
      Seq(Knn.corpus(spark, dir), Knn.driftFrame(spark, dir))
        .map(_.select(col("vec_id"), col("v").as("embedding")))
    } { (src, ckpt, store, _) =>
      runIvfIngest(spark, src, ckpt, store,
        autoRetrain = Some(AutoRetrainPolicy()), vecType = ArrayType(DoubleType))
    }
    Knn.driftRecallReport(spark, dir, store)
  }

  /** s_bitmap_ingest: the streaming exact-distinct maintainer IN the
    * driver gate — two OVERLAPPING event waves (split by event id, so
    * the same user lands in both) through runBitmapIngest, then the
    * re-ORed shard report hash-matches q_bitmap_distinct's plain
    * COUNT(DISTINCT) oracle: bit_or idempotence across streamed
    * appends proven by the hash. Idempotent across invocations.
    */
  def sBitmapIngest(spark: SparkSession, dir: String): DataFrame = {
    val store = streamWaves(spark, dir, "sbitmap_store", "shards")(eventWaves(spark, dir))(
      (src, ckpt, store, _) => runBitmapIngest(spark, src, ckpt, store))
    bitmapDistinctReport(spark, store)
  }

  /** s_sessionize: the stateful streaming sessionizer IN the driver
    * gate — two time-split waves flow through [[runSessionizeIngest]]
    * (flatMapGroupsWithState, event-time timeouts, checkpointed state
    * carrying open sessions ACROSS the waves), then a flush sentinel
    * 2 h past the corpus advances the watermark beyond every open
    * session's timeout so the trailing sessions close too. The
    * accumulated sink hash-matches the batch sessionization oracle:
    * gap semantics, cross-wave session continuity, timeout eviction,
    * and the natural session key are all proven by the hash, not a
    * spec subset-check. Idempotent across invocations.
    */
  def sSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = streamWaves(spark, dir, "ssess_store", "out") { _ =>
      val (waves, mx) = timeWaves(spark, dir)
      // flush wave: one sentinel event far past the corpus; its only
      // job is the watermark advance (its own open session never
      // emits, and the read filters its user out regardless)
      waves :+ Seq((-1L, new java.sql.Timestamp(mx.getTime + 2L * 3600 * 1000),
          -1L, "flush", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    } { (src, ckpt, out, _) => runSessionizeIngest(spark, src, ckpt, out) }
    spark.read.parquet(out).filter(col("user_id") >= 0)
      .select("user_id", "session_start_ms", "n_events", "duration_s")
      .orderBy("user_id", "session_start_ms")
  }

  /** s_dedup_stream: the watermark-bounded streaming dedup IN the
    * driver gate — two time-split waves through [[runDedupIngest]]
    * (state carries across the waves via the checkpoint), then the
    * key projection of the accumulated sink hash-matches the plain
    * SELECT DISTINCT oracle: the eviction policy loses NO key and the
    * stream invents none. (Exactly-one-emission-per-key within the
    * watermark horizon is the API's documented bound and stays
    * spec-asserted — a key recurring beyond the horizon legitimately
    * re-emits, which is why the serving read is a distinct.)
    */
  def sDedupStream(spark: SparkSession, dir: String): DataFrame = {
    val out = streamWaves(spark, dir, "sdedup_store", "out")(_ => timeWaves(spark, dir)._1)(
      (src, ckpt, out, _) => runDedupIngest(spark, src, ckpt, out))
    spark.read.parquet(out)
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")
  }

  /** s_upsert: the checkpointed upsert pipeline IN the driver gate —
    * two event-id-parity waves through [[runUpsertIncremental]] (the
    * running per-type counts live in checkpointed state, so wave 2
    * UPDATES wave 1's rows rather than recounting them), then the
    * latest-batch-wins read hash-matches the one-shot batch count
    * oracle: durable aggregation state plus the idempotent upsert sink
    * reproduce the batch table exactly. Idempotent across invocations.
    */
  def sUpsert(spark: SparkSession, dir: String): DataFrame = {
    val store = streamWaves(spark, dir, "supsert_store", "store")(eventWaves(spark, dir))(
      (src, ckpt, store, _) => runUpsertIncremental(spark, src, ckpt, store))
    resolveUpserts(spark, store).orderBy("event_type")
  }

  /** s_incremental: the checkpointed-file-log ingest contract IN the
    * driver gate — two waves through runIncremental, then the target's
    * row set must hash-match the source table exactly: run 2 picked up
    * exactly the delta (a skipped file loses rows, a reprocessed file
    * duplicates them — either breaks the hash). The "process tonight's
    * new files" primitive every other maintainer builds on, proven at
    * the row level.
    */
  def sIncremental(spark: SparkSession, dir: String): DataFrame = {
    val store = streamWaves(spark, dir, "sincr_store", "store")(eventWaves(spark, dir))(
      (src, ckpt, store, _) => runIncremental(spark, src, ckpt, store))
    spark.read.parquet(store)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy("event_id")
  }

  /** s_stream_join: the watermarked stream-stream interval join IN the
    * driver gate — two time-split waves through [[runStreamJoinIngest]].
    * Wave-boundary matches are the load-bearing part: a wave-2
    * purchase must still find its in-window wave-1 views, i.e. the
    * join state outlived the wave under the watermark's eviction rule
    * (views evict only once the watermark passes view_ts + 30 min).
    * The accumulated sink hash-matches s_interval_join's batch oracle.
    */
  def sStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val out = streamWaves(spark, dir, "sjoin_store", "out")(_ => timeWaves(spark, dir)._1)(
      (src, ckpt, out, _) => runStreamJoinIngest(spark, src, ckpt, out))
    spark.read.parquet(out)
      .select("purchase_id", "view_id", "user_id") // bid= shard key stays internal
      .orderBy("purchase_id", "view_id")
  }

  /** s_knn_serve: the QUERY-side streaming twin in the driver gate —
    * two AvailableNow waves of query vectors stream through
    * runKnnServe against a persisted flat store, each batch's exact
    * top-k appended to the result sink; the accumulated sink
    * hash-matches v_knn_exact's oracle, so the serving stream's
    * micro-batch plan is proven byte-equal to the batch search, not
    * just spec-asserted. Idempotent across invocations.
    */
  def sKnnServe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Knn
    val emb = Tables.embeddings(spark, dir)
    val store = s"${StoreFs.gatePath(spark, dir, "sknn_store")}/idx"
    val out = streamWaves(spark, dir, "sknn_store", "out", src = "q") { _ =>
      graft.sources.IndexStore.write(emb, "vec_id", "embedding", store, dim = 64)
      Seq(emb.filter(col("vec_id") < 5),
        emb.filter(col("vec_id") >= 5 && col("vec_id") < Knn.NumQueries))
        .map(_.select("vec_id", "embedding"))
    } { (qsrc, ckpt, out, _) => runKnnServe(spark, qsrc, ckpt, store, out, k = Knn.DefaultK) }
    spark.read.parquet(out).orderBy("query_id", "rnk")
  }

  /** s_phash_ingest: the multimodal streaming maintainer IN the driver
    * gate — two waves of raw image payloads through runPhashIngest
    * (REAL decode → fixed-point-DCT pHash → MIH bucket append; second
    * wave under the auto-compact policy), then every fingerprint,
    * corrupted by 3 bit flips, probes the streamed store for its
    * source. The oracle recomputes the fingerprints from the CLOSED
    * pixel form (the m_decode_phash derivation) and brute-forces the
    * radius contract, so the hash proves decode → DCT → pack → MIH
    * layout → pigeonhole pruning lossless over a store built purely
    * from streamed appends. Idempotent across invocations.
    */
  def sPhashIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{ImageDecode, ImagePipeline}
    import spark.implicits._
    val payloads = Tables.documents(spark, dir)
      .select(col("doc_id")).filter(col("doc_id") < 8)
      .as[Long]
      .map(id => (id, ImageDecode.syntheticPng(16, 16, seed = (31 * id + 5).toInt)))
      .toDF("doc_id", "payload")
    val store = streamWaves(spark, dir, "sphash_store", "mih")(_ =>
      Seq(payloads.filter(col("doc_id") < 4), payloads.filter(col("doc_id") >= 4))) {
      (src, ckpt, store, i) =>
        runPhashIngest(spark, src, ckpt, store, autoCompactMaxFiles = compactLast(i))
    }
    val codes = ImagePipeline.phashFromFrame(
        ImageDecode.pixelFrame(payloads, "doc_id", "payload"))
      .select(col("doc_id").as("id"),
        col("phash").bitwiseAND(lit(4294967295L)).as("code_lo"),
        shiftrightunsigned(col("phash"), 32).as("code_hi"))
    val q = codes.select(col("id").as("query_id"),
      col("code_lo").bitwiseXOR(lit(0x13L)).as("qlo"), col("code_hi").as("qhi"))
    graft.sources.BqIndexStore.searchRadius(spark, store, q, radius = 7)
      .orderBy("query_id", "neighbor_id")
  }

  /** s_rate_ingest: the streaming rate-store maintainer IN the driver
    * gate — two DISJOINT event-id waves (additive counts: disjointness
    * models the checkpointed source's exactly-once delivery) through
    * runRateIngest's batchId-keyed idempotent shards, then the z-score
    * anomaly ranking from the store hash-matches q_anomaly's oracle.
    */
  def sRateIngest(spark: SparkSession, dir: String): DataFrame = {
    val store = streamWaves(spark, dir, "srate_store", "store")(eventWaves(spark, dir))(
      (src, ckpt, store, _) => runRateIngest(spark, src, ckpt, store))
    graft.sources.RateStore.report(spark, store)
  }

  /** q_snapshot_rate: TIME TRAVEL on the additive tier — the r15
    * exclusion closed. The rate store builds in the usual two
    * streamed event waves (each a VERSIONED bid-shard append since
    * r16); the gate then serves the anomaly ranking as it stood
    * BEFORE the second wave via RateStore.reportBefore (snapshot file
    * set with partition columns re-attached — a pure append lineage
    * keeps every file live). Hash-matches q_anomaly's oracle over the
    * wave-1 events alone: the wave-2 counts provably vanish from the
    * z-scores, not just from a row count.
    */
  def qSnapshotRate(spark: SparkSession, dir: String): DataFrame = {
    val store = streamWaves(spark, dir, "snaprate_store", "store")(eventWaves(spark, dir))(
      (src, ckpt, store, _) => runRateIngest(spark, src, ckpt, store))
    val vs = StoreMaintenance.versions(store)
    require(vs.nonEmpty, s"snapshot gate store $store has no versioned wave")
    graft.sources.RateStore.reportBefore(spark, store, vs.max)
  }

  /** s_kmv_ingest: the streaming KMV maintainer IN the driver gate —
    * two event-id waves that OVERLAP in users (the k-smallest-of-union
    * re-aggregation absorbs the overlap) through runKmvIngest, then
    * the pairwise source overlap report hash-matches q_kmv_store's
    * deterministic-estimate oracle.
    */
  def sKmvIngest(spark: SparkSession, dir: String): DataFrame = {
    val store = streamWaves(spark, dir, "skmv_store", "store")(eventWaves(spark, dir))(
      (src, ckpt, store, _) => runKmvIngest(spark, src, ckpt, store))
    graft.sources.KmvStore.report(spark, store)
  }

  /** s_hll_ingest: the streaming HLL maintainer IN the driver gate —
    * two event waves append per-type kilobyte sketches, the merged
    * estimate joins the exact distinct twin, and the within-5% flags
    * go to the oracle as literal TRUEs (the q_approx_distinct_err gate
    * shape): sketch drift after a streamed merge breaks the hash.
    */
  def sHllIngest(spark: SparkSession, dir: String): DataFrame = {
    val store = streamWaves(spark, dir, "shll_store", "store")(eventWaves(spark, dir))(
      (src, ckpt, store, _) => runHllIngest(spark, src, ckpt, store))
    val est = hllDistinctReport(spark, store)
      .select(col("event_type").as("et"), col("est"))
    Tables.events(spark, dir).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .join(est, col("event_type") === col("et"))
      .select(col("event_type"), col("n_users"),
        (abs(col("est") - col("n_users")) <= col("n_users") * 0.05).as("within_tol"))
      .orderBy("event_type")
  }

  /** s_bloom_ingest: the streaming Bloom maintainer IN the driver
    * gate — the INSERTED cohort (doc_id%5≠0, dBloom's fixture) streams
    * through runBloomIngest in two waves, the log-structured shards
    * re-OR at read (mergedBloom), and the identical cohort report runs
    * against the merged filter: hash-matching d_bloom's oracle proves
    * no-false-negatives, true-positive dups, AND the fp budget hold
    * over a filter that was never built in one piece.
    */
  def sBloomIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val ins = docs.filter(col("doc_id") % 5 =!= 0)
    val mBits = Dedup.bloomMBits(ins.count())
    val store = streamWaves(spark, dir, "sbloom_store", "store")(
      _ => parityWaves(ins, "doc_id"))((src, ckpt, store, _) =>
      runBloomIngest(spark, src, ckpt, store, mBits))
    Dedup.bloomCohortReport(docs, mergedBloom(spark, store), mBits)
  }
}
