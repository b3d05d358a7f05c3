package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {

  test("streaming window agg matches its batch twin") {
    val q = EventStreams.runToMemory(spark, sf, "ev_agg_test")
    try {
      val streamed = spark.table("ev_agg_test")
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = EventStreams.sWindowAggBatch(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup: one event per (user, type), subset of batch events") {
    val q = EventStreams.dedupStream(spark, sf)
      .writeStream.outputMode("append").format("memory").queryName("dedup_stream")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_stream").collect()
      val keys = streamed.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      assert(keys.length == keys.distinct.length, "dedup must emit each key once")
      val batchKeys = Tables.events(spark, sf)
        .select("user_id", "event_type").distinct().count()
      // watermark-bounded state may re-admit a key whose duplicates span
      // > 1h of event time, but within this 30-day replay every key
      // appears; streamed keys == batch distinct keys for one batch
      assert(keys.length == batchKeys)
    } finally q.stop()
  }

  test("stream-stream interval join matches its batch twin") {
    val q = EventStreams.streamStreamJoin(spark, sf)
      .writeStream.outputMode("append").format("memory").queryName("ssj_stream")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = EventStreams.streamStreamJoinBatch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("checkpointed upsert target resolves to the batch counts") {
    val base = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val (src, ckpt, target) = (s"$base/src", s"$base/ckpt", s"$base/target")
    Tables.events(spark, sf).write.parquet(src)
    EventStreams.runUpsertIncremental(spark, src, ckpt, target)
    val resolved = EventStreams.resolveUpserts(spark, target).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Tables.events(spark, sf).groupBy("event_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(resolved == batch)
    assert(resolved.nonEmpty)
  }

  test("a batch that throws fails the run, and the next run replays it") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.sources.RateStore
    val base = java.nio.file.Files.createTempDirectory("graft_fail").toString
    val (src, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/rate")
    Tables.events(spark, sf).write.parquet(src)
    // a regular file where the store directory goes: batch 0's shard
    // write cannot create its directory
    val blocker = new java.io.File(store)
    assert(blocker.createNewFile())
    intercept[StreamingQueryException](EventStreams.runRateIngest(spark, src, ckpt, store))
    assert(spark.streams.active.isEmpty, "a failed run must leave no active query")
    assert(blocker.delete())
    // the failed batch is uncommitted: the re-run replays it in full
    EventStreams.runRateIngest(spark, src, ckpt, store)
    EventStreams.runRateIngest(spark, src, s"$base/ckpt1", s"$base/one")
    def rows(path: String) = RateStore.report(spark, path).collect().map(_.toString).sorted.toSeq
    assert(rows(store).nonEmpty && rows(store) == rows(s"$base/one"))
  }

  test("event-time timeout closes idle sessions the plain sessionizer leaves open") {
    val q = EventStreams.sessionizeStreamEvt(spark, sf)
      .writeStream.outputMode("append").format("memory").queryName("sess_evt")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_evt").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
          r.getAs[Long]("n_events"), r.getAs[Long]("duration_s"))).toSet
      val batch = SparkEntry.queries("q_sessionize")(spark, sf).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
          r.getAs[Long]("n_events"), r.getAs[Long]("duration_s")))
      assert(streamed.subsetOf(batch.toSet), "every emitted session must match batch")
      val closedByEvent = batch.toSet --
        batch.groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSet
      assert(closedByEvent.subsetOf(streamed),
        "gap-closed sessions must still be emitted")
      // trailing sessions whose timeout is safely below the final
      // watermark (max event time − 10 min delay) must now ALSO emit
      val maxMs = Tables.events(spark, sf)
        .agg(max(unix_millis(col("ts")))).collect()(0).getLong(0)
      val lastEnd = Tables.events(spark, sf)
        .groupBy("user_id").agg(max(unix_millis(col("ts"))).as("last_ms")).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("last_ms")).toMap
      val wm = maxMs - 10L * 60 * 1000
      val mustTimeout = batch.groupBy(_._1).view.mapValues(_.maxBy(_._2)).values
        .filter(s => lastEnd(s._1) + EventStreams.SessionGapMs < wm - 1000)
        .toSet
      assert(mustTimeout.nonEmpty, "test data should have idle users")
      assert(mustTimeout.subsetOf(streamed),
        "watermark-passed idle sessions must be closed by the timeout")
    } finally q.stop()
  }

  test("incremental ingest: AvailableNow runs process exactly the new files") {
    val base = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val (src, ckpt, tgt) = (s"$base/src", s"$base/ckpt", s"$base/tgt")
    // raw read keeps ts as a nanos long (nanosAsLong), matching eventsSchema
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val wave1 = raw.filter(col("event_id") % 2 === 0)
    wave1.write.mode("overwrite").parquet(src)
    EventStreams.runIncremental(spark, src, ckpt, tgt)
    assert(spark.read.parquet(tgt).count() == wave1.count())
    // a second wave of files lands in the same directory
    raw.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    EventStreams.runIncremental(spark, src, ckpt, tgt)
    val ingested = spark.read.parquet(tgt)
    assert(ingested.count() == raw.count(),
      "second run must pick up exactly the delta — nothing skipped")
    assert(ingested.select("event_id").distinct().count() == raw.count(),
      "no file may be reprocessed (checkpointed file log)")
  }

  test("stateful sessionization: streamed closed sessions == batch minus trailing open") {
    val q = EventStreams.sessionizeStream(spark, sf)
      .writeStream.outputMode("append").format("memory").queryName("sess_stream")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_stream").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
          r.getAs[Long]("n_events"), r.getAs[Long]("duration_s"))).toSet
      val batch = SparkEntry.queries("q_sessionize")(spark, sf).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
          r.getAs[Long]("n_events"), r.getAs[Long]("duration_s")))
      // the stream emits sessions when closed; each user's last session
      // is still open in state at end of input
      val lastPerUser = batch.groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSet
      val expected = batch.toSet -- lastPerUser
      assert(streamed == expected)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }
}
