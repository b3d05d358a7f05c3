package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{HashFns => H}
import graft.plans.Ranking

/** Persisted lexical ranking tier — the postings-list store behind
  * Okapi BM25 (t_bm25's in-session twin made durable).
  *
  * At 100 TB the inverted index is a WRITTEN layout, not a per-query
  * derivation: tokenizing the corpus per search is the full-scan the
  * store exists to avoid. Layout:
  *
  *  - `path/tb=<0..15>/` — postings rows (tok, doc_id, tf), hash-
  *    partitioned by token bucket. A token's postings live in exactly
  *    ONE tb dir, so a query's term set prunes the scan to its buckets
  *    (runtime DPP on the tb equi-join) AND per-term document
  *    frequencies re-derive from the probed buckets alone — df needs
  *    no sidecar and stays correct under any append.
  *  - `path.dl/` — per-document token counts (doc_id, dl): the BM25
  *    length normalizer, joined per candidate doc (equi-join on
  *    doc_id — bucket by doc_id on a real cluster to co-locate).
  *  - `path.stats/` — one (n_docs, sum_dl) partial row per wave/batch.
  *    Corpus stats are additive over DOC-DISJOINT waves, so serving
  *    re-sums kilobytes of shards instead of scanning dl.
  *
  * Append contract: waves must be doc-disjoint (a document's postings
  * land whole, exactly once) — the same exactly-once-per-row contract
  * RateStore documents; the streaming maintainer gets it from
  * [[appendBatch]]'s batchId-keyed idempotent shards. NOTHING trains:
  * unlike the vector tiers there is no frozen model to drift — df, dl
  * and the stats re-derive additively, which is why a two-wave append
  * hash-matches the one-shot oracle with no retrain caveat.
  */
object Bm25Store {

  /** Token-hash bucket count. 16 keeps gate-scale dirs readable; at
    * 100 TB raise it so a bucket's postings fit an executor — the
    * layout is unchanged (the bucket fn is seeded by name, not count).
    */
  val Buckets = 16

  /** (k1, b) — the standard Okapi constants t_bm25 uses. */
  val K1 = 1.2
  val B = 0.75

  private[graft] def tokensOf(text: Column): Column =
    graft.operators.Dedup.tokens(text)

  /** Token bucket: md5 integer arithmetic (oracle/SQL-replayable). */
  private[graft] def tb(tok: Column): Column =
    H.md5Long(concat(lit("bm25tb_"), tok), 8) % Buckets

  /** Postings rows of a (doc_id, text) batch: (tok, doc_id, tf, pos)
    * where `pos` is the token's sorted 1-based POSITION LIST in the
    * document — the Lucene positional-postings layout, taken in the
    * SAME tokenize pass that counts tf (posexplode instead of explode;
    * one extra collect_list, no extra scan). Positions are what phrase
    * and proximity queries intersect ([[phraseSearch]]); BM25 scoring
    * ignores them, so the flat-search legs are unchanged.
    */
  private[graft] def postingsRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(tokensOf(col("text"))).as(Seq("p0", "tok")))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"),
        array_sort(collect_list(col("p0") + 1)).as("pos"))
      .withColumn("tb", tb(col("tok")))

  /** dl sidecar rows: per-doc total tokens (docs with ≥1 token only —
    * the same universe bm25Ranked's dl aggregate sees). `metaCols`
    * ride INLINE as extra group keys (constant per doc, so the keys
    * add no groups): one row per doc either way, no extra scan, no
    * join — the metadata-filtered leg reads them straight off the
    * sidecar ([[searchFiltered]]).
    */
  private[graft] def dlRows(docs: DataFrame,
                            metaCols: Seq[String] = Nil): DataFrame =
    docs.select(col("doc_id") +: metaCols.map(col)
        :+ explode(tokensOf(col("text"))).as("tok"): _*)
      .groupBy("doc_id", metaCols: _*).agg(count(lit(1)).as("dl"))

  private def statsRows(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** Per-group corpus-stats partials for a meta-written store — the
    * pre-aggregated sidecar [[searchFiltered]] serves from: one
    * (metaCols..., n_docs, sum_dl) row per group per wave, additive
    * across doc-disjoint waves exactly like the global `.stats`
    * shards (and purge's NEGATIVE correction shards), so the filtered
    * leg re-sums kilobytes instead of aggregating the corpus-sized dl
    * sidecar per query batch.
    */
  private def groupStatsRows(dl: DataFrame, metaCols: Seq[String]): DataFrame =
    dl.groupBy(metaCols.head, metaCols.tail: _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** Catalog name for the bucketed dl sidecar of `path` — bucket
    * metadata lives in the (per-session) catalog, so the name must be
    * derivable from the path alone ([[ensureDlTable]] re-registers it
    * in a fresh session from the durable `.dlbuckets` marker).
    */
  private def dlTable(path: String): String = {
    // full md5 of the resolved path, not String.hashCode: two stores
    // colliding on a 32-bit hash in one session would silently share
    // a catalog entry and serve one store's doc lengths for the other
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(StoreFs.qualified(path).toString.getBytes("UTF-8"))
    "graft_bm25_dl_" + md.map("%02x".format(_)).mkString
  }

  private def dlMarker(path: String) = StoreFs.qualified(s"$path.dlbuckets")

  /** Bucket count of a bucketed-dl store, None for the plain layout.
    * The durable marker file, not the session catalog, is the source
    * of truth — catalogs are per-session.
    */
  def dlBucketsOf(path: String): Option[Int] = {
    val m = dlMarker(path)
    val fs = StoreFs.fsOf(m)
    if (StoreFs.isFile(fs, m))
      scala.util.Try(StoreFs.readLines(fs, m).head.trim.toInt).toOption
    else None
  }

  /** Register (or return) the external bucketed table over the dl
    * sidecar's files. Spark reads bucket ids from the file names the
    * bucketed write produced; the DDL just re-declares the layout to
    * a session that didn't write it.
    */
  private def ensureDlTable(spark: SparkSession, path: String, n: Int): String = {
    val t = dlTable(path)
    if (!spark.catalog.tableExists(t)) {
      val loc = StoreFs.qualified(path + ".dl").toString
      val cols = StoreFs.openParquet(spark, loc).schema.fields
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"CREATE TABLE `$t` ($cols) USING parquet " +
        s"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $n BUCKETS " +
        s"LOCATION '$loc'")
    }
    t
  }

  /** The dl sidecar as a frame: through the catalog when bucketed (the
    * scan then reports hash(doc_id) output partitioning and the
    * serving join needs NO exchange on the corpus-sized dl side —
    * src_bucketed's recipe applied to the one shuffle join in the
    * BM25 serving path), plain parquet otherwise.
    */
  private[graft] def dlFrame(spark: SparkSession, path: String): DataFrame =
    dlBucketsOf(path) match {
      case Some(n) => spark.table(ensureDlTable(spark, path, n))
      case None => StoreFs.openParquet(spark, path + ".dl")
    }

  private def writeDlBucketed(dl: DataFrame, path: String, n: Int): Unit = {
    val spark = dl.sparkSession
    val t = dlTable(path)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    StoreMaintenance.rmTree(path + ".dl")
    // repartition to the bucket hash first: one file per bucket, so
    // the bucketed scan needs no per-bucket merge sort either
    dl.repartition(n, col("doc_id"))
      .write.mode("overwrite")
      .bucketBy(n, "doc_id").sortBy("doc_id")
      .option("path", StoreFs.qualified(path + ".dl").toString)
      .format("parquet").saveAsTable(t)
    val m = dlMarker(path)
    StoreFs.writeLines(StoreFs.fsOf(m), m, Seq(n.toString))
  }

  /** Drop the bucket metadata (marker + catalog entry) — the
    * co-location DOWNGRADE mutations that rewrite dl files under
    * non-bucket names must take (results stay exact; only the
    * zero-exchange join property is lost until [[rebucketDl]]).
    */
  private def dropDlBuckets(spark: SparkSession, path: String): Unit = {
    val m = dlMarker(path)
    val fs = StoreFs.fsOf(m)
    if (StoreFs.isFile(fs, m)) {
      spark.sql(s"DROP TABLE IF EXISTS `${dlTable(path)}`")
      StoreFs.delete(fs, m)
      ()
    }
  }

  /** (Re)establish the bucketed dl layout from the current dl rows —
    * the maintenance op that restores the zero-exchange serving join
    * after a purge (or upgrades a plain store). The read materializes
    * eagerly before the location is rewritten.
    */
  def rebucketDl(spark: SparkSession, path: String, n: Int): Unit = {
    val dl = spark.read.parquet(path + ".dl")
      .transform(graft.Materialize.forceCached)
    writeDlBucketed(dl, path, n)
  }

  /** `dlBuckets`: co-locate the dl sidecar by doc_id (hash-bucketed
    * files + catalog bucket spec) so [[search]]'s per-candidate dl
    * join — the one shuffle join in the serving path — shuffles ONLY
    * the k-bounded candidate side; the doc-count-sized dl never moves.
    * At 100 TB dl is billions of rows: this is the difference between
    * re-shuffling the corpus's length table per query batch and a
    * one-time layout cost at write. Plain layout when None.
    */
  def write(docs: DataFrame, path: String,
            metaCols: Seq[String] = Nil,
            dlBuckets: Option[Int] = None): Unit = {
    postingsRows(docs).write.mode("overwrite").partitionBy("tb").parquet(path)
    val dl = dlRows(docs, metaCols).transform(graft.Materialize.forceCached)
    dlBuckets match {
      case Some(n) => writeDlBucketed(dl, path, n)
      case None =>
        dropDlBuckets(docs.sparkSession, path)
        dl.write.mode("overwrite").parquet(path + ".dl")
    }
    statsRows(dl).write.mode("overwrite").parquet(path + ".stats")
    if (metaCols.nonEmpty)
      groupStatsRows(dl, metaCols).write.mode("overwrite")
        .parquet(path + ".gstats")
  }

  /** Append a DOC-DISJOINT wave: postings land in their tb dirs, dl
    * rows and a stats partial append — all three additive by the
    * disjointness contract. A meta-written store must append with the
    * SAME metaCols (the dl schema is the contract). On a bucketed-dl
    * store the dl wave appends THROUGH the catalog table (bucketed
    * shard files, spec-validated against the table's bucket spec), so
    * co-location survives appends.
    */
  def append(docs: DataFrame, path: String,
             metaCols: Seq[String] = Nil): Unit = {
    val spark = docs.sparkSession
    // every component append is VERSIONED (r15): the wave's files
    // record per root, so [[searchBefore]]/readBefore time travel
    // covers the lexical tier exactly like the vector stores. Touched
    // key spaces: postings land in tb= dirs (bounded by Buckets), dl
    // and stats shards land flat at their roots
    StoreMaintenance.versionedAppend(path,
        (0 until Buckets).map(b => s"tb=$b")) {
      postingsRows(docs).write.mode("append").partitionBy("tb").parquet(path)
    }
    val dl = dlRows(docs, metaCols).transform(graft.Materialize.forceCached)
    StoreMaintenance.versionedAppend(path + ".dl", Seq(".")) {
      dlBucketsOf(path) match {
        case Some(n) =>
          val t = ensureDlTable(spark, path, n)
          dl.repartition(n, col("doc_id"))
            .write.mode("append")
            .bucketBy(n, "doc_id").sortBy("doc_id")
            .format("parquet").saveAsTable(t)
        case None => dl.write.mode("append").parquet(path + ".dl")
      }
    }
    StoreMaintenance.versionedAppend(path + ".stats", Seq(".")) {
      statsRows(dl).write.mode("append").parquet(path + ".stats")
    }
    if (metaCols.nonEmpty)
      StoreMaintenance.versionedAppend(path + ".gstats", Seq(".")) {
        groupStatsRows(dl, metaCols).write.mode("append")
          .parquet(path + ".gstats")
      }
  }

  /** Idempotent per-batch shard for at-least-once executors (the
    * RateStore recipe): postings/dl/stats land under bid=<id> subtrees
    * written with OVERWRITE, so a replayed batch REPLACES its shard.
    * Readers see bid as an extra partition column; serving ignores it.
    * A store is either wave-appended or stream-maintained — the two
    * layouts don't mix.
    */
  def appendBatch(docs: DataFrame, path: String, batchId: Long): Unit = {
    // streamed bid= layout and the bucketed dl table don't mix —
    // downgrade defensively (the wave/stream layouts are already
    // documented as mutually exclusive)
    dropDlBuckets(docs.sparkSession, path)
    // each component shard is a VERSIONED append (r16, the additive-
    // tier recipe): [[searchBefore]] with per-root defaults then
    // serves the pre-wave ranking of a STREAMED store too
    // (q_snapshot_sbm25). Touched dir = the bid shard — O(1) listings
    // (the scoped diff walks the nested tb= leaves). The corrective
    // case is the same as RateStore's: a crash-REPLAYED batch's
    // overwrite replaces its shard files, so "before the replay" is
    // not reconstructible.
    StoreMaintenance.versionedAppend(path, Seq(s"bid=$batchId")) {
      postingsRows(docs).write.mode("overwrite").partitionBy("tb")
        .parquet(s"$path/bid=$batchId")
    }
    val dl = dlRows(docs).transform(graft.Materialize.forceCached)
    StoreMaintenance.versionedAppend(s"$path.dl", Seq(s"bid=$batchId")) {
      dl.write.mode("overwrite").parquet(s"$path.dl/bid=$batchId")
    }
    StoreMaintenance.versionedAppend(s"$path.stats", Seq(s"bid=$batchId")) {
      statsRows(dl).write.mode("overwrite").parquet(s"$path.stats/bid=$batchId")
    }
    ()
  }

  /** Merge-compact: rewrite each tb dir's append debt to one file
    * (rows are unique per (tok, doc) under the disjointness contract —
    * compaction is purely physical). Crash-consistent via
    * StoreMaintenance's temp-dir + manifest swap.
    */
  def compact(spark: SparkSession, path: String): (Int, Int) =
    StoreMaintenance.rewritePartitions(spark, path, _ > 1,
      rows => rows.coalesce(1))

  /** Delete documents from the lexical tier — right-to-be-forgotten
    * for BM25, the purge leg every persisted tier carries. Postings
    * purge from their tb= dirs (partitioned flavor; a victim usually
    * has rows in MANY buckets); the dl sidecar purges in whichever
    * layout it has (wave-flat or streamed bid= dirs); the stats
    * sidecar appends a NEGATIVE correction shard — stats stay
    * ADDITIVE, so streamed maintainers keep appending partials and the
    * serve-time re-sum lands exactly on the corpus-minus-victims
    * value (a rewrite would race in-flight appends). df needs nothing:
    * it re-derives from the probed postings, which no longer hold the
    * victims. Returns (postings partitions rewritten, rows removed).
    */
  def purge(spark: SparkSession, path: String, docIds: Seq[Long]): (Int, Long) = {
    // capture the victims' dl BEFORE removing them (the stats delta);
    // bounded collect: one aggregate row
    val victimStats = spark.read.parquet(path + ".dl")
      .filter(col("doc_id").isin(docIds: _*))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
      .collect()(0)
    val (nV, sV) = (victimStats.getLong(0), victimStats.getLong(1))
    // The negative stats correction lands BEFORE any mutation, as ONE
    // atomically-moved file whose name keys the victim set — the
    // purge's recovery contract. The three mutations here (stats
    // correction, postings purge, dl purge) are not one transaction;
    // what makes a crashed purge safe to REPLAY is (a) the correction
    // is derived from the still-intact dl and lands first, (b) its
    // victim-keyed filename makes the replay skip the write instead of
    // double-subtracting, (c) the two partition purges are natural
    // no-ops on already-purged ids. Under the OLD order (correction
    // last) a crash after the dl purge lost the delta forever: the
    // replay re-derived nV = 0 from the purged dl and every later BM25
    // score silently used overcounted corpus stats.
    val key = Integer.toHexString(
      java.util.Arrays.hashCode(docIds.sorted.toArray[Long]))
    // Lands a correction frame as ONE moved file whose name keys the
    // victim set: write to a per-target temp dir, then MOVE the single
    // data file in under its deterministic name — a replayed purge
    // sees either the finished file (skip) or nothing (rewrite). On an
    // object store the move is copy+delete, so a crash MID-copy can
    // leave a TORN file at the FINAL name (the r16 FaultFs matrix
    // caught the old skip-if-exists replay trusting it forever —
    // every later stats read failed loudly but permanently). The
    // SURVIVING TEMP DIR is the tell: an atomic or completed move
    // deletes it, so heal() drops both sides and the re-land rebuilds
    // the correction from the still-intact dl. heal runs BEFORE the
    // enclosing versionedAppend takes its before-listing, so the
    // re-landed file is versioned like a first landing. The temp dir
    // is keyed by the VICTIM-SET hash, same as the final file, and
    // heal sweeps EVERY leftover temp dir — not just this purge's
    // (ADVICE r16): under the old unkeyed name, purge A crashing
    // mid-copy followed by a purge B with different victims had B's
    // heal delete the shared temp dir while A's torn purge_<keyA>
    // file survived, and A's replay then trusted it forever.
    def corrTmp(tag: String, k: String) =
      StoreFs.qualified(s"$path.corr_tmp_${tag}_$k")
    def heal(targetDir: org.apache.hadoop.fs.Path, tag: String): Unit = {
      val root = StoreFs.qualified(path)
      val fs = StoreFs.fsOf(root)
      val prefix = s"${root.getName}.corr_tmp_${tag}_"
      StoreFs.list(fs, root.getParent)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .foreach { s =>
          val leftKey = s.getPath.getName.stripPrefix(prefix)
          val corr = new org.apache.hadoop.fs.Path(
            targetDir, s"purge_$leftKey.parquet")
          if (StoreFs.isFile(fs, corr)) StoreFs.delete(fs, corr)
          StoreFs.delete(fs, s.getPath)
        }
    }
    def landCorrection(targetDir: org.apache.hadoop.fs.Path, tag: String,
                       frame: DataFrame): Unit = {
      val fs = StoreFs.fsOf(targetDir)
      val corr = new org.apache.hadoop.fs.Path(targetDir, s"purge_$key.parquet")
      if (!StoreFs.isFile(fs, corr)) {
        val tmp = corrTmp(tag, key)
        StoreFs.delete(fs, tmp)
        frame.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = StoreFs.list(fs, tmp)
          .find(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"correction write produced no parquet in $tmp"))
        StoreFs.mkdirs(fs, targetDir)
        StoreFs.moveReplace(fs, part.getPath, corr)
        StoreFs.delete(fs, tmp)
        ()
      }
    }
    if (nV > 0) {
      import spark.implicits._
      val statsRoot = StoreFs.qualified(path + ".stats")
      val streamed = StoreFs.list(StoreFs.fsOf(statsRoot), statsRoot)
        .exists(s => s.isDirectory && s.getPath.getName.contains("="))
      // streamed layouts are partitioned by bid — corrections land
      // under a reserved negative shard so the layouts never mix
      val targetDir = StoreFs.qualified(
        if (streamed) s"$path.stats/bid=-1" else path + ".stats")
      // corrections are VERSIONED appends on the stats root (r15): a
      // snapshot read before the purge's stats version re-sums the
      // shards WITHOUT the negative delta — pre-purge corpus stats,
      // which is what makes [[searchBefore]] exact across a purge
      heal(targetDir, "stats")
      StoreMaintenance.versionedAppend(path + ".stats",
          Seq(if (streamed) "bid=-1" else ".")) {
        landCorrection(targetDir, "stats", Seq((-nV, -sV)).toDF("n_docs", "sum_dl"))
      }
      // the per-group twin: a meta-written store's pre-aggregated
      // group stats take the same negative shard, derived from the
      // still-intact dl (meta rides it inline) BEFORE the dl purge —
      // the same crash-replay ordering contract as the global shard
      val groot = StoreFs.qualified(path + ".gstats")
      if (StoreFs.isDir(StoreFs.fsOf(groot), groot)) {
        val meta = spark.read.parquet(path + ".dl").columns.toSeq
          .filterNot(Set("doc_id", "dl"))
        heal(groot, "gstats")
        StoreMaintenance.versionedAppend(path + ".gstats", Seq(".")) {
          landCorrection(groot, "gstats",
            spark.read.parquet(path + ".dl")
              .filter(col("doc_id").isin(docIds: _*))
              .groupBy(meta.head, meta.tail: _*)
              .agg((-count(lit(1))).as("n_docs"),
                (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl")))
        }
      }
    }
    val res = StoreMaintenance.purge(spark, path, "doc_id", docIds)
    // co-location downgrade: the dl purge rewrites files under
    // maintenance names the bucketed-table contract (bucket id parsed
    // from the FILE NAME) cannot describe — drop the bucket metadata
    // before mutating; results stay exact, restore with [[rebucketDl]]
    dropDlBuckets(spark, path)
    val dlPath = path + ".dl"
    if (StoreMaintenance.purge(spark, dlPath, "doc_id", docIds)._2 == 0)
      StoreMaintenance.purgeFiles(spark, dlPath, "doc_id", docIds)
    res
  }

  /** All postings of any query term — the one store read behind
    * [[search]]. The bucket set is a STATIC partition filter (the
    * query's distinct tb values collect driver-side — bounded by
    * min(#query terms, Buckets), the same bounded-upload-collect
    * contract IndexStore.search carries), so the scan prunes to the
    * query's buckets in any plan, with no DPP fragility; the broadcast
    * tok equi-join then narrows rows inside the probed buckets.
    */
  private[graft] def candidates(spark: SparkSession, path: String,
                                qt: DataFrame,
                                extra: Seq[String] = Nil): DataFrame = {
    val qtbs = qt.select("qtb").distinct().collect().map(_.getLong(0))
    StoreFs.openParquet(spark, path)
      .select((Seq("tok", "doc_id", "tf", "tb") ++ extra).map(col): _*)
      .filter(col("tb").isin(qtbs: _*))
      .join(broadcast(qt.select("qtok", "qtb").distinct()),
        col("tok") === col("qtok") && col("tb") === col("qtb"))
      .select((Seq("tok", "doc_id", "tf") ++ extra).map(col): _*)
  }

  /** BM25 top-k over the store for a (q_id, text) query frame.
    *
    * The query side never reads the store: terms tokenize map-side and
    * broadcast. ONE postings read serves both candidate generation and
    * df — the probed rows ARE every posting of every query term, so
    * df(tok) is their per-token count (exactly the full-corpus df).
    * The bucket filter prunes the scan to the query's tb dirs
    * ([[candidates]]). Scoring replays t_bm25's arithmetic verbatim
    * (tok-sorted 0.0-seeded fold, round 6) — the store search
    * hash-shares t_bm25's oracle.
    *
    * SELF-EXCLUSION CONTRACT: with the default `excludeSelf = true`, a
    * corpus document whose doc_id equals the query's q_id is dropped
    * from that query's results — the gates (and t_bm25) query WITH
    * corpus documents, where ranking yourself first is noise. A caller
    * whose q_id space is independent of corpus doc_ids must pass
    * `excludeSelf = false`, or any coincidental id collision silently
    * loses that document from that query's ranking.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             k: Int, excludeSelf: Boolean = true): DataFrame = {
    val qt = queries
      .select(col("q_id"), explode(array_distinct(tokensOf(col("text")))).as("qtok"))
      .withColumn("qtb", tb(col("qtok")))
      .transform(graft.Materialize.forceCached)
    val cand0 = candidates(spark, path, qt)
      .transform(graft.Materialize.forceCached) // feeds df AND the contrib join
    val dl = dlFrame(spark, path).select("doc_id", "dl")
    val stats = StoreFs.openParquet(spark, path + ".stats")
    rankBm25(cand0, qt, dl, stats, k, excludeSelf)
  }

  /** THE BM25 ranking tail [[search]] and [[searchBefore]] share —
    * df from the candidate rows, t_bm25's arithmetic verbatim
    * (tok-sorted 0.0-seeded fold, round 6), k-bounded window — so the
    * live and snapshot serving paths cannot drift. `statsShards` is
    * the raw additive shard frame (re-summed here).
    */
  private def rankBm25(cand0: DataFrame, qt: DataFrame, dl: DataFrame,
                       statsShards: DataFrame, k: Int,
                       excludeSelf: Boolean): DataFrame = {
    val df = cand0.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = statsShards
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    val selfCond =
      if (excludeSelf) col("tok") === col("qtok") && col("doc_id") =!= col("q_id")
      else col("tok") === col("qtok")
    val contrib = cand0.join(broadcast(qt.select("q_id", "qtok")), selfCond)
      .join(broadcast(df), "tok") // df rows ≤ query-term count
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"), col("tok"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1.0 - B) +
            lit(B) * col("dl") / (col("sum_dl").cast("double") / col("n_docs"))))
        ).as("c"))
    val scored = contrib.groupBy("q_id", "doc_id")
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("tok"), col("c")))),
        lit(0.0), (acc, s) => acc + s.getField("c")), 6).as("score"))
    Ranking.topK(scored, Seq("q_id"), Seq(col("score").desc, col("doc_id").asc), k)
      .select("q_id", "rnk", "doc_id", "score")
  }

  /** SNAPSHOT BM25 top-k: the ranking as it stood before each
    * component root's most recent lineage event — the audit read for
    * "what did the last op (purge, append) change?", extending
    * [[StoreMaintenance.readBefore]]'s full table-state travel to the
    * lexical tier. Every component replays its own lineage: postings
    * and dl through readBefore at the root's latest version (live read
    * when a root has no recorded version yet), corpus stats by
    * re-summing the shard files as of before the latest stats version
    * — which excludes a purge's negative correction shard, so the
    * pre-purge stats are exact, not approximated.
    *
    * Cross-root consistency note: each root versions independently,
    * but every whole-store mutation ([[append]], [[purge]]) touches
    * all roots in one call, so "each root's latest version" is one
    * consistent pre-op state for wave-maintained stores. Pass explicit
    * versions to audit deeper history. The snapshot read scans the
    * snapshot's files directly (no tb partition pruning — partition
    * columns don't re-attach on a lineage read); an audit read is
    * priced per incident, not per query, so the full-candidate join
    * is the honest cost.
    */
  def searchBefore(spark: SparkSession, path: String, queries: DataFrame,
                   k: Int, excludeSelf: Boolean = true,
                   postingsVersion: Option[Long] = None,
                   dlVersion: Option[Long] = None,
                   statsVersion: Option[Long] = None): DataFrame = {
    def snap(root: String, explicit: Option[Long]): DataFrame = {
      val v = explicit.orElse(
        StoreMaintenance.versions(root).sorted.lastOption)
      v.map(StoreMaintenance.readBefore(spark, root, _))
        .getOrElse(StoreFs.openParquet(spark, root))
    }
    val qt = queries
      .select(col("q_id"), explode(array_distinct(tokensOf(col("text")))).as("qtok"))
      .withColumn("qtb", tb(col("qtok")))
      .transform(graft.Materialize.forceCached)
    val cand0 = snap(path, postingsVersion)
      .join(broadcast(qt.select("qtok").distinct()), col("tok") === col("qtok"))
      .select("tok", "doc_id", "tf")
      .transform(graft.Materialize.forceCached)
    val dl = snap(path + ".dl", dlVersion).select("doc_id", "dl")
    val stats = snap(path + ".stats", statsVersion)
    rankBm25(cand0, qt, dl, stats, k, excludeSelf)
  }

  /** Metadata-filtered BM25 top-k — the "search with filter" contract
    * every vector tier carries (v_filtered_store / v_ivf_filtered),
    * landed on the lexical tier: each query ranks ONLY documents whose
    * `matchCols` equal the query's own values, scored as BM25 over
    * that sub-corpus (per-group df and per-group (n_docs, sum_dl) —
    * the semantics of running t_bm25 on the filtered corpus, which is
    * exactly what the oracle replays). Requires the store written with
    * `metaCols = matchCols` (meta rides the dl sidecar inline — a
    * corpus-side metadata join would shuffle the big side). Per-group
    * df re-derives from the probed postings joined to the dl meta; the
    * per-group corpus stats re-sum the PRE-AGGREGATED `.gstats`
    * sidecar meta-written stores carry (kilobytes per wave, additive
    * like the global shards, negative purge corrections included) —
    * stores written before gstats existed fall back to one pushed-down
    * aggregate over the doc-count-sized dl sidecar. Same bucket-pruned
    * single postings read and self-exclusion contract as [[search]].
    */
  def searchFiltered(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, matchCols: Seq[String],
                     excludeSelf: Boolean = true): DataFrame = {
    require(matchCols.nonEmpty, "searchFiltered needs at least one match column")
    val qt = queries
      .select(col("q_id")
          +: explode(array_distinct(tokensOf(col("text")))).as("qtok")
          +: matchCols.map(c => col(c).as(s"q_$c")): _*)
      .withColumn("qtb", tb(col("qtok")))
      .transform(graft.Materialize.forceCached)
    val dl = dlFrame(spark, path) // (doc_id, metaCols..., dl)
    // candidates with their doc's meta + dl attached — ONE doc-keyed
    // join, feeding both the per-group df and the contribution rows
    val cd = candidates(spark, path, qt).join(dl, "doc_id")
      .transform(graft.Materialize.forceCached)
    val dfm = cd.groupBy("tok", matchCols: _*).agg(count(lit(1)).as("df"))
    // per-group corpus stats: the pre-aggregated additive sidecar when
    // the store wrote one (kilobytes re-summed — purge corrections
    // included), else derived from dl (pre-gstats stores)
    val stats =
      if (StoreFs.exists(path + ".gstats"))
        StoreFs.openParquet(spark, path + ".gstats")
          .groupBy(matchCols.head, matchCols.tail: _*)
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      else dl.groupBy(matchCols.head, matchCols.tail: _*)
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val metaEq = matchCols.map(c => col(c) === col(s"q_$c"))
    val joinCond = (if (excludeSelf)
        col("tok") === col("qtok") && col("doc_id") =!= col("q_id")
      else col("tok") === col("qtok")) +: metaEq
    val contrib = cd
      .join(broadcast(qt.select(col("q_id") +: col("qtok")
        +: matchCols.map(c => col(s"q_$c")): _*)), joinCond.reduce(_ && _))
      .join(broadcast(dfm), Seq("tok") ++ matchCols)
      .join(broadcast(stats), matchCols)
      .select(col("q_id"), col("doc_id"), col("tok"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1.0 - B) +
            lit(B) * col("dl") / (col("sum_dl").cast("double") / col("n_docs"))))
        ).as("c"))
    val scored = contrib.groupBy("q_id", "doc_id")
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("tok"), col("c")))),
        lit(0.0), (acc, s) => acc + s.getField("c")), 6).as("score"))
    Ranking.topK(scored, Seq("q_id"), Seq(col("score").desc, col("doc_id").asc), k)
      .select("q_id", "rnk", "doc_id", "score")
  }

  /** Ordered-proximity top-k ("near" queries) over the positional
    * postings: a document matches when the query's terms occur IN
    * ORDER within a window of (n−1)+slop positions — the sloppy-phrase
    * query class between exact phrase (slop 0, where this degenerates
    * to [[phraseSearch]]'s adjacency) and bag-of-words BM25 (slop ∞).
    * A match anchors at a position p of the FIRST term and extends
    * greedily: each later term takes its smallest position after the
    * previous pick (greedy is exact for existence — any valid chain
    * can only sit at-or-after the greedy one, so if greedy overshoots
    * the window, every chain does); the anchor counts when the last
    * pick lands ≤ p + (n−1) + slop. near_tf = matching anchors;
    * results are docs with near_tf ≥ 1, top-k by (near_tf DESC,
    * doc_id ASC). Same single bucket-pruned store read, all-terms
    * pigeonhole, map-side position fold, and self-exclusion contract
    * as [[phraseSearch]] — nothing shuffles beyond the grouping the
    * tf path already does.
    */
  def proximitySearch(spark: SparkSession, path: String, queries: DataFrame,
                      k: Int, slop: Int,
                      excludeSelf: Boolean = true): DataFrame = {
    require(slop >= 0, "slop must be non-negative")
    val qt = queries
      .select(col("q_id"), posexplode(tokensOf(col("phrase"))).as(Seq("ti", "qtok")))
      .withColumn("qtb", tb(col("qtok")))
      .transform(graft.Materialize.forceCached)
    val nTerms = qt.groupBy("q_id").agg(count(lit(1)).as("n_terms"))
    val cand = candidates(spark, path, qt, extra = Seq("pos"))
    val selfCond =
      if (excludeSelf) col("tok") === col("qtok") && col("doc_id") =!= col("q_id")
      else col("tok") === col("qtok")
    val hit = cand.join(broadcast(qt.select("q_id", "ti", "qtok")), selfCond)
      .select(col("q_id"), col("doc_id"), col("ti"), col("pos"))
    val grouped = hit.groupBy("q_id", "doc_id")
      .agg(array_sort(collect_list(struct(col("ti"), col("pos")))).as("tp"))
      .join(broadcast(nTerms), "q_id")
      .filter(size(col("tp")) === col("n_terms")) // every term present
    // greedy chain end for anchor p: fold terms 2..n picking the
    // smallest position after the previous pick (null = chain broke;
    // null comparisons fall out of the filter)
    val nearTf = size(filter(
      element_at(col("tp"), 1).getField("pos"),
      p => aggregate(slice(col("tp"), lit(2), size(col("tp")) - 1), p,
        (acc, s) => when(acc.isNull, acc).otherwise(
          array_min(filter(s.getField("pos"), x => x > acc))))
        <= p + size(col("tp")) - 1 + lit(slop)))
    val m = grouped
      .select(col("q_id"), col("doc_id"), nearTf.cast("long").as("near_tf"))
      .filter(col("near_tf") > 0)
    Ranking.topK(m, Seq("q_id"), Seq(col("near_tf").desc, col("doc_id").asc), k)
      .select("q_id", "rnk", "doc_id", "near_tf")
  }

  /** Exact-phrase top-k over the positional postings for a
    * (q_id, phrase) query frame — the query class a tf-only layout
    * cannot serve at all. A document matches when the phrase's terms
    * occur at CONSECUTIVE positions: candidates are the postings of
    * every phrase term (the same bucket-pruned single store read as
    * [[search]], position lists riding along), a doc survives only
    * when it holds ALL n terms, and its phrase frequency is the
    * position-fold |{p ∈ pos(t₀) : ∀i>0, p+i ∈ pos(tᵢ)}| — one
    * map-side HOF per (query, doc), no extra shuffle beyond the
    * grouping the tf path already does. Duplicate phrase terms keep
    * their distinct offsets (the qt join is per term INDEX, not per
    * token), so "the the" intersects correctly. Results are docs with
    * phrase_tf ≥ 1, top-k by (phrase_tf DESC, doc_id ASC). Same
    * self-exclusion contract as [[search]].
    */
  def phraseSearch(spark: SparkSession, path: String, queries: DataFrame,
                   k: Int, excludeSelf: Boolean = true): DataFrame = {
    val qt = queries
      .select(col("q_id"), posexplode(tokensOf(col("phrase"))).as(Seq("ti", "qtok")))
      .withColumn("qtb", tb(col("qtok")))
      .transform(graft.Materialize.forceCached)
    val nTerms = qt.groupBy("q_id").agg(count(lit(1)).as("n_terms"))
    val cand = candidates(spark, path, qt, extra = Seq("pos"))
    val selfCond =
      if (excludeSelf) col("tok") === col("qtok") && col("doc_id") =!= col("q_id")
      else col("tok") === col("qtok")
    val hit = cand.join(broadcast(qt.select("q_id", "ti", "qtok")), selfCond)
      .select(col("q_id"), col("doc_id"), col("ti"), col("pos"))
    val grouped = hit.groupBy("q_id", "doc_id")
      .agg(array_sort(collect_list(struct(col("ti"), col("pos")))).as("tp"))
      .join(broadcast(nTerms), "q_id")
      .filter(size(col("tp")) === col("n_terms")) // every term present
    val phraseTf = size(filter(
      element_at(col("tp"), 1).getField("pos"),
      p => aggregate(slice(col("tp"), lit(2), size(col("tp")) - 1), lit(true),
        (acc, s) => acc && array_contains(s.getField("pos"), p + s.getField("ti")))))
    val m = grouped
      .select(col("q_id"), col("doc_id"), phraseTf.cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
    Ranking.topK(m, Seq("q_id"), Seq(col("phrase_tf").desc, col("doc_id").asc), k)
      .select("q_id", "rnk", "doc_id", "phrase_tf")
  }
}

/** Driver-gate queries for the BM25 store. */
object Bm25StoreQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  private def queriesOf(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"), col("text"))

  /** v_bm25_store: two doc-disjoint waves (write + append) through the
    * persisted postings layout, compact, then serve — hash-matches
    * t_bm25's one-shot oracle: the append algebra (postings/df/dl/
    * stats all additive) and the compaction are proven lossless by the
    * hash, not asserted. r14: the store builds with the BUCKETED dl
    * sidecar (dlBuckets=4), so the co-located serving join — appended
    * wave riding through the catalog table included — is inside the
    * oracle gate, not just the exchange-budget spec.
    */
  def vBm25Store(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "bm25_store") + "/idx"
    if (!StoreFs.exists(path)) {
      val d = docs(spark, dir)
      Bm25Store.write(d.filter(col("doc_id") % 2 === 0), path,
        dlBuckets = Some(4))
      Bm25Store.append(d.filter(col("doc_id") % 2 === 1), path)
      Bm25Store.compact(spark, path)
    }
    Bm25Store.search(spark, path, queriesOf(spark, dir), k = 5)
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** v_bm25_purge: right-to-be-forgotten on the lexical tier IN the
    * driver gate — build the postings store, purge docs 3 and 4
    * (victims chosen outside the query set so the queries survive),
    * then serve: the search must hash-match t_bm25's oracle over the
    * corpus MINUS the victims — postings, dl, df re-derivation, AND
    * the negative stats correction all proven exact by the hash (a
    * stats delta that was off by one token would shift every score).
    */
  def vBm25Purge(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "bm25purge_store") + "/idx"
    if (!StoreFs.exists(path)) {
      Bm25Store.write(docs(spark, dir), path)
      Bm25Store.purge(spark, path, Seq(3L, 4L))
    }
    Bm25Store.search(spark, path, queriesOf(spark, dir), k = 5)
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** q_snapshot_bm25: time travel on the LEXICAL tier in the driver
    * gate — build the store in two doc-disjoint waves (write + a
    * versioned append), purge docs 3 and 4, then serve the PRE-PURGE
    * ranking through [[Bm25Store.searchBefore]]: postings and dl
    * replay through readBefore at each root's purge version, and the
    * corpus stats re-sum the shards WITHOUT the purge's negative
    * correction. The result must hash-match t_bm25's oracle over the
    * FULL corpus — the purged documents reappear in the snapshot
    * ranking with their exact scores, proving the r15 versioned
    * lexical appends + correction versioning give the same full
    * table-state travel the vector stores got in r14.
    */
  def qSnapshotBm25(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "bm25snap_store") + "/idx"
    if (!StoreFs.exists(path)) {
      val d = docs(spark, dir)
      Bm25Store.write(d.filter(col("doc_id") % 2 === 0), path)
      Bm25Store.append(d.filter(col("doc_id") % 2 === 1), path)
      Bm25Store.purge(spark, path, Seq(3L, 4L))
    }
    Bm25Store.searchBefore(spark, path, queriesOf(spark, dir), k = 5)
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** v_bm25_filtered: the metadata-filtered lexical leg in the driver
    * gate — store written with `lang` inline in the dl sidecar, each
    * query (docs 0-2) ranking ONLY its own language's documents with
    * per-language df and corpus stats. The oracle replays t_bm25 with
    * the language equality riding every join and the stats grouped by
    * lang, so sub-corpus scoring is hash-proven end to end. Each query
    * doc's lang differs across scale factors (en/es/zh mixes), which
    * is exactly why the filter is PER QUERY, not a global predicate.
    */
  def vBm25Filtered(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "bm25filt_store") + "/idx"
    if (!StoreFs.exists(path))
      Bm25Store.write(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("lang")),
        path, metaCols = Seq("lang"))
    val queries = Tables.documents(spark, dir).filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"), col("text"), col("lang"))
    Bm25Store.searchFiltered(spark, path, queries, k = 5, Seq("lang"))
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** v_bm25_phrase: the positional tier in the driver gate — build the
    * postings store (positions land in the same tokenize pass), then
    * serve a TWO-TERM EXACT PHRASE per query (each query doc's first
    * two tokens): docs where the terms are adjacent, top-10 by
    * (phrase frequency, doc_id). The oracle replays the 1-based
    * position-list intersection in SQL, so the positional layout, the
    * all-terms-present pigeonhole, and the adjacency fold are all
    * hash-proven — a tf-only store cannot answer this query class.
    */
  def vBm25Phrase(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "bm25phrase_store") + "/idx"
    if (!StoreFs.exists(path))
      Bm25Store.write(docs(spark, dir), path)
    val queries = docs(spark, dir).filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(Bm25Store.tokensOf(col("text")), 1, 2)).as("phrase"))
    Bm25Store.phraseSearch(spark, path, queries, k = 10)
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"),
        col("phrase_tf"))
      .orderBy("query_id", "rnk")
  }

  /** v_bm25_near: ordered proximity in the driver gate — the sloppy-
    * phrase class between v_bm25_phrase (slop 0) and t_bm25 (slop ∞):
    * each query doc's first two tokens, matched where they occur in
    * order within 1+slop positions (slop = 3), top-10 by
    * (near frequency, doc_id). The oracle replays the window
    * existence check per anchor position in SQL (for two terms the
    * greedy chain is exactly "any second-term position in
    * (p, p+1+slop]"), so the positional layout serves a second query
    * class hash-proven end to end.
    */
  val NearSlop = 3

  def vBm25Near(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "bm25near_store") + "/idx"
    if (!StoreFs.exists(path))
      Bm25Store.write(docs(spark, dir), path)
    val queries = docs(spark, dir).filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(Bm25Store.tokensOf(col("text")), 1, 2)).as("phrase"))
    Bm25Store.proximitySearch(spark, path, queries, k = 10, slop = NearSlop)
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"),
        col("near_tf"))
      .orderBy("query_id", "rnk")
  }

  /** v_bm25_near3: ordered proximity at THREE terms — the gate where
    * the greedy chain is a REAL fold, not a window check. At n = 2
    * (v_bm25_near) greedy degenerates to "any second-term position in
    * (p, p+1+slop]", so the n>2 exactness of [[Bm25Store
    * .proximitySearch]]'s chain (pick the smallest next position after
    * each previous pick) lived only in a comment; this gate runs each
    * query doc's first three tokens at slop 2 and the ORACLE REPLAYS
    * THE GREEDY FOLD ITSELF, unrolled per anchor (chain2 =
    * min{pos2 > p}, chain3 = min{pos3 > chain2}, hit iff chain3 ≤
    * p + 2 + slop) — hash-proving the chain semantics at a width where
    * greedy and exhaustive window search could genuinely diverge in
    * COUNT (greedy is exact for existence; the gate counts anchors, so
    * the fold arithmetic itself is pinned).
    */
  val Near3Slop = 2

  def vBm25Near3(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "bm25near_store") + "/idx"
    if (!StoreFs.exists(path))
      Bm25Store.write(docs(spark, dir), path)
    // ≥3-token query docs only, so every gate query exercises the
    // full-width chain (and the oracle's arr[3] never goes NULL)
    val queries = docs(spark, dir).filter(col("doc_id") < 3)
      .filter(size(Bm25Store.tokensOf(col("text"))) >= 3)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(Bm25Store.tokensOf(col("text")), 1, 3)).as("phrase"))
    Bm25Store.proximitySearch(spark, path, queries, k = 10, slop = Near3Slop)
      .select(col("q_id").as("query_id"), col("rnk"), col("doc_id"),
        col("near_tf"))
      .orderBy("query_id", "rnk")
  }

  /** v_sql_store_near: the SQL serving leg for ORDERED PROXIMITY —
    * completes SQL parity for the positional tier (phrase landed in
    * r14; this is its sloppy sibling). The greedy chain for two terms
    * restates as the aggregate HOF both engines run: per anchor
    * position p of the first term, the chain's next pick is
    * array_min of the second term's positions above p, and the anchor
    * hits iff that pick lands within p + 1 + slop. Hash-shares
    * v_bm25_near's oracle, so the SQL and engine surfaces of the
    * proximity class cannot drift.
    */
  def vSqlStoreNear(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "sqlnear_store") + "/idx"
    if (!StoreFs.exists(path))
      Bm25Store.write(docs(spark, dir), path)
    graft.GraftSession.sqlStore(spark, path, "bm25near")
    docs(spark, dir).createOrReplaceTempView("graft_sql_docs_bm25near")
    spark.sql(s"""
      WITH dt AS (SELECT doc_id,
               filter(split(trim(text), '\\\\s+'), t -> t != '') AS arr
             FROM graft_sql_docs_bm25near),
      qk AS (SELECT doc_id AS q_id,
               element_at(arr, 1) AS w1, element_at(arr, 2) AS w2,
               CAST(conv(substring(md5(concat('bm25tb_', element_at(arr, 1))), 1, 8), 16, 10)
                 AS BIGINT) % ${Bm25Store.Buckets} AS tb1,
               CAST(conv(substring(md5(concat('bm25tb_', element_at(arr, 2))), 1, 8), 16, 10)
                 AS BIGINT) % ${Bm25Store.Buckets} AS tb2
             FROM dt WHERE doc_id < 3),
      a AS (SELECT /*+ BROADCAST(q) */ q.q_id, p.doc_id, p.pos
            FROM graft_store_bm25near p
            JOIN qk q ON p.tok = q.w1 AND p.tb = q.tb1 AND p.doc_id <> q.q_id),
      b AS (SELECT /*+ BROADCAST(q) */ q.q_id AS bq, p.doc_id AS bdoc,
               p.pos AS bpos
            FROM graft_store_bm25near p
            JOIN qk q ON p.tok = q.w2 AND p.tb = q.tb2),
      m AS (SELECT a.q_id, a.doc_id,
              CAST(size(filter(a.pos, p ->
                array_min(filter(b.bpos, x -> x > p)) <= p + 1 + $NearSlop))
                AS BIGINT) AS near_tf
            FROM a JOIN b ON b.bq = a.q_id AND b.bdoc = a.doc_id),
      r AS (SELECT q_id AS query_id, doc_id, near_tf,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY near_tf DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM m WHERE near_tf > 0)
      SELECT query_id, rnk, doc_id, near_tf FROM r
      WHERE rnk <= 10 ORDER BY query_id, rnk""")
  }

  /** v_sql_store_phrase: the THIRTEENTH SQL serving leg — a SQL-only
    * user answers an EXACT PHRASE query against the persisted
    * positional postings (the query class the tf-only view cannot
    * serve): query terms and their token buckets restate in SQL (the
    * same md5 arithmetic as the bm25 leg, so the tb equi-join prunes
    * the scan), each term's postings rows keep their position lists,
    * and the adjacency intersection is the same array HOF the engine
    * leg folds map-side. Hash-shares v_bm25_phrase's oracle, so the
    * SQL and engine surfaces of the positional tier cannot drift.
    */
  def vSqlStorePhrase(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "sqlphrase_store") + "/idx"
    if (!StoreFs.exists(path))
      Bm25Store.write(docs(spark, dir), path)
    graft.GraftSession.sqlStore(spark, path, "bm25pos")
    docs(spark, dir).createOrReplaceTempView("graft_sql_docs_bm25pos")
    spark.sql(s"""
      WITH dt AS (SELECT doc_id,
               filter(split(trim(text), '\\\\s+'), t -> t != '') AS arr
             FROM graft_sql_docs_bm25pos),
      qk AS (SELECT doc_id AS q_id,
               element_at(arr, 1) AS w1, element_at(arr, 2) AS w2,
               CAST(conv(substring(md5(concat('bm25tb_', element_at(arr, 1))), 1, 8), 16, 10)
                 AS BIGINT) % ${Bm25Store.Buckets} AS tb1,
               CAST(conv(substring(md5(concat('bm25tb_', element_at(arr, 2))), 1, 8), 16, 10)
                 AS BIGINT) % ${Bm25Store.Buckets} AS tb2
             FROM dt WHERE doc_id < 3),
      a AS (SELECT /*+ BROADCAST(q) */ q.q_id, p.doc_id, p.pos
            FROM graft_store_bm25pos p
            JOIN qk q ON p.tok = q.w1 AND p.tb = q.tb1 AND p.doc_id <> q.q_id),
      b AS (SELECT /*+ BROADCAST(q) */ q.q_id AS bq, p.doc_id AS bdoc,
               p.pos AS bpos
            FROM graft_store_bm25pos p
            JOIN qk q ON p.tok = q.w2 AND p.tb = q.tb2),
      m AS (SELECT a.q_id, a.doc_id,
              CAST(size(filter(a.pos, p -> array_contains(b.bpos, p + 1)))
                AS BIGINT) AS phrase_tf
            FROM a JOIN b ON b.bq = a.q_id AND b.bdoc = a.doc_id),
      r AS (SELECT q_id AS query_id, doc_id, phrase_tf,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY phrase_tf DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM m WHERE phrase_tf > 0)
      SELECT query_id, rnk, doc_id, phrase_tf FROM r
      WHERE rnk <= 10 ORDER BY query_id, rnk""")
  }

  /** v_sql_store_bm25: the TWELFTH SQL serving leg — a SQL-only user
    * ranks BM25 against the persisted postings store. Query terms
    * tokenize IN SQL (the same trim/split/filter as Dedup.tokens) with
    * the md5 token bucket restated, candidates prune via the tb join,
    * df re-derives from the probed rows, and the score replays the
    * tok-sorted 0.0-seeded fold — hash-shares t_bm25's oracle with the
    * engine leg, so the two surfaces cannot drift.
    */
  def vSqlStoreBm25(spark: SparkSession, dir: String): DataFrame = {
    val path = StoreFs.gatePath(spark, dir, "sqlbm25_store") + "/idx"
    if (!StoreFs.exists(path))
      Bm25Store.write(docs(spark, dir), path)
    graft.GraftSession.sqlStore(spark, path, "bm25")
    StoreFs.openParquet(spark, path + ".dl").createOrReplaceTempView("graft_store_bm25_dl")
    StoreFs.openParquet(spark, path + ".stats").createOrReplaceTempView("graft_store_bm25_stats")
    docs(spark, dir).createOrReplaceTempView("graft_sql_docs_bm25")
    spark.sql(s"""
      WITH qt0 AS (SELECT doc_id AS q_id,
               explode(array_distinct(filter(split(trim(text), '\\\\s+'),
                 t -> t != ''))) AS qtok
             FROM graft_sql_docs_bm25 WHERE doc_id < 3),
      qt AS (SELECT q_id, qtok,
               CAST(conv(substring(md5(concat('bm25tb_', qtok)), 1, 8), 16, 10)
                 AS BIGINT) % ${Bm25Store.Buckets} AS qtb
             FROM qt0),
      qk AS (SELECT DISTINCT qtok, qtb FROM qt),
      cand0 AS (SELECT /*+ BROADCAST(qk) */ p.tok, p.doc_id, p.tf
                FROM graft_store_bm25 p
                JOIN qk ON p.tok = qk.qtok AND p.tb = qk.qtb),
      dfv AS (SELECT tok, COUNT(*) AS df FROM cand0 GROUP BY tok),
      st AS (SELECT SUM(n_docs) AS n_docs, SUM(sum_dl) AS sum_dl
             FROM graft_store_bm25_stats),
      contrib AS (SELECT /*+ BROADCAST(q, st) */ q.q_id, c.doc_id, c.tok,
               ln((st.n_docs - f.df + 0.5D) / (f.df + 0.5D) + 1.0D) *
                 (c.tf * ${Bm25Store.K1 + 1}D) /
                 (c.tf + ${Bm25Store.K1}D * (${1.0 - Bm25Store.B}D +
                   ${Bm25Store.B}D * l.dl /
                     (CAST(st.sum_dl AS DOUBLE) / st.n_docs))) AS c
             FROM cand0 c
             JOIN qt q ON c.tok = q.qtok AND c.doc_id <> q.q_id
             JOIN dfv f ON f.tok = c.tok
             JOIN graft_store_bm25_dl l ON l.doc_id = c.doc_id
             CROSS JOIN st),
      scored AS (SELECT q_id, doc_id,
               ROUND(aggregate(array_sort(collect_list(struct(tok, c))),
                 CAST(0 AS DOUBLE), (acc, s) -> acc + s.c), 6) AS score
             FROM contrib GROUP BY q_id, doc_id),
      ranked AS (SELECT q_id AS query_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk,
               doc_id, score
             FROM scored)
      SELECT query_id, rnk, doc_id, score FROM ranked
      WHERE rnk <= 5 ORDER BY query_id, rnk""")
  }
}
