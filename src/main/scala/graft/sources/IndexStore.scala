package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.functions.{HashFns => H, VectorFns => V}
import graft.plans.{CosineTopK, Ranking, TopKProbe, TopKScore}

/** Persistent vector index — the Spark-native re-expression of the
  * reference's index lifecycle (faiss.write_index / read_index +
  * metadata.pkl sidecar: /root/reference/build_faiss_db.py:218-226,
  * app.py:52-58).
  *
  * Layout: one parquet dataset holding (id, vector-as-double, norm,
  * LSH band keys), PARTITIONED BY band0 — so an ANN search against a
  * loaded index prunes to the query's bucket partitions at the file
  * level (partition pruning happens in the scan, which is the property
  * that matters at 100 TB: a probe reads 1/2^bits of the corpus, not
  * all of it). Metadata travels as a second parquet dataset keyed by
  * the same id, joined at result time exactly like the reference's
  * metadata_list[idx] lookup.
  */
/** Physical-layout helpers shared by the store WRITE paths. Both are
  * value-neutral (they only move rows between tasks), so every store's
  * search/report results — and therefore the oracle hashes — are
  * untouched; what changes is WHERE the encode projections run and how
  * many files a write lands.
  */
private[graft] object StoreLayout {
  import org.apache.spark.sql.functions.col

  /** Widen a pathologically narrow input before a CPU-heavy encode
    * projection (band signs, k-means assignment, PQ argmin, shingle
    * hashing). The local test tables are single one-row-group parquet
    * files → ONE scan partition, so the encode would otherwise run on
    * one core while the other 31 idle; the same shape occurs on a
    * cluster when the ingest batch is one huge unsplittable file
    * (guide §2.5 "repartition immediately after the read"). Unlike an
    * unconditional round-robin, this is a NO-OP whenever the input
    * already arrives reasonably wide — a cluster scan of a partitioned
    * corpus is untouched, so no full-corpus shuffle of raw vectors is
    * added at scale. (Inspecting the partition count only builds the
    * physical plan; inputs here are scans/projections, so no job runs.)
    */
  def widened(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= cores) df else df.repartition(cores)
  }

  /** Cluster encoded rows by the layout's partition column(s) right
    * before a dynamic-partition write. Without it, every encode task
    * writes one file into every value directory it holds rows for —
    * tasks × dirs small files per write, each paying a create + commit
    * rename (+ a .crc sidecar on checksummed filesystems) — and every
    * later probe pays the per-file open cost compaction exists to
    * claw back. With it, each dir lands as O(1) files. The exchange is
    * AQE-sized (REBALANCE: coalesces small partitions AND splits
    * skewed ones), so the tiny local stores coalesce to few writers
    * while a cluster write stays wide — and it carries the ENCODED
    * rows (codes/bands, bytes), never the raw vectors, because it sits
    * between the encode and the sink.
    */
  def clustered(df: DataFrame, partitionCols: String*): DataFrame =
    df.hint("REBALANCE", partitionCols.map(col): _*)

  /** Daemon pool for overlapping INDEPENDENT store steps (per-dir
    * rewrites, disjoint search legs). Spark's scheduler happily runs
    * several jobs at once inside one application; steps were only
    * sequential because the store code called them sequentially, and
    * each tiny job pays a full driver round-trip (plan, submit,
    * commit) that the others can hide.
    */
  private lazy val pool: scala.concurrent.ExecutionContextExecutorService =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-store-step")
        t.setDaemon(true)
        t
      }))

  /** Run independent store steps concurrently, returning their results
    * in order; exceptions propagate to the caller. The steps must not
    * depend on each other or on submission order — every call site's
    * steps write/read DISJOINT datasets, so the store's crash contract
    * (which orders commits between datasets, never steps within one)
    * is untouched.
    */
  def concurrently[T](steps: Seq[() => T]): Seq[T] =
    if (steps.lengthCompare(2) < 0) steps.map(_())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val futs = steps.map(s => Future(s())(pool))
      // settle EVERY step before propagating the first failure: a
      // failed step (including a fault-injection crash in tests) must
      // not leave sibling steps still writing in the background while
      // the caller's recovery path runs
      val settled = futs.map(f => Await.ready(f, Duration.Inf).value.get)
      settled.collectFirst { case scala.util.Failure(e) => throw e }
      settled.map(_.get)
    }

  /** Two independent typed steps, overlapped — a store write and its
    * metadata sidecar, or two disjoint search legs.
    */
  def concurrently2[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val fa = Future(a)(pool)
    val fb = Future(b)(pool)
    val (ra, rb) = (Await.ready(fa, Duration.Inf).value.get,
      Await.ready(fb, Duration.Inf).value.get) // settle both, then throw
    (ra.get, rb.get)
  }
}

object IndexStore {

  val BandBits = H.LshBandBits

  /** Build + persist the index from any frame with an id and a vector
    * column (array<float> or array<double>). `metaCols` are payload
    * attributes stored INLINE with the vectors (label/tenant/source —
    * the columns filtered searches predicate on): colocating them in
    * the index row means an attribute filter applies at the scan,
    * with no sidecar join on the 100 TB side.
    */
  def write(df: DataFrame, idCol: String, vecCol: String, path: String, dim: Int,
            metaCols: Seq[String] = Nil): Unit =
    banded(df, idCol, vecCol, dim, metaCols)
      .write.mode("overwrite").partitionBy("band0").parquet(path)

  /** Widened, banded (id, v, meta…, nrm, band0, band1) rows, clustered by band0. */
  private def banded(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     metaCols: Seq[String]): DataFrame =
    StoreLayout.clustered(
      H.withBands(
        StoreLayout.widened(
          df.select(col(idCol).as("id") +: col(vecCol).cast("array<double>").as("v")
              +: metaCols.map(col): _*))
          .withColumn("nrm", V.norm2(col("v"))), dim).drop("vq"), "band0")

  /** Metadata sidecar (the metadata.pkl analog) — a sibling dataset:
    * nesting it under the index path would collide with parquet
    * partition discovery over the band0= directories.
    */
  def writeMetadata(meta: DataFrame, path: String): Unit =
    meta.write.mode("overwrite").parquet(s"$path.meta")

  /** Incremental maintenance: append new vectors into the existing
    * banded layout. New rows land in their band0 partition directories
    * (dynamic partition append), so probes keep pruning correctly with
    * no rebuild — the faiss add() analog, minus any global structure
    * to rewrite. Compaction of small files is a periodic rewrite of
    * one partition at a time. Versioned ([[StoreMaintenance
    * .versionedAppend]]): the returned version replays the pre-append
    * state through readBefore, like every maintenance op.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String, dim: Int): Long =
    StoreMaintenance.versionedAppend(path,
      (0 until (1 << BandBits)).map(b => s"band0=$b")) {
      banded(df, idCol, vecCol, dim, Nil)
        .write.mode("append").partitionBy("band0").parquet(path)
    }

  def read(spark: SparkSession, path: String): DataFrame =
    StoreFs.openParquet(spark, path)

  def readMetadata(spark: SparkSession, path: String): DataFrame =
    StoreFs.openParquet(spark, s"$path.meta")

  /** A small query set's probe rows, planned on the driver: one row per
    * (query, probed partition key), laid out (query_id, qv, qn,
    * q_<match>…, key).
    */
  private[sources] final case class LocalProbe(spark: SparkSession, schema: StructType,
                                               rows: Array[Row]) {
    /** The distinct probed keys — the static partition IN list (a null
      * key, from a null query vector, probes nothing).
      */
    def keys: Seq[Int] = rows.toSeq.map(r => r.get(r.length - 1)).collect { case k: Int => k }.distinct

    /** The probe rows as a local relation, for a broadcast side. */
    lazy val frame: DataFrame = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    /** The probes' query-side fields: the query id, then the q_<match>
      * columns.
      */
    def query: StructType = StructType(schema.head +: schema.fields.slice(3, schema.length - 1))

    /** The rows as keyed top-k probes: cosine ones, or ADC ones whose
      * lookup table is `table(row)`.
      */
    def probes(table: Row => Array[Array[Double]] = null): Seq[TopKProbe] = rows.toSeq.map { r =>
      val (qid, key, matches) = (r.get(0), r.get(r.length - 1), (3 until r.length - 1).map(r.get))
      if (table == null) TopKProbe(qid, key, matches, vecOf(r, 1), r.getAs[java.lang.Double](2))
      else TopKProbe(qid, key, matches, table = table(r))
    }
  }

  /** Column `i` of a collected row as a vector (NULL stays null). */
  private[sources] def vecOf(r: Row, i: Int): Array[Double] =
    if (r.isNullAt(i)) null else r.getSeq[Double](i).toArray

  /** Collect `probe` once — its last column is each query's array of
    * probed partition keys — and explode that array on the driver.
    * Over a local query frame the whole probe SQL folds into the
    * collected plan, so this schedules no Spark job, and nothing
    * upstream of the probe recomputes when the search runs.
    */
  private[sources] def localProbe(probe: DataFrame): LocalProbe = {
    val collected = probe.collect()
    val n = probe.schema.length - 1
    val rows = collected.flatMap { r =>
      val head = r.toSeq.take(n)
      r.getSeq[Any](n).map(k => Row.fromSeq(head :+ k))
    }
    val schema = StructType(probe.schema.take(n)).add(probe.schema(n).name, IntegerType)
    LocalProbe(probe.sparkSession, schema, rows)
  }

  /** Exact top-k against a loaded index — IndexFlatIP.search over the
    * persisted corpus; see [[searchFiltered]].
    */
  def search(index: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int): DataFrame =
    searchFiltered(index, queries, idCol, vecCol, k, Nil)

  /** Attribute-filtered exact search: neighbors must agree with the
    * query row on every column in `matchCols` (the vector-DB "search
    * with filter" — per-tenant / per-class lookups). Out-of-filter rows
    * never reach the top-k heap. The query rows are collected, as the
    * broadcast side of a join would be, and the scan is ranked by the
    * driver-resident top-k in one Spark job. For a STATIC predicate,
    * pre-filter the index frame instead (`search(read(spark, path)
    * .filter(p), …)`) — simple comparisons on inline meta columns push
    * into the parquet scan (PushedFilters, spec-asserted).
    */
  def searchFiltered(index: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, matchCols: Seq[String]): DataFrame = {
    val q = queries.select(col(idCol).as("query_id")
        +: col(vecCol).cast("array<double>").as("qv")
        +: matchCols.map(c => col(c).as(s"q_$c")): _*)
      .withColumn("qn", V.norm2(col("qv")))
    val probes = q.collect().toSeq.map(r => TopKProbe(r.get(0),
      matches = matchCols.indices.map(j => r.get(2 + j)),
      vec = vecOf(r, 1), norm = r.getAs[java.lang.Double](2 + matchCols.length)))
    CosineTopK.search(probes, k, TopKScore.Cosine, keyed = false,
      StructType(q.schema.head +: q.schema.fields.slice(2, 2 + matchCols.length)),
      index.select(col("id") +: col("v").cast("array<double>") +: col("nrm")
        +: matchCols.map(col): _*))
  }

  /** Multiprobe ANN top-k over the persisted banded layout: each query
    * probes its own band0 bucket PLUS the BandBits Hamming-1 neighbor
    * buckets (Lv et al.'s multi-probe LSH — the same expansion that
    * took the dedup blocking's recall 0.26→0.78), so near pairs that
    * straddle a single hyperplane sign flip stop being structural
    * misses of the serving tier. The probed bucket set compiles into a
    * STATIC `band0 IN (...)` partition filter (the searchRadius / IVF
    * search pattern — the probe set is tiny by the uploaded-query
    * contract), so the scan reads at most (BandBits+1)/2^BandBits of
    * the store's files; candidates still meet the driver-resident
    * probe rows on the probe key (each Hamming-≤1 pair on exactly one
    * probe — no dedup needed), and exact cosine rescoring + the
    * k-bounded heaps run inside the probed buckets only, in one Spark
    * job ([[graft.plans.CosineTopK]]).
    */
  def searchAnnProbed(spark: SparkSession, path: String, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int, dim: Int): DataFrame =
    bucketTopK(read(spark, path), queries, idCol, vecCol, k, dim,
      qb0 => qb0 +: (0 until BandBits).map(r => qb0.bitwiseXOR(lit(1 << r))))

  /** ANN top-k: queries are banded with the same hyperplanes, then the
    * scan is filtered to the probed band0 partitions (file-level
    * pruning) before exact rescoring inside the bucket. Single-bucket
    * blocking — [[searchAnnProbed]] is the higher-recall serving tier.
    */
  def searchAnn(index: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, dim: Int): DataFrame =
    bucketTopK(index, queries, idCol, vecCol, k, dim, qb0 => Seq(qb0))

  /** The LSH searches' one body: each query probes the band0 buckets
    * `buckets(qb0)` of its own bucket, the scan keeps only the probed
    * buckets (a static `band0 IN (...)` filter) and the driver-resident
    * top-k scores each row against the probes of its bucket.
    */
  private def bucketTopK(index: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                         k: Int, dim: Int, buckets: Column => Seq[Column]): DataFrame = {
    // collected once: the probe-bucket IN list and the probe rows both
    // come from the same driver-side rows
    val q = localProbe(bandedQueries(queries, idCol, vecCol, dim)
      .select(col("query_id"), col("qv"), col("qn"), array(buckets(col("qb0")): _*).as("pb")))
    CosineTopK.search(q.probes(), k, TopKScore.Cosine, keyed = true, q.query,
      index.where(col("band0").isin(q.keys: _*)) // static file-level pruning
        .select("id", "v", "nrm", "band0"))
  }

  /** (query_id, qv, qn, qb0) query rows banded with the store's hyperplanes. */
  private[sources] def bandedQueries(queries: DataFrame, idCol: String, vecCol: String,
                                     dim: Int): DataFrame =
    H.withBands(
      queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("v"))
        .withColumn("nrm", V.norm2(col("v"))), dim)
      .select(col("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("band0").as("qb0"))
}

/** Operational maintenance for the partitioned stores (IndexStore's
  * band0= layout, IvfIndexStore's cid= layout). Incremental appends
  * land one small file per batch per partition; at 100 TB with nightly
  * ingest the accumulated small files throttle every probe (per-file
  * open + footer read dominates a pruned scan). Compaction is the
  * documented "periodic rewrite of one partition at a time": each
  * partition directory is independent, so a cluster runs this
  * partition-at-a-time during a low-traffic window with no global
  * lock and no effect on the sidecars — rows, bands/list ids, and
  * search results are unchanged by construction (the spec pins the
  * search hash across a compaction).
  *
  * == Crash-consistency contract ==
  *
  * The swap protocol makes a crash at ANY point recoverable with no
  * data loss, because nothing is deleted before a durable manifest of
  * the intended deletes exists next to a fully-committed rewrite:
  *
  *  1. rewrite → `.compact_<part>/` temp dir (dot-prefixed, invisible
  *     to parquet discovery). Spark's own commit protocol stamps
  *     `_SUCCESS` only after every part file is durable.
  *  2. write `.compact_<part>/manifest` — the exact list of OLD data
  *     files to retire. Its presence asserts step 1 completed.
  *  3. RETIRE the manifest-listed files into `.retired/v<N>/` (never
  *     delete — [[StoreMaintenance.vacuum]] reclaims them past the
  *     retention horizon, and [[StoreMaintenance.readBefore]] replays
  *     the pre-op state until then), move the rewritten files in,
  *     remove the temp dir (manifest last).
  *
  * Recovery rule (run [[recover]] before serving after a crash): a
  * leftover temp dir WITH `_SUCCESS` + `manifest` means the swap was
  * committed — finish it (both delete-by-manifest and move-remaining
  * are idempotent, so re-running after a mid-step-3 crash is safe); a
  * temp dir missing either marker means the rewrite never committed —
  * discard it, the partition is untouched and still authoritative.
  *
  * Readers racing a swap: a reader that planned its scan against the
  * pre-compact file listing may hit FileNotFound when the swap lands
  * mid-query. That is the documented outcome — compaction never
  * changes RESULTS, so the recovery is simply re-plan and re-run
  * (`spark.read` again; the new plan sees the compacted listing).
  * Already-materialized results (collected, cached with all blocks
  * resident, or written out) are unaffected.
  */
/** Thrown when a maintenance pass (compact/purge) finds another
  * maintainer's lock on the store — the second pass refuses cleanly
  * instead of racing the first one's `.compact_*` temp dirs (last
  * writer's manifest would win and the loser's rewrite could
  * resurrect or double-delete files).
  */
final class ConcurrentMaintenanceException(msg: String)
  extends RuntimeException(msg)

object StoreMaintenance {
  import org.apache.hadoop.fs.{FileSystem, Path}
  import StoreFs.{list, isFile, isDir, mkdirs, delete, mtime,
    readLines, writeLines, moveReplace, renameOrThrow}

  /** Lock file name for the single-maintainer lease on a store. */
  val LockName = ".maintenance_lock"

  private def lockPath(root: Path) = new Path(root, LockName)

  /** Single-maintainer lease: claim `.maintenance_lock` through the
    * scheme's [[LockProvider]] (default: atomic create-exclusive —
    * see [[StoreFs]] for the per-scheme atomicity contract; an
    * object-store deployment registers a real coordinator via
    * [[LockProvider.register]], the Delta-on-S3 LogStore pattern),
    * run `body`, release. Contention means another maintainer holds
    * the store — refuse cleanly. The lock carries an epoch line
    * (`pid@host time`) so an operator can tell a live holder from a
    * crashed one; a crash leaves the lock in place, and the runbook is
    * to verify the holder is dead, then [[breakLock]] and [[recover]]
    * (or just [[openChecked]], which does both under the lock).
    */
  private[sources] def withLock[T](fs: FileSystem, root: Path)(body: => T): T = {
    // maintenance ops do NOT create stores: a vacuum/purge invoked
    // with a typo'd path must fail loudly, not mkdirs an empty store
    // root and report a clean no-op (masking the operator error the
    // old java.nio path surfaced as NoSuchFileException)
    if (!isDir(fs, root))
      throw new java.io.FileNotFoundException(
        s"store root $root does not exist — maintenance ops operate on " +
          "existing stores only (appends/writes create them)")
    val lf = lockPath(root)
    val provider = LockProvider.forScheme(fs.getScheme)
    if (!provider.tryAcquire(fs, lf, Seq(
        s"${java.lang.ProcessHandle.current.pid}@${
          java.net.InetAddress.getLocalHost.getHostName} ${
          java.time.Instant.now}"))) {
      val holder = scala.util.Try(readLines(fs, lf).head).getOrElse("?")
      throw new ConcurrentMaintenanceException(
        s"store $root is locked by maintainer [$holder]; " +
          "if the holder is dead, breakLock() then recover()")
    }
    try body finally provider.release(fs, lf)
  }

  /** Remove a crashed maintainer's lock. Only call after verifying the
    * epoch's holder is no longer running. Goes through the scheme's
    * provider so an external coordinator's lease is dropped too.
    */
  def breakLock(path: String): Boolean = {
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    val lf = lockPath(root)
    val was = StoreFs.exists(fs, lf)
    LockProvider.forScheme(fs.getScheme).release(fs, lf)
    was
  }

  /** Recover-on-open: settle any crashed maintenance (under the lock,
    * so a live maintainer is never raced — its in-flight temp dirs
    * must not be discarded), then read the store. This is the reader
    * entry point after an unclean shutdown; without it a store crashed
    * mid-swap serves the pre-compact listing until someone runs
    * [[recover]] by hand.
    */
  def openChecked(spark: SparkSession, path: String): DataFrame = {
    val root = StoreFs.qualified(path)
    withLock(StoreFs.fsOf(root), root) { recover(path) }
    StoreFs.openParquet(spark, path)
  }

  private def dataFiles(fs: FileSystem, d: Path): Array[Path] =
    list(fs, d).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)

  /** Live `col=val` partition directories under `root`. Dot-prefixed
    * names are excluded explicitly: a crashed maintenance pass leaves
    * `.compact_<col>=<val>` temp dirs whose names also contain '=',
    * and reading one as a partition would double-count its rows and
    * nest `.compact_.compact_*` dirs on the next rewrite.
    */
  private def partitionDirs(fs: FileSystem, root: Path): Array[Path] =
    list(fs, root).filter(s => s.isDirectory &&
        !s.getPath.getName.startsWith(".") && s.getPath.getName.contains("="))
      .map(_.getPath)

  /** LEAF `col=val` partition directories — the dirs that actually
    * hold data files. Single-level layouts return the top-level dirs
    * unchanged; nested layouts (a=1/b=x) descend to the innermost
    * `col=val` level, so maintenance rewrites target real file sets
    * instead of silently matching nothing (the r9 purge keyed hits by
    * the file's immediate parent but only listed top-level dirs — on
    * a nested store the two never met and purge was a silent no-op).
    */
  private def leafPartitionDirs(fs: FileSystem, root: Path): Array[Path] = {
    def walk(d: Path): Array[Path] = {
      val subs = list(fs, d).filter(s => s.isDirectory &&
          !s.getPath.getName.startsWith(".") && s.getPath.getName.contains("="))
        .map(_.getPath)
      if (subs.isEmpty) Array(d) else subs.flatMap(walk)
    }
    partitionDirs(fs, root).flatMap(walk)
  }

  /** Root-relative path of a (possibly nested) partition dir, the key
    * maintenance uses to match scan hits to directories.
    */
  private def relPath(root: Path, dir: Path): String =
    dir.toUri.getPath.stripPrefix(root.toUri.getPath).stripPrefix("/")

  /** Temp-dir name for a swap of `rel` (swap dirs always live directly
    * under the root, so nested separators are %-encoded — recover
    * reverses this to find the target dir).
    */
  private def swapTmpName(rel: String): String =
    ".compact_" + rel.replace("/", "%2F")

  private def swapTargetOf(root: Path, tmpName: String): Path = {
    val rel = tmpName.stripPrefix(".compact_").replace("%2F", "/")
    // rel "." is the root itself — the flat-layout (unpartitioned)
    // swap writes straight into the store root
    if (rel == ".") root else new Path(root, rel)
  }

  /** Version-keyed retired-snapshot area under the store root.
    * Dot-prefixed, so parquet discovery and every maintenance listing
    * skip it. Layout: `.retired/v<N>/<encoded relDir>/` holds the
    * COMPLETE pre-op data files of each partition dir maintenance
    * version N rewrote, plus an `_added` sidecar naming the files the
    * op moved in — together the exact lineage [[readBefore]] replays
    * and [[vacuum]] eventually reclaims.
    *
    * Operational note: snapshots accumulate ONE VERSION PER
    * MAINTENANCE PASS until vacuumed — a streaming maintainer running
    * compactIfNeeded per wave must pair it with a SCHEDULED vacuum
    * (the Delta operating model), or retired bytes grow with batch
    * count. Snapshot size is bounded by the rewritten dirs' pre-op
    * bytes, never the corpus.
    */
  val RetiredDirName = ".retired"

  /** Rel-dir key for the store root itself (flat layouts swap "."). */
  private val RootRelKey = "_root_"

  /** Durable version high-water mark: `.retired/_hwm` survives vacuum,
    * so version numbers NEVER restart after snapshots are reclaimed —
    * [[readBefore]] uses the gap between the mark and the snapshots
    * still on disk to fail CLOSED on a vacuumed lineage instead of
    * silently serving the wrong state.
    */
  private def hwmFile(root: Path) =
    new Path(root, s"$RetiredDirName/_hwm")

  private def readHwm(fs: FileSystem, root: Path): Long =
    if (isFile(fs, hwmFile(root)))
      scala.util.Try(readLines(fs, hwmFile(root)).head.toLong).getOrElse(0L)
    else 0L

  /** Durable per-version vacuum tombstones: `.retired/_vacuumed` lists
    * every version [[vacuum]] actually reclaimed, one per line. This is
    * what lets [[readBefore]] tell a RECLAIMED version (must fail
    * closed — its lineage is gone) from a version number that was
    * allocated but never committed (a crashed pass whose temp dir
    * [[recover]] discarded — nothing landed, nothing to undo). Without
    * the distinction, a crash between allocateVersion's hwm persist and
    * the swap commit would leave a permanent hwm-vs-snapshot gap that
    * reads as 'already vacuumed' forever.
    */
  private def vacuumedFile(root: Path) =
    new Path(root, s"$RetiredDirName/_vacuumed")

  private def readVacuumed(fs: FileSystem, root: Path): Set[Long] = {
    // per-version marker files (r16) — each tombstone is ONE atomic
    // create, so a crash can never lose previously-recorded tombstones
    // (the old single-file rewrite had a truncate-then-write window: a
    // crash mid-rewrite erased EVERY tombstone, and a vacuumed version
    // then read as allocated-never-committed — readBefore would
    // silently serve a post-op state instead of failing closed)
    val markers = list(fs, new Path(root, RetiredDirName))
      .filter(s => s.isFile && s.getPath.getName.startsWith("_vacuumed_v"))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("_vacuumed_v").toLong).toOption)
      .toSet
    // legacy single-file tombstones (pre-r16 stores) still count
    val legacy =
      if (isFile(fs, vacuumedFile(root)))
        readLines(fs, vacuumedFile(root))
          .flatMap(l => scala.util.Try(l.trim.toLong).toOption).toSet
      else Set.empty[Long]
    markers ++ legacy
  }

  private def recordVacuumed(fs: FileSystem, root: Path, versions: Seq[Long]): Unit =
    versions.foreach { w =>
      writeLines(fs, new Path(root, s"$RetiredDirName/_vacuumed_v$w"), Seq(""))
    }

  /** Version-allocation lock — separate from (and much smaller than)
    * the maintenance lock: held for the microseconds it takes to read
    * the lineage max and persist the bumped high-water mark, so a
    * VERSIONED APPEND can allocate safely while a maintenance pass is
    * mid-flight without serializing behind the whole pass (the
    * log-structured "appends never wait on maintenance" contract,
    * Round10Spec-pinned). Contention waits briefly instead of
    * throwing — the hold time is bounded by two tiny file ops.
    */
  private def versionLockPath(root: Path) =
    new Path(root, ".version_lock")

  private def withVersionLock[T](fs: FileSystem, root: Path)(body: => T): T = {
    mkdirs(fs, root)
    val lf = versionLockPath(root)
    // same provider seam as the maintenance lock: on a scheme whose
    // create ignores exclusivity, version allocation would otherwise
    // double-issue numbers under concurrency — a registered
    // coordinator makes the spin a real mutex there too
    val provider = LockProvider.forScheme(fs.getScheme)
    var attempts = 0
    while (!provider.tryAcquire(fs, lf, Nil)) {
      attempts += 1
      if (attempts > 2000) // ~10 s: a crashed allocator, not contention
        throw new ConcurrentMaintenanceException(
          s"version-allocation lock $lf is stuck; if its holder is dead, " +
            "delete it (recover() also clears it)")
      Thread.sleep(5)
    }
    try body finally provider.release(fs, lf)
  }

  /** Next maintenance version: one past the max across committed
    * retired snapshots, in-flight temp dirs (a crashed pass's version
    * must never be reissued), and the durable high-water mark (a
    * vacuumed version must never be reissued either). Persists the new
    * mark. Atomic under the version-allocation lock, so maintenance
    * passes (which also hold the store lock) and lock-free versioned
    * appends can never double-issue a number.
    */
  private[sources] def allocateVersion(fs: FileSystem, root: Path): Long =
    withVersionLock(fs, root) {
      val fromRetired = versionsOf(fs, root)
      val fromTmps = list(fs, root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".compact_"))
        .flatMap { t =>
          val vf = new Path(t.getPath, "retire_version")
          if (isFile(fs, vf))
            scala.util.Try(readLines(fs, vf).head.toLong).toOption
          else None
        }
      // vacuumed tombstones also floor the allocation: the hwm file is
      // a truncate-rewrite, so a crash mid-persist can tear it to
      // unreadable (readHwm → 0) — without this, a store whose
      // snapshots were ALL vacuumed could reissue a vacuumed version
      // number and corrupt the fail-closed readBefore contract
      val v = (fromRetired ++ fromTmps ++ readVacuumed(fs, root)
        :+ readHwm(fs, root)).foldLeft(0L)(math.max) + 1
      mkdirs(fs, new Path(root, RetiredDirName))
      writeLines(fs, hwmFile(root), Seq(v.toString))
      v
    }

  /** Step 2 of the swap: the manifest of OLD files to retire plus the
    * maintenance version the retired snapshot will file under.
    */
  private def commitManifest(fs: FileSystem, tmp: Path, files: Array[Path],
                             version: Long): Unit = {
    writeLines(fs, new Path(tmp, "retire_version"), Seq(version.toString))
    writeLines(fs, new Path(tmp, "manifest"), files.map(_.getName).toSeq)
  }

  /** Step 3 of the swap, idempotent: RETIRE manifest-listed files into
    * the version's snapshot dir (never delete — [[vacuum]] reclaims
    * them past the retention horizon; until then [[readBefore]] can
    * replay the pre-op state), move rewritten files into the partition
    * dir, clear the temp dir (manifest deleted last, so a crash
    * anywhere re-runs cleanly; the `_added` lineage sidecar is written
    * first, so a partially-moved re-run never loses it). Checksum
    * sidecars travel with their files — the FileSystem layer owns
    * them now.
    */
  private def completeSwap(fs: FileSystem, pdir: Path, tmp: Path): Unit = {
    val root = tmp.getParent
    val manifest = new Path(tmp, "manifest")
    val vFile = new Path(tmp, "retire_version")
    val version =
      if (isFile(fs, vFile)) readLines(fs, vFile).head.toLong
      else allocateVersion(fs, root) // pre-versioning temp dir (recovery)
    val relKey = {
      val rel = tmp.getName.stripPrefix(".compact_")
      if (rel == ".") RootRelKey else rel
    }
    val retireDir = new Path(root, s"$RetiredDirName/v$version/$relKey")
    mkdirs(fs, retireDir)
    val addedF = new Path(retireDir, "_added")
    if (!isFile(fs, addedF))
      writeLines(fs, addedF, dataFiles(fs, tmp).map(_.getName).toSeq)
    readLines(fs, manifest).foreach { name =>
      val src = new Path(pdir, name)
      if (isFile(fs, src))
        moveReplace(fs, src, new Path(retireDir, name))
    }
    dataFiles(fs, tmp).foreach { f =>
      moveReplace(fs, f, new Path(pdir, f.getName))
    }
    list(fs, tmp).filter(_.getPath.getName != "manifest")
      .foreach(s => delete(fs, s.getPath))
    delete(fs, manifest)
    delete(fs, tmp)
  }

  /** Data-file names per rel-dir key — the same keying [[readBefore]]
    * reconstructs with: leaf partition dirs, or the root itself for
    * flat layouts.
    */
  private def listingByRelKey(fs: FileSystem, root: Path): Map[String, Set[String]] = {
    val leaves = leafPartitionDirs(fs, root)
    if (leaves.isEmpty) Map(RootRelKey -> dataFiles(fs, root).map(_.getName).toSet)
    else leaves.map(d =>
      relPath(root, d).replace("/", "%2F") -> dataFiles(fs, d).map(_.getName).toSet)
      .toMap
  }

  /** Listing scoped to the dirs an append declared it touches — the
    * O(touched-dirs) path: a store with millions of files across
    * thousands of partition dirs pays one root probe plus one listing
    * per TOUCHED dir (plus its leaf dirs, when the declared dir nests
    * further `col=val` levels — a streamed `bid=N` shard holding
    * `event_type=` subdirs), never a full-tree walk. Keys match
    * [[listingByRelKey]] ("." = the root itself for flat layouts;
    * nested leaves key by their %2F-encoded root-relative path).
    */
  private def listingOfDirs(fs: FileSystem, root: Path,
                            rels: Seq[String]): Map[String, Set[String]] = {
    // one listing per dir: partition subdirs and data files come from
    // the same listStatus array. A MIXED dir (data files beside
    // partition subdirs — legal for a declared streamed shard that
    // lands summary files next to its col= subtrees) emits its own
    // key with its files IN ADDITION to recursing, or those files
    // would silently miss the append's _added record and readBefore
    // would include them in pre-append snapshots (ADVICE r16).
    def walk(d: Path): Seq[(String, Set[String])] = {
      val entries = list(fs, d)
      val subs = entries.filter(s => s.isDirectory &&
        !s.getPath.getName.startsWith(".") && s.getPath.getName.contains("="))
      val own = entries.filter(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName).toSet
      val ownKey = relPath(root, d).replace("/", "%2F")
      if (subs.isEmpty) Seq(ownKey -> own)
      else (if (own.nonEmpty) Seq(ownKey -> own) else Nil) ++
        subs.toSeq.flatMap(s => walk(s.getPath))
    }
    rels.distinct.flatMap { rel =>
      if (rel == ".")
        Seq(RootRelKey -> dataFiles(fs, root).map(_.getName).toSet)
      else walk(new Path(root, rel))
    }.toMap
  }

  /** Files that maintenance versions in `vers` moved INTO the live
    * tree (their per-dir `_added` sidecars), keyed like
    * [[listingByRelKey]]. versionedAppend subtracts these from its
    * own diff when a maintenance pass committed a swap between its
    * two listings — without the subtraction, the swap's output file
    * lands in the APPEND's `_added` manifest while the files it
    * replaced are recorded nowhere, and readBefore(appendVersion)
    * would drop the compacted file without restoring its inputs,
    * silently losing pre-existing rows from the snapshot.
    */
  private def addedByVersions(fs: FileSystem, root: Path,
                              vers: Set[Long]): Map[String, Set[String]] =
    vers.toSeq.flatMap { w =>
      list(fs, new Path(root, s"$RetiredDirName/v$w"))
        .filter(s => s.isDirectory && (s.getPath.getName == RootRelKey ||
          !s.getPath.getName.startsWith("_")))
        .map { rdir =>
          val addedF = new Path(rdir.getPath, "_added")
          rdir.getPath.getName ->
            (if (isFile(fs, addedF)) readLines(fs, addedF).toSet
             else Set.empty[String])
        }
    }.groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2).toSet }

  /** Version an APPEND: run `write` (the caller's dynamic-partition or
    * flat append into `path`), then record the files it created in an
    * `_added`-only retired version — no data moves, just a manifest —
    * so [[readBefore]] is exact across appends too (it already drops
    * `_added`-named files when undoing a version; an append version
    * simply has nothing to restore). This closes the documented
    * append caveat: time travel is full table-state travel, not just
    * maintenance-lineage travel.
    *
    * `touched` (optional, lazy): the root-relative partition dirs the
    * write lands in (e.g. `Seq("band0=3", "band0=7")`, or `Seq(".")`
    * for a flat store). When supplied, the before/after diff lists
    * ONLY those dirs — O(touched dirs), not O(total files) — which is
    * the difference between an append and a full-store walk on a
    * million-file store. When empty, the diff walks the whole tree
    * (exact for any writer, the conservative default).
    *
    * Contracts: appends assume a SINGLE WRITER per store (the
    * maintainers' existing exactly-once-wave model) and stay
    * LOCK-FREE with respect to the maintenance lock — an append never
    * waits on (or fails under) a live maintenance pass, exactly as
    * before versioning (Round10Spec pins appends landing while the
    * store lock is held). A maintenance swap committing between the
    * two listings is detected by version-dir diff and its `_added`
    * files are excluded from the append's record (see
    * [[addedByVersions]]), so the two stay correct under concurrency.
    * Version numbers still never collide: the allocation itself is
    * atomic under the tiny version-allocation lock shared with
    * maintenance passes. The record is staged under a dot-dir and
    * landed with ONE atomic rename, so a crash mid-record never
    * leaves a torn version — a crash between the data write and the
    * record leaves a legacy UNVERSIONED append (included in every
    * snapshot read, the documented pre-r14 semantics). Returns the
    * version, or 0 when nothing was recorded: a no-op append burns no
    * version, and a write into an empty/absent root is store
    * CREATION, not an append — there is no pre-append state to travel
    * back to.
    */
  def versionedAppend(path: String, touched: => Seq[String] = Nil)
                     (write: => Unit): Long = {
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    val rootEntries = list(fs, root)
    // cheap top-level probe: any live partition dir or root data file
    // means a pre-append state exists to travel back to
    val preExisting = rootEntries.exists { s =>
      val n = s.getPath.getName
      (s.isDirectory && !n.startsWith(".") && n.contains("=")) ||
        (s.isFile && n.endsWith(".parquet"))
    }
    val scope: Seq[String] = if (preExisting) touched else Nil
    val before =
      if (!preExisting) Map.empty[String, Set[String]]
      else if (scope.nonEmpty) listingOfDirs(fs, root, scope)
      else listingByRelKey(fs, root)
    val preVers = if (preExisting) versionsOf(fs, root).toSet else Set.empty[Long]
    write
    if (!preExisting) return 0L
    val (after, beforeAdj) =
      if (scope.nonEmpty) {
        // validate the declaration (ADVICE r15): scoped mode trusts the
        // caller's touched dirs, so a write landing a NEW top-level
        // partition dir (or new root data files) OUTSIDE the declared
        // scope would silently vanish from the version's _added record
        // and readBefore(v) would silently include post-append rows.
        // One extra root listing (O(dirs), not O(files)) detects both
        // cases and widens the diff to cover them EXACTLY — a new dir
        // has no pre-append state, and new root files diff against the
        // already-fetched rootEntries. The residual (undetectable at
        // O(dirs)): files landing in an EXISTING undeclared dir.
        val postRoot = list(fs, root)
        val preNames = rootEntries.map(_.getPath.getName).toSet
        val coveredTops = scope.map(_.split('/').head).toSet
        val newTops = postRoot.filter { s =>
          val n = s.getPath.getName
          s.isDirectory && n.contains("=") && !n.startsWith(".") &&
            !preNames.contains(n) && !coveredTops.contains(n)
        }.map(_.getPath.getName).toSeq
        val newRootFiles = !scope.contains(".") && postRoot.exists { s =>
          val n = s.getPath.getName
          s.isFile && n.endsWith(".parquet") && !preNames.contains(n)
        }
        val extra = newTops ++ (if (newRootFiles) Seq(".") else Nil)
        val b2 =
          if (newRootFiles)
            before + (RootRelKey -> rootEntries.filter(s =>
              s.isFile && s.getPath.getName.endsWith(".parquet"))
              .map(_.getPath.getName).toSet)
          else before
        (listingOfDirs(fs, root, scope ++ extra), b2)
      } else (listingByRelKey(fs, root), before)
    // subtract files a concurrent maintenance version swapped in
    val swapped = addedByVersions(fs, root, versionsOf(fs, root).toSet -- preVers)
    val added = after.toSeq.sortBy(_._1).flatMap { case (k, files) =>
      val a = files -- beforeAdj.getOrElse(k, Set.empty) -- swapped.getOrElse(k, Set.empty)
      if (a.isEmpty) None else Some(k -> a)
    }
    if (added.isEmpty) return 0L
    val v = allocateVersion(fs, root)
    val tmp = new Path(root, s"$RetiredDirName/.v$v.tmp")
    added.foreach { case (k, files) =>
      val d = new Path(tmp, k)
      mkdirs(fs, d)
      writeLines(fs, new Path(d, "_added"), files.toSeq.sorted)
    }
    renameOrThrow(fs, tmp, new Path(root, s"$RetiredDirName/v$v"))
    v
  }

  /** Drop a monitored store's drift-reference sidecar — every retrain
    * must call this: the `.driftstats` assignment histogram was taken
    * under the OLD centroids, and PSI against a mismatched baseline
    * would false-flag every later wave. The per-wave monitor
    * re-bootstraps its baseline from the first wave after the retrain
    * (its documented outside-written-store path).
    */
  private[sources] def invalidateDriftBaseline(path: String): Unit =
    rmTree(s"$path.driftstats") // parquet dir, not a file

  private def versionsOf(fs: FileSystem, root: Path): Seq[Long] =
    list(fs, new Path(root, RetiredDirName))
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toLong).sorted.toSeq

  /** Committed maintenance versions with a retired snapshot still on
    * disk, ascending — the store's replayable lineage.
    */
  def versions(path: String): Seq[Long] = {
    val root = StoreFs.qualified(path)
    versionsOf(StoreFs.fsOf(root), root)
  }

  /** Snapshot read over the manifest lineage: the store's data rows as
    * they stood BEFORE maintenance version `version` landed — the
    * pre-purge audit read (the right-to-be-forgotten counterpart
    * auditors ask for), served entirely from files still on disk.
    * Reconstruction walks versions ≥ `version` newest-first, undoing
    * each op per partition dir: drop the files its `_added` sidecar
    * names, restore its retired files. Exact for maintenance ops AND
    * for index-store appends (versioned since r14 via
    * [[versionedAppend]] — an append version drops its `_added` files
    * and restores nothing), so this is full table-state travel. The
    * residual caveats: a pre-r14 append and an append whose version
    * record was lost to a crash (versionedAppend's documented window)
    * are included in every snapshot. The additive shard stores
    * (rate/kmv/bloom/bitmap/span) version their streamed appends too
    * since r16 — their serving reads are re-aggregations over shards,
    * so "before wave N" means "the aggregate the store served before
    * wave N landed", reconstructed by [[readBeforeWithPartitions]]
    * (their layouts carry partition columns, which the flat file-list
    * read here drops).
    * Assumes a SETTLED store: after an unclean shutdown run
    * [[recover]] (or [[openChecked]]) first, as any reader must — an
    * unfinished committed swap's rows live in its temp dir, which this
    * reconstruction (like live discovery) does not read.
    * Returns DATA columns only: snapshot files are read directly, so
    * `col=val` partition-derived columns don't re-attach (every store
    * keys rows by id, which is what an audit read joins on). Fails
    * when [[vacuum]] already reclaimed a needed snapshot.
    */
  def readBefore(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.parquet(snapshotFiles(path, version, forbidRetired = false): _*)

  /** Snapshot read that RE-ATTACHES `col=val` partition columns —
    * legal only when the reconstruction touches NO retired files (a
    * pure APPEND lineage at and past `version`): every snapshot file
    * is then still live at its original partition path, so Spark's
    * basePath discovery re-derives the partition columns the flat
    * [[readBefore]] cannot. The additive shard stores (rate / kmv /
    * bloom / bitmap / span — the r15 time-travel exclusion, closed
    * r16) are exactly this shape: versioned appends, no rewriting
    * maintenance, partition-column-carrying layouts. Fails loudly
    * when any replayed version carries retired files — use
    * [[readBefore]] there.
    */
  def readBeforeWithPartitions(spark: SparkSession, path: String,
                               version: Long): DataFrame =
    spark.read.option("basePath", StoreFs.qualified(path).toString)
      .parquet(snapshotFiles(path, version, forbidRetired = true): _*)

  /** The lineage reconstruction both snapshot readers share: live
    * files per rel-dir key, then versions ≥ `version` newest-first,
    * undoing each op (drop its `_added` files, restore its retired
    * files).
    *
    * Fails CLOSED on a reclaimed lineage: a TOMBSTONED version at or
    * past the requested point fails the read even if its snapshot dir
    * still exists — the tombstone lands BEFORE the reclaim delete, so
    * a dir surviving its own tombstone is the vacuum crash window,
    * possibly HALF-deleted, and reconstructing from it would silently
    * restore a partial pre-op state (r16, FaultFs-staged). Keying off
    * the tombstones alone (not the hwm range) also survives a torn
    * `_hwm` rewrite. A version number missing WITHOUT a tombstone was
    * allocated and never committed (recover() discarded its temp
    * dir) — nothing landed under it, so it cannot block the read.
    */
  private def snapshotFiles(path: String, version: Long,
                            forbidRetired: Boolean): Seq[String] = {
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    val vacuumed = readVacuumed(fs, root).filter(_ >= math.max(version, 1L))
      .toSeq.sorted
    require(vacuumed.isEmpty,
      s"snapshot(s) v${vacuumed.mkString(",v")} already vacuumed under $path — " +
        s"read-before-v$version is no longer reconstructible")
    val live = scala.collection.mutable.Map.empty[String, Set[Path]]
    val leaves = leafPartitionDirs(fs, root)
    if (leaves.isEmpty) live(RootRelKey) = dataFiles(fs, root).toSet
    else leaves.foreach { d =>
      live(relPath(root, d).replace("/", "%2F")) = dataFiles(fs, d).toSet
    }
    versionsOf(fs, root).filter(_ >= version).sorted.reverse.foreach { w =>
      val vdir = new Path(root, s"$RetiredDirName/v$w")
      list(fs, vdir)
        // _-prefixed dirs are non-data lineage artifacts, not partition
        // dirs — EXCEPT the flat-layout key itself (`_root_`), whose
        // snapshots retire the store root's own files (r15 fix: the
        // old filter silently skipped every flat-store version, so
        // readBefore on a flat root — stats shards, BQ/PQ code
        // tables — served the post-op state)
        .filter(s => s.isDirectory && (s.getPath.getName == RootRelKey ||
          !s.getPath.getName.startsWith("_")))
        .foreach { rs =>
          val rdir = rs.getPath
          val retired = dataFiles(fs, rdir)
          require(!forbidRetired || retired.isEmpty,
            s"version v$w under $path retired data files — a " +
              "partition-attached snapshot read needs a pure append " +
              "lineage; use readBefore")
          val addedF = new Path(rdir, "_added")
          val added: Set[String] =
            if (isFile(fs, addedF)) readLines(fs, addedF).toSet
            else Set.empty
          val cur = live.getOrElse(rdir.getName, Set.empty[Path])
          live(rdir.getName) =
            cur.filterNot(f => added.contains(f.getName)) ++ retired
        }
    }
    val files = live.values.flatten.map(_.toString).toSeq.sorted
    require(files.nonEmpty,
      s"no snapshot files for read-before-v$version under $path " +
        "(vacuumed past the horizon?)")
    files
  }

  /** Recursive delete of a store artifact by path (missing = no-op). */
  private[graft] def rmTree(path: String): Unit = {
    val p = StoreFs.qualified(path)
    delete(StoreFs.fsOf(p), p); ()
  }

  /** Default vacuum retention floor (the Delta default: 7 days). */
  val DefaultMinRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** The Delta-VACUUM analog: delete retired snapshot versions older
    * than the retention horizon, REFUSE a horizon under the
    * `minRetentionMs` floor unless forced — a snapshot reader
    * ([[readBefore]]) planned inside the horizon must find its files.
    * Age is the version dir's mtime (stamped when its last swap
    * completed). Runs under the maintenance lock, so it never races a
    * pass that is mid-retire. Returns (versions deleted, kept).
    */
  /** Opportunistic vacuum for streaming maintainers — the
    * [[compactIfNeeded]] recipe applied to snapshot retention: a
    * LOCK-FREE directory listing decides whether any retired version
    * has aged past the horizon, and returns None without taking the
    * lock otherwise. A per-wave caller pays one listing in steady
    * state and never contends with a live maintenance pass; when
    * versions age out, the real [[vacuum]] runs under the lock. This
    * is the scheduled-vacuum half of the retire-not-delete operating
    * model (the snapshot debt of per-wave compaction is bounded BY
    * CONSTRUCTION instead of by somebody remembering a nightly job).
    */
  def vacuumIfAged(path: String, retentionMs: Long,
                   minRetentionMs: Long = DefaultMinRetentionMs,
                   force: Boolean = false): Option[(Int, Int)] = {
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    val cutoff = System.currentTimeMillis() - retentionMs
    // <=, not <: with retentionMs=0 a version stamped this very
    // millisecond must already count as aged, or forced-zero-retention
    // callers (gates, tests) flake on mtime granularity
    val aged = versionsOf(fs, root).exists(w =>
      mtime(fs, new Path(root, s"$RetiredDirName/v$w")) <= cutoff)
    if (!aged) None
    else Some(vacuum(path, retentionMs, minRetentionMs, force))
  }

  def vacuum(path: String, retentionMs: Long,
             minRetentionMs: Long = DefaultMinRetentionMs,
             force: Boolean = false): (Int, Int) = {
    require(retentionMs >= 0, "retention must be non-negative")
    if (retentionMs < minRetentionMs && !force)
      throw new IllegalArgumentException(
        s"vacuum retention ${retentionMs}ms is under the ${minRetentionMs}ms " +
          "floor; an in-flight snapshot read inside the horizon would lose " +
          "its files — pass force=true only when no readers can be active")
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    withLock(fs, root) {
      val cutoff = System.currentTimeMillis() - retentionMs
      var deleted = 0
      var kept = 0
      versionsOf(fs, root).foreach { w =>
        val vdir = new Path(root, s"$RetiredDirName/v$w")
        // <= so a zero horizon reclaims a version stamped this same
        // millisecond (coarse fs mtime granularity widens that window)
        if (mtime(fs, vdir) <= cutoff) {
          // tombstone FIRST: if the delete below is interrupted, a
          // half-deleted snapshot must already read as vacuumed
          recordVacuumed(fs, root, Seq(w))
          delete(fs, vdir); deleted += 1
        }
        else kept += 1
      }
      (deleted, kept)
    }
  }

  /** Staging root for [[rewriteLayout]]'s one-job whole-layout write.
    * Dot-prefixed: invisible to parquet discovery and every listing.
    */
  private val StageDirName = ".rewrite_stage"

  /** Finish or discard interrupted compactions under `path` — see the
    * crash-consistency contract above. Returns (swaps completed,
    * uncommitted temp dirs discarded).
    *
    * Group commits: a root-level `.commit_group_<v>` marker names temp
    * dirs that commit AS A UNIT ([[rewriteLayout]]'s single commit
    * point — its members deliberately carry no per-dir _SUCCESS, so
    * before the marker lands a crash discards them all, and after it
    * lands a crash completes them all; no partial layout is ever
    * reachable). Marker members are completed here even without
    * _SUCCESS; leftover markers and the staging dir are cleared last.
    */
  def recover(path: String): (Int, Int) = {
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    val entries = list(fs, root)
    val markers = entries
      .filter(s => s.isFile && s.getPath.getName.startsWith(".commit_group_"))
      .map(_.getPath)
    val grouped: Set[String] =
      markers.flatMap(m => readLines(fs, m)).toSet
    val tmps = entries
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".compact_"))
      .map(_.getPath)
    var completed = 0
    var discarded = 0
    tmps.foreach { tmp =>
      val committed = (isFile(fs, new Path(tmp, "_SUCCESS")) ||
          grouped.contains(tmp.getName)) &&
        isFile(fs, new Path(tmp, "manifest"))
      if (committed) {
        completeSwap(fs, swapTargetOf(root, tmp.getName), tmp)
        completed += 1
      } else {
        delete(fs, tmp)
        discarded += 1
      }
    }
    markers.foreach(m => delete(fs, m))
    val stage = new Path(root, StageDirName)
    delete(fs, stage) // pre-commit rewrite crash leftover (missing = no-op)
    // a crashed versionedAppend record leaves a staged `.v<N>.tmp`
    // under .retired — never committed (the rename is the commit
    // point), so discard; the append's data stands, unversioned.
    // Object-store hardening (r16): on a copy+delete rename (S3A), a
    // crash mid-rename leaves the staged src AND a possibly-PARTIAL
    // `v<N>` dst — a committed-looking record that cannot be trusted
    // (its _added manifests may be missing, and readBefore(N) would
    // silently include post-append rows). The src surviving IS the
    // tell (an atomic rename never leaves both): drop the dst too,
    // settling to the same documented outcome — append unversioned.
    list(fs, new Path(root, RetiredDirName))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".v") &&
        s.getPath.getName.endsWith(".tmp"))
      .foreach { s =>
        val committed = new Path(root,
          s"$RetiredDirName/${s.getPath.getName.stripPrefix(".").stripSuffix(".tmp")}")
        if (isDir(fs, committed)) delete(fs, committed)
        delete(fs, s.getPath)
      }
    // a crashed allocator's stale version lock (recover's runbook
    // precondition — no live maintainer/appender — makes this safe)
    delete(fs, versionLockPath(root))
    (completed, discarded)
  }

  /** Rewrite every `col=val` partition directory under `path` that has
    * more than `targetFiles` data files down to `targetFiles`, via the
    * crash-consistent swap documented above. Returns (files before,
    * files after).
    *
    * `recluster`: for stores whose file-level pruning relies on a
    * sorted data column (the MIH store's bval zone maps), a plain
    * coalesce would merge appended files into one with a full-range
    * min/max — pass the column name and the rewrite range-partitions +
    * sorts on it instead, restoring tight per-file stats.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1,
              recluster: Option[String] = None): (Int, Int) =
    // a reclustering rewrite must run even when the dir is already at
    // targetFiles: few-but-unsorted appended files carry full-range
    // zone maps, and restoring tight per-file stats is the point
    rewritePartitions(spark, path,
      n => n > targetFiles || (recluster.isDefined && n > 0),
      reshaped(_, targetFiles, recluster))

  /** `rows` as `n` files: range-partitioned and sorted on the recluster
    * column (tight per-file zone maps), else coalesced.
    */
  private def reshaped(rows: DataFrame, n: Int, recluster: Option[String]): DataFrame =
    recluster match {
      case Some(c) => rows.repartitionByRange(n, col(c)).sortWithinPartitions(c)
      case None => rows.coalesce(n)
    }

  /** Opportunistic maintenance for streaming maintainers: compact only
    * when some leaf partition dir holds more than `maxFiles` data
    * files (or a crashed maintainer left a swap temp dir to settle),
    * and return None WITHOUT taking the maintenance lock otherwise. An
    * AvailableNow maintainer calls this after every ingest wave: the
    * steady-state cost is one directory listing — no lock, no Spark
    * job — so a maintainer polling every batch never contends with a
    * real maintenance pass, and the small-file debt of log-structured
    * appends is bounded at maxFiles per dir BY CONSTRUCTION instead of
    * by somebody remembering a nightly compact. When the threshold
    * trips, only the offending dirs rewrite (to `targetFiles` each)
    * under the usual lock + crash-consistent swap; at 100 TB that is
    * one pass over the handful of dirs the last waves touched, never
    * the store. Note the deliberate asymmetry with [[compact]]: the
    * trigger is `> maxFiles` but the rewrite target is `targetFiles`,
    * so after a trip the dir has maxFiles − targetFiles appends of
    * headroom before the next rewrite (trigger == target would rewrite
    * the dir on every single append past the line — quadratic I/O).
    */
  def compactIfNeeded(spark: SparkSession, path: String, maxFiles: Int,
                      targetFiles: Int = 1,
                      recluster: Option[String] = None): Option[(Int, Int)] = {
    require(maxFiles >= targetFiles,
      s"maxFiles ($maxFiles) must be >= targetFiles ($targetFiles)")
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    val leafDirs = leafPartitionDirs(fs, root)
    // flat (unpartitioned) layouts — BqIndexStore's code table,
    // PqIndexStore's .codes sidecar — have no col=val dirs: their
    // debt is counted at the root, or the "bounded BY CONSTRUCTION"
    // contract would silently not hold for exactly the stores
    // purgeFiles exists for
    val flatDirty = leafDirs.isEmpty && dataFiles(fs, root).length > maxFiles
    val dirty = flatDirty || leafDirs.exists(d => dataFiles(fs, d).length > maxFiles)
    val crashed = list(fs, root)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith(".compact_"))
    if (!dirty && !crashed) None
    else if (flatDirty) Some(withLock(fs, root) {
      recover(path)
      val version = allocateVersion(fs, root)
      val files = dataFiles(fs, root)
      val shaped = reshaped(spark.read.parquet(root.toString), targetFiles, recluster)
      // same crash-consistent root swap as purgeFiles (`.compact_.`)
      val tmp = new Path(root, swapTmpName("."))
      shaped.write.mode("overwrite").parquet(tmp.toString)
      commitManifest(fs, tmp, files, version)
      completeSwap(fs, root, tmp)
      (files.length, dataFiles(fs, root).length)
    })
    else Some(rewritePartitions(spark, path, n => n > maxFiles,
      reshaped(_, targetFiles, recluster)))
  }

  /** Targeted delete-by-key for the partitioned stores — the
    * right-to-be-forgotten / takedown path every production index
    * needs (faiss remove_ids, Delta DELETE). Rewrites ONLY the
    * partition dirs that actually contain one of `ids`, dropping
    * those rows through the same crash-consistent temp-dir + manifest
    * swap as [[compact]] ([[recover]] applies unchanged, and runs
    * first so leftover temp dirs are settled before discovery). Hit
    * discovery is a SINGLE pushed-down scan of the id column across
    * the whole store grouped by partition directory — O(1) Spark jobs
    * however many partitions exist — and row-group stats keep
    * untouched partitions at a footer read; only hit directories are
    * rewritten. Pass `recluster` for stores whose file pruning
    * relies on a sorted data column (compact's recluster rule);
    * otherwise the rewrite keeps the dir's file count. Returns
    * (partitions rewritten, rows removed).
    *
    * Crash contract (FaultFs-staged, r16): each dir's swap is atomic,
    * but the pass over hit dirs is sequential — a crash mid-pass
    * leaves a PREFIX of dirs purged (never a torn dir, never
    * duplication). recover() settles the in-flight dir and a re-run
    * purges the rest; all swapped dirs share ONE version, so
    * readBefore(v) replays the full pre-purge state of everything
    * that did swap. Ops needing all-or-nothing semantics across dirs
    * use [[rewriteLayout]]'s group commit instead.
    */
  def purge(spark: SparkSession, path: String, idCol: String, ids: Seq[Any],
            recluster: Option[String] = None): (Int, Long) = {
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    withLock(fs, root) {
    // finish or discard any interrupted swap first: a leftover
    // .compact_* temp dir must never be read as a live partition
    // (safe here: the lock excludes any other maintainer's in-flight
    // temp dirs)
    recover(path)
    val parts = leafPartitionDirs(fs, root).filter(d => dataFiles(fs, d).nonEmpty)
    if (parts.isEmpty || ids.isEmpty) return (0, 0L)
    // Discovery is ONE Spark job over the whole store, not one count()
    // per directory: the IN predicate pushes to parquet (row-group
    // stats keep untouched partitions at a footer read), the scan
    // prunes to the id column, and the hits key by their partition
    // directory's root-relative path (nested layouts included). A
    // store with thousands of partition dirs (MIH blk buckets, a year
    // of day= dirs) pays O(1) scheduling overhead for discovery
    // instead of thousands of sequential ~100 ms jobs.
    val hitRows = hitsByRelDir(
      spark.read.parquet(parts.map(_.toString): _*), root, idCol, ids)
    // lazy: a no-op pass (no hits) must not burn a version number —
    // readBefore fails closed on any allocated-but-snapshotless version
    lazy val version = allocateVersion(fs, root)
    var rewritten = 0
    var removed = 0L
    parts.foreach { pdir =>
      val rel = relPath(root, pdir)
      if (hitRows.contains(rel)) {
        val files = dataFiles(fs, pdir)
        val shaped = reshaped(spark.read.parquet(pdir.toString)
          .where(!col(idCol).isin(ids: _*)), files.length, recluster)
        val tmp = new Path(root, swapTmpName(rel))
        shaped.write.mode("overwrite").parquet(tmp.toString)
        commitManifest(fs, tmp, files, version)
        completeSwap(fs, pdir, tmp)
        rewritten += 1
        removed += hitRows(rel)
      }
    }
    (rewritten, removed)
    }
  }

  /** THE discovery scan both purge flavors share: one pushed-down job
    * over `scan` (the IN predicate reaches parquet; row-group stats
    * keep clean files at a footer read), victim-row counts per FILE
    * URI. input_file_name is a URI — percent-encoded — while listings
    * see raw names, so each row carries the raw AND decoded spelling
    * ('+' protected: it is a literal plus in a file path, not a
    * space). Dir-keyed (purge) and basename-keyed (purgeFiles) maps
    * both derive from this — the subtle decoding lives once.
    */
  private def hitUris(scan: DataFrame, idCol: String,
                      ids: Seq[Any]): Array[(String, String, Long)] =
    scan.where(col(idCol).isin(ids: _*))
      .select(input_file_name().as("f"))
      .groupBy("f").agg(count(lit(1)).as("hits"))
      .collect().map { r =>
        val raw = r.getString(0)
        val dec = scala.util.Try(
          java.net.URLDecoder.decode(raw.replace("+", "%2B"), "UTF-8")).getOrElse(raw)
        (raw, dec, r.getLong(1))
      }

  /** Hit rows per store directory, keyed by root-relative dir path;
    * covers both URI spellings of each file (distinct per file so the
    * two spellings never double-count).
    */
  private def hitsByRelDir(scan: DataFrame, root: Path,
                           idCol: String, ids: Seq[Any]): Map[String, Long] = {
    val rootAbs = root.toUri.getPath
    hitUris(scan, idCol, ids).flatMap { case (raw, dec, hits) =>
      Seq(raw, dec).flatMap { u =>
        val i = u.indexOf(rootAbs)
        if (i < 0) None
        else {
          val rel = u.substring(i + rootAbs.length).stripPrefix("/")
          val cut = rel.lastIndexOf('/')
          // a file directly under the root (flat layout) keys as "."
          Some(if (cut < 0) "." else rel.substring(0, cut))
        }
      }.distinct.map(_ -> hits)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
  }

  /** The generic crash-consistent partition rewrite behind [[compact]]
    * and the curation stores' merge-compacts: for each `col=val` dir
    * whose data-file count satisfies `shouldRewrite`, replace its
    * contents with `shaper(rows)` via the temp-dir + manifest swap.
    * `shaper` must be semantics-preserving for the store's reader
    * (coalesce, recluster, or an idempotent re-merge). Returns (files
    * before, files after).
    */
  private[sources] def rewritePartitions(spark: SparkSession, path: String,
      shouldRewrite: Int => Boolean,
      shaper: DataFrame => DataFrame): (Int, Int) = {
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    withLock(fs, root) {
    // settle any crashed maintainer's swap BEFORE rewriting (mirrors
    // purge): a committed-but-unswapped .compact_* temp dir holds the
    // only copy of already-retired rows, and writing this pass's
    // rewrite over the same temp path would destroy it
    recover(path)
    lazy val version = allocateVersion(fs, root) // lazy: see purge
    val parts = leafPartitionDirs(fs, root)
    var before = 0
    var after = 0
    // Overlap the per-dir REWRITE JOBS (independent Spark writes into
    // disjoint temp dirs — each is a tiny job paying a full driver
    // round-trip the others can hide), while the COMMIT sequence
    // (manifest, then swap, dir by dir in listing order) stays exactly
    // the serial protocol: a crash mid-pass now leaves some complete-
    // but-unmanifested temps where it used to leave none, and recover
    // discards those as before (no manifest = never committed) — the
    // per-dir-atomic / re-run-converges contract is unchanged.
    val planned = parts.map { pdir => (pdir, dataFiles(fs, pdir)) }
    planned.foreach { case (_, files) => before += files.length }
    val rewrites = planned.filter { case (_, files) => shouldRewrite(files.length) }
    val written = StoreLayout.concurrently(rewrites.toSeq.map {
      case (pdir, files) => () => {
        val tmp = new Path(root, swapTmpName(relPath(root, pdir)))
        shaper(spark.read.parquet(pdir.toString))
          .write.mode("overwrite").parquet(tmp.toString)
        (pdir, files, tmp)
      }
    })
    written.foreach { case (pdir, files, tmp) =>
      // manifest AFTER the rewrite committed: its presence tells
      // recovery the temp contents are complete and authoritative
      commitManifest(fs, tmp, files, version)
      completeSwap(fs, pdir, tmp)
      after += dataFiles(fs, pdir).length
    }
    planned.foreach { case (_, files) =>
      if (!shouldRewrite(files.length)) after += files.length
    }
    (before, after)
    }
  }

  /** Whole-layout rewrite under a NEW partition assignment — the
    * machinery behind index RETRAINING, where rows move BETWEEN
    * `col=val` partition dirs (re-assignment under a retrained model),
    * which the per-dir [[rewritePartitions]] swap cannot express.
    *
    * `rows` is the full new row set, which must carry
    * `partitionCol`. It is evaluated under the lock after recovery
    * settled the store, so a reshape of the store's own rows (the IVF
    * retrain re-assigns its stored vectors) reads the settled layout.
    *
    * Crash contract — ATOMIC, unlike a multi-dir rewritePartitions
    * pass: the new layout writes in ONE Spark job to a dot-prefixed
    * staging root, per-dir swap temps are prepared WITHOUT their
    * _SUCCESS marker (so a crash discards them all), and the single
    * commit point is one `.commit_group_<v>` marker file naming every
    * member — after it lands, [[recover]] completes every member swap;
    * before it, recover discards them and the store is untouched. All
    * old files of every dir retire under ONE version, so
    * [[readBefore]](v) replays the complete pre-rewrite layout.
    * Returns (partition dirs swapped, version).
    */
  private[sources] def rewriteLayout(spark: SparkSession, path: String,
      partitionCol: String)(rows: => DataFrame): (Int, Long) = {
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    withLock(fs, root) {
    recover(path)
    val version = allocateVersion(fs, root)
    val stage = new Path(root, StageDirName)
    val oldDirs = leafPartitionDirs(fs, root).filter(d => dataFiles(fs, d).nonEmpty)
    require(oldDirs.forall(_.getParent == root),
      "rewriteLayout supports single-level col=val layouts only")
    require(dataFiles(fs, root).isEmpty,
      "rewriteLayout requires a partitioned layout (no root-level data files)")
    StoreLayout.clustered(rows, partitionCol)
      .write.mode("overwrite").partitionBy(partitionCol)
      .parquet(stage.toString)
    val newDirs = list(fs, stage)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath)
    val rels = (newDirs.map(_.getName) ++ oldDirs.map(d => relPath(root, d))).distinct
    val tmps = rels.map { rel =>
      val tmp = new Path(root, swapTmpName(rel))
      delete(fs, tmp); mkdirs(fs, tmp)
      val staged = new Path(stage, rel)
      if (isDir(fs, staged)) dataFiles(fs, staged).foreach { f =>
        moveReplace(fs, f, new Path(tmp, f.getName))
      }
      val pdir = new Path(root, rel)
      commitManifest(fs, tmp,
        if (isDir(fs, pdir)) dataFiles(fs, pdir) else Array.empty, version)
      tmp
    }
    val marker = new Path(root, s".commit_group_$version")
    writeLines(fs, marker, tmps.map(_.getName).toSeq)
    tmps.foreach { tmp =>
      val pdir = swapTargetOf(root, tmp.getName)
      mkdirs(fs, pdir)
      completeSwap(fs, pdir, tmp)
    }
    delete(fs, marker)
    delete(fs, stage)
    (rels.length, version)
    }
  }

  /** Delete-by-key for UNPARTITIONED (flat-layout) stores — the purge
    * analog for stores whose files sit directly under the root with no
    * `col=val` directories (BqIndexStore's code table, PqIndexStore's
    * .codes sidecar). Same single-scan discovery (the IN predicate
    * pushes to parquet, row-group stats keep clean files at a footer
    * read), but hits key by FILE: only the files that actually contain
    * a victim row are rewritten — filtered and re-written through the
    * crash-consistent temp-dir + manifest swap targeting the root
    * itself (swap dir `.compact_.`; [[recover]] resolves it back to
    * the root) — while untouched files stay byte-identical. Returns
    * (files rewritten, rows removed); idempotent — a re-purge of the
    * same ids finds no hits and rewrites nothing.
    */
  def purgeFiles(spark: SparkSession, path: String, idCol: String,
                 ids: Seq[Any]): (Int, Long) = {
    val root = StoreFs.qualified(path)
    val fs = StoreFs.fsOf(root)
    withLock(fs, root) {
    recover(path)
    val files = dataFiles(fs, root)
    if (files.isEmpty || ids.isEmpty) return (0, 0L)
    // ONE pushed-down discovery scan (shared core), keyed by decoded
    // file basename — flat layout, so basenames are unique
    val perFile: Map[String, Long] =
      hitUris(spark.read.parquet(root.toString), idCol, ids)
        .map { case (_, dec, hits) =>
          dec.substring(dec.lastIndexOf('/') + 1) -> hits
        }.toMap
    val hitCount = perFile.values.sum
    val victims = files.filter(f => perFile.contains(f.getName))
    if (victims.isEmpty) return (0, 0L)
    val keep = spark.read.parquet(victims.map(_.toString): _*)
      .where(!col(idCol).isin(ids: _*))
    val tmp = new Path(root, swapTmpName("."))
    keep.coalesce(victims.length).write.mode("overwrite").parquet(tmp.toString)
    commitManifest(fs, tmp, victims, allocateVersion(fs, root))
    completeSwap(fs, root, tmp)
    (victims.length, hitCount)
    }
  }
}

/** The write / append / retrain path the three coarse-quantized
  * stores (IVF, IVF-PQ, IVF-BQ) share: assign prepared (vec_id, v,
  * nrm, …) vectors to their nearest list under the model's centroids,
  * apply the tier's encode (raw rows, PQ codes, or sign words — a
  * function of the assigned frame that keeps `cid`), cluster by
  * `cid`, land the rows, then write the model file. The searches stay
  * per tier.
  */
private[sources] object CoarseStore {
  import graft.operators.Knn

  /** Where the rows land. */
  sealed trait Sink
  /** A fresh store: overwrite the list layout, then write the model. */
  case object Overwrite extends Sink
  /** faiss add(): a versioned dynamic-partition append under the
    * frozen model, whose file is left as it is.
    */
  case object Append extends Sink
  /** Retrain: [[StoreMaintenance.rewriteLayout]]'s group-committed
    * swap of the whole layout; the pre-retrain model file retires
    * under the swap's version before the retrained model lands.
    */
  final case class Relayout(spark: SparkSession) extends Sink

  /** Land `vectors` under `model` into `sink`; returns the version the
    * op filed under (an append's or a relayout's; 0 for an overwrite).
    * `vectors` is evaluated where the rows are built — under the
    * maintenance lock for a relayout. The model file lands after the
    * data commit: a crash between the two leaves a store that serves
    * the old model until the op is re-run (training is deterministic,
    * so a re-run converges).
    */
  def persist(path: String, sink: Sink, model: ModelFile.Model,
              encode: DataFrame => DataFrame)(vectors: => DataFrame): Long = {
    val centroids = model.coarse
    def rows = encode(Knn.withCid(vectors, centroids))
    sink match {
      case Overwrite =>
        StoreLayout.clustered(rows, "cid")
          .write.mode("overwrite").partitionBy("cid").parquet(path)
        ModelFile.write(path, model)
        0L
      case Append =>
        StoreMaintenance.versionedAppend(path,
            centroids.map { case (cid, _) => s"cid=$cid" }.toSeq) {
          StoreLayout.clustered(rows, "cid")
            .write.mode("append").partitionBy("cid").parquet(path)
        }
      case Relayout(spark) =>
        // rewriteLayout clusters by the partition column itself
        val (_, version) = StoreMaintenance.rewriteLayout(spark, path, "cid")(rows)
        ModelFile.retire(path, version)
        ModelFile.write(path, model)
        StoreMaintenance.invalidateDriftBaseline(path)
        version
    }
  }
}

/** Persistent IVF index — the faiss write_index(IndexIVFFlat) analog,
  * completing the store trio (IndexStore = LSH-banded flat,
  * PqIndexStore = compressed codes, IvfIndexStore = coarse-quantized
  * lists): the corpus persists PARTITIONED BY its nearest-centroid
  * list id (cid=NN directories) with the centroids in the store's
  * model file (`$path.model`, [[ModelFile]]). A search reads ONLY the
  * nprobe list directories its queries probe — file-level partition
  * pruning, so at 100 TB a probe scans corpus·nprobe/nlist bytes,
  * never the corpus. Training is the same deterministic Lloyd as
  * v_ivf; append assigns new vectors with the FROZEN persisted
  * centroids (faiss add()) so they land in the right list directories
  * with no retrain and no rewrite of existing rows.
  */
object IvfIndexStore {
  import graft.operators.Knn
  import CoarseStore.{Append, Overwrite, Relayout}

  private[sources] def prepared(df: DataFrame, idCol: String, vecCol: String,
                                metaCols: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as("vec_id")
        +: col(vecCol).cast("array<double>").as("v")
        +: metaCols.map(col): _*)
      .withColumn("nrm", V.norm2(col("v")))

  /** Persist the list-partitioned corpus, then the model file
    * (`$path.model`: `cids` + `centroids`). Pass `model` when a
    * trained centroid set already exists (the session registry, a
    * previous store's model): training is the expensive half of an
    * index build, and a write must never repeat a pass the session
    * already paid for — the faiss contract is train once, serve (and
    * persist) many. Without `model` the centroids train here on the
    * frame's bounded sample.
    */
  def write(df: DataFrame, idCol: String, vecCol: String, path: String,
            model: Option[Array[(Int, Array[Double])]] = None,
            metaCols: Seq[String] = Nil): Unit = {
    val e = StoreLayout.widened(prepared(df, idCol, vecCol, metaCols))
    val centroids = model.getOrElse(Knn.trainIvf(e))
    CoarseStore.persist(path, Overwrite, ModelFile.Model(Some(centroids)), identity)(e)
    ()
  }

  /** RETRAIN REMEDIATION — the store-side act the drift gates can so
    * far only recommend (v_ivf_drift_store PROVES the frozen-model
    * decay, v_ivf_drift_report advises a rebuild; this is the
    * rebuild). Train a fresh coarse quantizer on `train` — a BOUNDED
    * sample frame with (vec_id, v, nrm), the caller's post-append
    * mixture under the same corpus-size-independent contract as every
    * training pass (Knn.trainIvf caps at vec_id < IvfTrainSample) —
    * then rebuild the list layout under the maintenance lock:
    * re-assignment is one map-side projection over the stored rows
    * (vectors live in the store; nothing re-reads the source corpus),
    * the rewrite lands through [[StoreMaintenance.rewriteLayout]]'s
    * group-committed swap (atomic: a crash either keeps the old layout
    * whole or completes the new one on recover), every pre-retrain
    * file retires under ONE version so readBefore(v) audits the
    * pre-retrain index, and the pre-retrain model file is filed
    * beside it (`.retired/v<v>/_model`). The new model file lands
    * AFTER the data commit: a crash between the two leaves a store
    * that searches stale until retrain is re-run — re-running with the
    * same `train` frame converges (training is deterministic). Returns
    * the maintenance version the old layout retired under.
    */
  def retrain(spark: SparkSession, path: String, train: DataFrame): Long = {
    val newCents = Knn.trainIvf(
      train.select(col("vec_id"), col("v"), col("nrm")))
    CoarseStore.persist(path, Relayout(spark), ModelFile.Model(Some(newCents)), identity)(
      StoreLayout.widened(StoreFs.openParquet(spark, path).drop("cid")))
  }

  /** Assign NEW vectors with the frozen persisted centroids and append
    * into their list directories (dynamic partition append): existing
    * rows and the model file are untouched, probes immediately cover
    * the union.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String): Long =
    CoarseStore.persist(path, Append, ModelFile.read(path), identity)(
      StoreLayout.widened(prepared(df, idCol, vecCol)))

  /** The coarse quantizer from the store's model file, sorted by cid —
    * tiny, driver-resident (the in-memory coarse quantizer of a loaded
    * faiss index), read on the driver with no Spark job.
    */
  def readCentroids(spark: SparkSession, path: String): Array[(Int, Array[Double])] =
    ModelFile.read(path).coarse

  /** Export a store's coarse-quantizer model as a SAFETENSORS
    * artifact (F64 `centroids` [nlist, dim] plus their I32 `cids`) —
    * the interop seam with the Python training ecosystem: a
    * faiss/sklearn k-means trained offline exports the same matrix,
    * and either side reads the other's file.
    */
  def exportModelSafetensors(spark: SparkSession, path: String,
                             out: String): Unit =
    graft.operators.Safetensors.write(out,
      ModelFile.tensors(ModelFile.Model(Some(readCentroids(spark, path)))))

  /** Import an externally-trained coarse quantizer from a safetensors
    * file (a store's model file imports directly) — pass the result as
    * [[write]]'s `model` so the store is built under offline-trained
    * centroids with no in-session training pass (the faiss-trains /
    * Spark-serves deployment split). Accepts F64/F32 (a float32 faiss
    * export upcasts losslessly); without a `cids` tensor the rows are
    * cids 0..k−1.
    */
  def importModelSafetensors(path: String): Array[(Int, Array[Double])] =
    ModelFile.decode(graft.operators.Safetensors.read(path)).centroids.getOrElse(
      throw new IllegalArgumentException(s"$path: missing tensor 'centroids'"))

  /** Each query's nprobe list ids, ranked against the literal centroid
    * set (sorted (desc sim, asc cid) structs — the ivfProbe formula).
    */
  private def probedCids(centroids: Array[(Int, Array[Double])], nprobe: Int): Column = {
    val cands = array_sort(array(centroids.map { case (cid, cv) =>
      val cn = math.sqrt(cv.map(x => x * x).sum)
      struct(
        (-round(V.cosinePre(V.dot(col("qv"), typedLit(cv.toSeq)), col("qn"), lit(cn)), 6))
          .as("nsim"),
        lit(cid).as("cid"))
    }: _*))
    transform(slice(cands, 1, nprobe), s => s.getField("cid"))
  }

  private def probeInput(q: DataFrame, extraCols: Seq[String]): DataFrame =
    q.select(Seq(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      ++ extraCols.map(col): _*)

  /** Probe frame for an already-prepared (vec_id, v, nrm) query frame:
    * one row per (query, probed list id), left distributed — the batch
    * searches' probe (IVF-PQ's too, which prunes the same way but
    * scores by ADC).
    */
  private[sources] def probeOf(q: DataFrame, centroids: Array[(Int, Array[Double])],
                               nprobe: Int): DataFrame =
    probeInput(q, Nil).withColumn("pcid", explode(probedCids(centroids, nprobe)))

  /** [[probeOf]] for a small query set, collected once and planned on
    * the driver ([[IndexStore.localProbe]]): the probe rows plus the
    * probed list ids for the static IN filter — shared with the IVF-PQ
    * and IVF-BQ searches.
    */
  private[sources] def localProbeOf(q: DataFrame,
                                    centroids: Array[(Int, Array[Double])],
                                    nprobe: Int,
                                    extraCols: Seq[String] = Nil): IndexStore.LocalProbe =
    IndexStore.localProbe(
      probeInput(q, extraCols).withColumn("pcid", probedCids(centroids, nprobe)))

  /** Filtered-search query rows: (vec_id, v, q_<match>…, nrm). */
  private[sources] def matchQueries(queries: DataFrame, idCol: Column, vecCol: String,
                                    matchCols: Seq[String]): DataFrame =
    queries.select(idCol.as("vec_id")
        +: col(vecCol).cast("array<double>").as("v")
        +: matchCols.map(c => col(c).as(s"q_$c")): _*)
      .withColumn("nrm", V.norm2(col("v")))

  /** The probed lists' rows, pruned at file level by the static IN
    * filter: (vec_id, `payload`…, cid, match…), the scan layout of
    * [[graft.plans.CosineTopK]].
    */
  private[sources] def probedScan(spark: SparkSession, path: String, p: IndexStore.LocalProbe,
                                  payload: Seq[String], matchCols: Seq[String]): DataFrame =
    StoreFs.openParquet(spark, path)
      .where(col("cid").isin(p.keys: _*)) // static file-level pruning
      .select((("vec_id" +: payload :+ "cid") ++ matchCols).map(col): _*)

  /** nprobe-pruned exact-cosine top-k against the persisted lists: the
    * query set is collected with its probed list ids, the ids prune the
    * scan as a static IN filter, so the parquet source reads only the
    * probed cid=NN directories, and the driver-resident top-k
    * ([[graft.plans.CosineTopK]]) ranks each query's lists in one Spark
    * job; see [[searchFiltered]]. A query set that is itself a table
    * (bulk re-ranking) belongs in [[searchBatch]], which never collects
    * it.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             nprobe: Int = Knn.IvfNprobe): DataFrame =
    searchFiltered(spark, path, queries, idCol, vecCol, k, Nil, nprobe)

  /** Attribute-filtered search on the persisted IVF index — the
    * "search with filter" contract composed with coarse pruning: the
    * scan still reads only the probed cid=NN list directories (static
    * IN filter), and INSIDE those lists the per-query metadata
    * equality is checked before scoring, so out-of-filter rows never
    * reach the top-k heap. Requires the store to have been written with
    * the match columns inline (`write(..., metaCols)`) — a sidecar join on
    * the corpus side would shuffle the big side, the exact thing the
    * inline layout avoids (v_filtered_store's argument, applied to
    * the IVF layout).
    */
  def searchFiltered(spark: SparkSession, path: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     matchCols: Seq[String],
                     nprobe: Int = Knn.IvfNprobe): DataFrame = {
    val p = localProbeOf(matchQueries(queries, col(idCol), vecCol, matchCols),
      readCentroids(spark, path), nprobe, matchCols.map(c => s"q_$c"))
    CosineTopK.search(p.probes(), k, TopKScore.Cosine, keyed = true, p.query,
      probedScan(spark, path, p, Seq("v", "nrm"), matchCols))
  }

  /** Survivor ceiling for [[searchFilteredRouted]]'s exact route: at
    * or below this many filter-matching rows, brute-forcing the
    * survivors costs less than probing nprobe/nlist of the corpus AND
    * returns recall 1.0 — the pre-filter vs post-filter decision
    * every production vector store makes (Milvus/Qdrant route exactly
    * this way). The probe is limit-then-count, so it stays
    * O(threshold) work however large the store is.
    */
  val ExactRouteThreshold = 1024

  /** Selectivity-routed attribute-filtered search: a cheap pushed-down
    * cardinality probe counts the rows matching the query set's
    * filter values, then picks the route —
    *
    *  - ultra-selective predicate (≤ `exactThreshold` survivors):
    *    EXACT scan of the survivors only (filter pushed to parquet,
    *    then [[IndexStore.searchFiltered]]'s top-k). Cheaper than IVF's
    *    corpus·nprobe/nlist read and exact by construction — the
    *    post-filter IVF path could even return FEWER than k hits when
    *    the survivors hide outside the probed lists;
    *  - broad predicate: the standard [[searchFiltered]] path (coarse
    *    pruning does the heavy lifting, the filter is checked before
    *    scoring).
    */
  def searchFilteredRouted(spark: SparkSession, path: String, queries: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           matchCols: Seq[String],
                           nprobe: Int = Knn.IvfNprobe,
                           exactThreshold: Int = ExactRouteThreshold): DataFrame =
    routedFiltered(spark, path, queries, idCol, vecCol, k, matchCols,
      nprobe, exactThreshold)._2

  /** [[searchFilteredRouted]] plus which route it took ("exact" /
    * "ivf") — the spec hook for asserting the routing condition.
    */
  private[graft] def routedFiltered(spark: SparkSession, path: String,
                                    queries: DataFrame,
                                    idCol: String, vecCol: String, k: Int,
                                    matchCols: Seq[String], nprobe: Int,
                                    exactThreshold: Int): (String, DataFrame) = {
    // query sets are small by the search() contract (the uploaded-
    // image flow) — their distinct filter values collect for the
    // pushed-down survivor probe and the scan predicate; no queries
    // give a predicate no row passes, so the exact route's empty result
    val vals = queries.select(matchCols.map(col): _*).collect().distinct
    val pred = vals.map(r => matchCols.indices
        .map(i => col(matchCols(i)) === lit(r.get(i))).reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))
    val survivors = StoreFs.openParquet(spark, path).where(pred)
    // one job: each scan partition counts at most exactThreshold + 1
    // survivors, so the sum passes the threshold iff the count does
    val small = survivors.select(col(matchCols.head)).queryExecution.toRdd
      .mapPartitions(rows => Iterator(rows.take(exactThreshold + 1).length))
      .collect().sum <= exactThreshold
    if (!small)
      return ("ivf", searchFiltered(spark, path, queries, idCol, vecCol,
        k, matchCols, nprobe))
    ("exact", IndexStore.searchFiltered(survivors.withColumnRenamed("vec_id", "id"),
      queries, idCol, vecCol, k, matchCols))
  }

  /** Batch-serving variant: the probe set stays DISTRIBUTED — no
    * driver collect of probed list ids — and the scan prunes through
    * Spark's dynamic partition pruning instead: the broadcast join on
    * the cid partition column gets a DynamicPruningExpression on the
    * parquet scan (asserted in Round6Spec), which evaluates the probe
    * side at runtime and reads only the probed list directories. Use
    * this when the query set is itself a table (bulk re-ranking,
    * index-to-index joins) rather than a handful of uploads. The
    * candidates rank through [[batchTopK]]: a k-bounded heap per query
    * in the scan tasks, then one exchange on query_id — three jobs per
    * call (the probe broadcast, the scan, the merge).
    */
  def searchBatch(spark: SparkSession, path: String, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  nprobe: Int = Knn.IvfNprobe): DataFrame =
    batchTopK(spark, path,
      probeOf(prepared(queries, idCol, vecCol), readCentroids(spark, path), nprobe),
      k, TopKScore.Cosine)

  /** The batch searches' ranking tail (IVF and IVF-PQ): the store's rows
    * joined to the DISTRIBUTED probe rows (query_id, pcid, the score's
    * query side) on the probed list and never to the query itself — a
    * broadcast join on the cid partition column, so dynamic partition
    * pruning reads only the probed lists — scored by `score` and cut to
    * k per query by [[Ranking.scored]], the ranking of
    * [[graft.plans.CosineTopK]]. Each scan task folds its candidates
    * into k-bounded per-query heaps as it scores them, so the exchange
    * carries at most k rows per query per task and no candidate row is
    * sorted.
    */
  private[sources] def batchTopK(spark: SparkSession, path: String, probe: DataFrame,
                                 k: Int, score: TopKScore): DataFrame = {
    val cands = StoreFs.openParquet(spark, path).join(broadcast(probe),
      col("cid") === col("pcid") && col("vec_id") =!= col("query_id"))
    Ranking.scored(
      cands.select(col("query_id"), col("vec_id").as("neighbor_id"), score.column.as(score.name)),
      score, k)
  }
}

/** Persistent product-quantized index — the compressed counterpart of
  * IndexStore (faiss write_index for an IndexPQ): the corpus persists
  * as 8 one-byte codes per vector plus the codebooks in the store's
  * model file (`$path.model`, [[ModelFile]]), 32× smaller than the
  * raw embeddings. Search decodes nothing: the ADC distance table is
  * built driver-side from the loaded codebooks and folded over each
  * code row inside the scan ([[graft.plans.CosineTopK]]).
  */
object PqIndexStore {
  import graft.operators.Knn

  /** Persist the code table, then the model file (`$path.model`:
    * `codebooks`). The code table holds ONE row per vector with all M
    * codes as an array — the faiss code-blob layout: an 8-element
    * tinyint array per vector instead of 8 exploded rows, so the
    * search scan reads n rows, not 8n. Pass `model` when trained
    * codebooks already exist (the session registry): encoding is then
    * the write's only pass over the corpus — a store build never
    * repeats a training pass the session already paid for. Without
    * `model` the codebooks sample-train here.
    */
  def write(df: DataFrame, idCol: String, vecCol: String, path: String,
            model: Option[Array[Array[Array[Double]]]] = None): Unit = {
    val e = vectors(df, idCol, vecCol)
    val books = model.getOrElse(Knn.trainPqBooks(e))
    StoreLayout.clustered(e.select(col("vec_id"), Knn.pqCodesCol(books).as("codes")))
      .write.mode("overwrite").parquet(s"$path.codes")
    ModelFile.write(path, ModelFile.Model(books = Some(books)))
  }

  /** Incremental maintenance — the faiss add() analog for the
    * compressed store: encode NEW vectors with the FROZEN persisted
    * codebooks (no retrain) and append their code rows. Existing rows
    * are untouched, the model file is unchanged, and searches
    * immediately cover the union. Periodic retraining (when the data
    * distribution drifts) is a full write() — the same trade faiss
    * makes between add() and retraining an IndexPQ.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String): Long = {
    val books = readBooks(df.sparkSession, path)
    StoreMaintenance.versionedAppend(s"$path.codes", Seq(".")) {
      StoreLayout.clustered(
          vectors(df, idCol, vecCol).select(col("vec_id"), Knn.pqCodesCol(books).as("codes")))
        .write.mode("append").parquet(s"$path.codes")
    }
  }

  private def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    StoreLayout.widened(
      df.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v")))

  /** Load the codebooks from the store's model file (tiny —
    * driver-resident, like the reference's in-memory index object),
    * read on the driver with no Spark job. Works on any store that
    * trains codebooks (PQ or IVF-PQ).
    */
  def readBooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] =
    ModelFile.read(path).codebooks

  /** Export a store's PQ codebooks as a safetensors artifact (one F64
    * `codebooks` tensor, [m, ksub, dsub] — faiss's
    * index_pq.pq.centroids layout), the codebook half of the offline-
    * training interop seam ([[IvfIndexStore.exportModelSafetensors]]
    * is the coarse half).
    */
  def exportBooksSafetensors(spark: SparkSession, path: String,
                             out: String): Unit =
    graft.operators.Safetensors.write(out,
      ModelFile.tensors(ModelFile.Model(books = Some(readBooks(spark, path)))))

  /** Import externally-trained PQ codebooks (F64/F32 `codebooks`,
    * [m, ksub, dsub]; a store's model file imports directly) — pass as
    * [[write]]'s `model` (or IvfPqIndexStore.write's `pqModel`).
    */
  def importBooksSafetensors(path: String): Array[Array[Array[Double]]] =
    ModelFile.decode(graft.operators.Safetensors.read(path)).books.getOrElse(
      throw new IllegalArgumentException(s"$path: missing tensor 'codebooks'"))

  /** ADC top-k against the persisted codes: queries are collected
    * (driver-resident by contract — the uploaded-image flow), their
    * per-query lookup tables are built on the driver, and the distance
    * is a pure per-row fold over the codes array inside the
    * driver-resident top-k — one Spark job, no exploded rows.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    val books = readBooks(spark, path)
    val probes = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().toSeq
      .map(r => TopKProbe(r.get(0),
        // a NULL query vector has no table: it scores NULL
        table = Option(IndexStore.vecOf(r, 1)).map(Knn.pqQueryTable(_, books)).orNull))
    CosineTopK.search(probes, k, TopKScore.Adc, keyed = false,
      StructType(Seq(StructField("query_id", LongType, nullable = false))),
      StoreFs.openParquet(spark, s"$path.codes").select("vec_id", "codes"))
  }
}

/** Persistent IVF-PQ index — the production faiss shape (IndexIVFPQ):
  * coarse lists for PRUNING and compressed codes for SCAN ECONOMY in
  * one layout. Rows are (vec_id, codes) PARTITIONED BY cid; the model
  * file (`$path.model`, [[ModelFile]]) holds the coarse quantizer, the
  * ADC codebooks and the residual brand. A probe therefore reads only
  * its nprobe list directories AND those reads are 8-byte code blobs,
  * not 512-byte floats: corpus · nprobe/nlist · (8B/512B) bytes per
  * query batch — the two orthogonal savings faiss composes, composed
  * the same way. By default codes quantize the RAW vectors (not
  * residuals), mirroring Knn.vIvfPq exactly, so the persisted path
  * shares v_ivf_pq's oracle.
  */
object IvfPqIndexStore {
  import graft.operators.Knn
  import CoarseStore.{Append, Overwrite, Relayout}
  import IvfIndexStore.prepared

  /** The faiss by_residual brand, read from the model file: it tells
    * every later open (append from another session, a fresh session's
    * search) that codes were taken over v − centroid(cid), so queries
    * must derive per-probed-list residual tables — the knob travels
    * WITH the data, not in somebody's head. False for a store with no
    * model file yet.
    */
  def isResidual(path: String): Boolean =
    ModelFile.exists(path) && ModelFile.read(path).residual

  /** The frame PQ encodes (and its codebooks train on): the assigned
    * vectors, or on a residual store v − centroid(cid), materialized
    * once when `cached` (write and retrain).
    */
  private def pqInput(asg: DataFrame, centroids: Array[(Int, Array[Double])],
                      byResidual: Boolean, cached: Boolean): DataFrame =
    if (!byResidual) asg
    else if (cached) graft.Materialize.forceCached(Knn.residualFrame(asg, centroids))
    else Knn.residualFrame(asg, centroids)

  /** IVF-PQ's encode: PQ codes over [[pqInput]], inline meta kept. */
  private def codes(m: ModelFile.Model, metaCols: Seq[String], cached: Boolean)
                   (asg: DataFrame): DataFrame =
    pqInput(asg, m.coarse, m.residual, cached)
      .select(col("vec_id") +: col("cid") +: metaCols.map(col)
        :+ Knn.pqCodesCol(m.codebooks).as("codes"): _*)

  /** Persist list-partitioned codes, then the model file
    * (`$path.model`: `cids`, `centroids`, `codebooks`, `by_residual`).
    * Pass the models from the session registry when they exist — a
    * write never repeats a training pass the session already paid for
    * (train once, serve and persist many). `byResidual = true` encodes
    * v − centroid(cid) instead of raw vectors (faiss IndexIVFPQ's
    * default) and brands the store so append/search stay consistent
    * forever after.
    */
  def write(df: DataFrame, idCol: String, vecCol: String, path: String,
            ivfModel: Option[Array[(Int, Array[Double])]] = None,
            pqModel: Option[Array[Array[Array[Double]]]] = None,
            byResidual: Boolean = false,
            metaCols: Seq[String] = Nil): Unit = {
    require(metaCols.isEmpty || !byResidual,
      "inline metadata on a residual-branded store is not supported yet")
    val e = StoreLayout.widened(prepared(df, idCol, vecCol, metaCols))
    val centroids = ivfModel.getOrElse(Knn.trainIvf(e))
    val books = pqModel.getOrElse(Knn.trainPqBooks(
      pqInput(Knn.withCid(e, centroids), centroids, byResidual, cached = false)
        .select(col("vec_id"), col("v"))))
    val m = ModelFile.Model(Some(centroids), Some(books), Some(byResidual))
    CoarseStore.persist(path, Overwrite, m, codes(m, metaCols, cached = true))(e)
    ()
  }

  /** The compressed tier's RETRAIN twin (IvfIndexStore.retrain's
    * contract applied to codes): both models — coarse quantizer AND
    * codebooks — retrain on `train` (the caller's bounded post-append
    * mixture; both trainers cap input corpus-size-independently), the
    * codebook training encodes the mixture the STORE'S way (the
    * residual brand travels with the data, never a caller flag), and
    * the whole code layout re-encodes from `corpus` — the ONE
    * unavoidable full read: PQ codes are not invertible, so unlike the
    * raw-vector IVF store a re-encode must go back to the source
    * vectors. The rewrite is [[StoreMaintenance.rewriteLayout]]'s
    * group-committed atomic swap; pre-retrain codes stay replayable
    * via readBefore(version) and the pre-retrain model file (both
    * models and the brand) is filed as `.retired/v<version>/_model`.
    * The new model file lands after the data commit — a crash between
    * the two searches stale until a (deterministic, converging) re-run.
    * `corpus` must hold exactly the store's current row universe.
    */
  def retrain(spark: SparkSession, path: String, corpus: DataFrame,
              idCol: String, vecCol: String, train: DataFrame): Long = {
    val tr = train.select(col("vec_id"), col("v"), col("nrm"))
    val newCents = Knn.trainIvf(tr)
    val resid = isResidual(path)
    val newBooks = Knn.trainPqBooks(
      pqInput(Knn.withCid(tr, newCents), newCents, resid, cached = true)
        .select(col("vec_id"), col("v")))
    val m = ModelFile.Model(Some(newCents), Some(newBooks), Some(resid))
    CoarseStore.persist(path, Relayout(spark), m, codes(m, Nil, cached = true))(
      StoreLayout.widened(prepared(corpus, idCol, vecCol)))
  }

  /** faiss add(): assign new vectors with the FROZEN coarse quantizer,
    * encode with the FROZEN codebooks, dynamic-append into the list
    * directories — no retrain, no rewrite, probes cover the union.
    * The store's brand, not a caller flag, decides the encoding.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String): Long = {
    val m = ModelFile.read(path)
    CoarseStore.persist(path, Append, m, codes(m, Nil, cached = false))(
      StoreLayout.widened(prepared(df, idCol, vecCol)))
  }

  /** nprobe-pruned ADC top-k: probed list ids apply to the scan as a
    * static IN filter (file-level pruning — the small-query contract,
    * like IvfIndexStore.search), per-query ADC lookup tables are built
    * on the driver, and the distance is a per-row fold over the codes
    * array inside the driver-resident top-k — one Spark job.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             nprobe: Int = Knn.IvfNprobe): DataFrame =
    probedSearch(spark, path, ModelFile.read(path), queries, idCol, vecCol, k, Nil, nprobe)

  /** The small-query search behind [[search]] and [[searchFiltered]],
    * over a model read once: the probed lists' static IN scan, one
    * probe row per (query, probed list) carrying the query's lookup
    * table, `matchCols` checked before scoring.
    */
  private def probedSearch(spark: SparkSession, path: String, m: ModelFile.Model,
                           queries: DataFrame, idCol: String, vecCol: String, k: Int,
                           matchCols: Seq[String], nprobe: Int): DataFrame = {
    // ids cast to long as in PqIndexStore.search: the tables key on them
    val p = IvfIndexStore.localProbeOf(
      IvfIndexStore.matchQueries(queries, col(idCol).cast("long"), vecCol, matchCols),
      m.coarse, nprobe, matchCols.map(c => s"q_$c"))
    val (probes, query) =
      if (m.residual) {
        // branded residual store (never filtered): tables are per
        // (query, probed list) — the query residual is taken against
        // THAT list's centroid
        val cents = m.coarse.toMap
        (p.probes(r => Option(IndexStore.vecOf(r, 1))
          .map(Knn.pqResQueryTable(_, cents(r.getInt(r.length - 1)), m.codebooks)).orNull),
          StructType(Seq(StructField("query_id", LongType, nullable = false))))
      } else {
        val tables = p.rows.map(r => r.getLong(0) -> IndexStore.vecOf(r, 1)).toMap
          .map { case (qid, qv) => qid -> Option(qv).map(Knn.pqQueryTable(_, m.codebooks)).orNull }
        (p.probes(r => tables(r.getLong(0))), p.query)
      }
    CosineTopK.search(probes, k, TopKScore.Adc, keyed = true, query,
      IvfIndexStore.probedScan(spark, path, p, Seq("codes"), matchCols))
  }

  /** Past this list count, the residual encoding derives from a
    * broadcast centroid JOIN instead of a literal map: a production
    * nlist (4k–64k × 64 dims) as a typedLit would put a multi-MB
    * literal in the plan tree — slow analysis/codegen and a bloated
    * task binary shipped with EVERY stage. At gate-scale nlist the
    * literal is cheaper (no extra join node); Round12Spec pins the two
    * forms rank-identical on a residual store.
    */
  private[graft] val ResidualLiteralMaxLists = 256

  /** Batch-serving variant: the probe set AND the per-query ADC lookup
    * tables stay DISTRIBUTED — no driver collect anywhere. The scan
    * prunes through dynamic partition pruning from the broadcast probe
    * join on the cid partition column (IvfIndexStore.searchBatch's
    * pruning), and each query row carries its 8×16 distance table as
    * one map-side projection against the literal codebooks (the same
    * ascending (a−b)² fold as the driver-side Knn.l2sq, so ranks are
    * identical to search()'s). Use when the query set is itself a
    * table, not a handful of uploads.
    */
  def searchBatch(spark: SparkSession, path: String, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  nprobe: Int = Knn.IvfNprobe): DataFrame =
    searchBatchImpl(spark, path, queries, idCol, vecCol, k, nprobe,
      ResidualLiteralMaxLists)

  private[graft] def searchBatchImpl(spark: SparkSession, path: String,
                                     queries: DataFrame, idCol: String,
                                     vecCol: String, k: Int, nprobe: Int,
                                     literalMax: Int): DataFrame = {
    val model = ModelFile.read(path)
    val (centroids, books) = (model.coarse, model.codebooks)
    val qProbe = IvfIndexStore.probeOf(prepared(queries, idCol, vecCol), centroids, nprobe)
    val dsub = 64 / Knn.PqSubspaces
    // the store's brand decides the query-side encoding, exactly as in
    // search()/append(): on a residual-branded store the lookup table
    // for a (query, probed list) pair is built from the query's
    // residual AGAINST THAT LIST's centroid — as a map-side expression
    // against a literal centroid map when the coarse book is small, as
    // a broadcast join on pcid past ResidualLiteralMaxLists. Either
    // way the batch path stays collect-free. Raw tables against
    // residual codes would return silently wrong neighbors.
    val enc =
      if (!model.residual) qProbe.withColumn("eqv", col("qv"))
      else if (centroids.length <= literalMax) {
        val centMap = typedLit(centroids.map { case (c, v) => c -> v.toSeq }.toMap)
        qProbe.withColumn("eqv",
          zip_with(col("qv"), element_at(centMap, col("pcid")), (x, c) => x - c))
      } else {
        import spark.implicits._
        val centDf = centroids.toSeq.map { case (c, v) => (c, v.toSeq) }
          .toDF("ccid", "cvec")
        qProbe.join(broadcast(centDf), col("pcid") === col("ccid"))
          .withColumn("eqv", zip_with(col("qv"), col("cvec"), (x, c) => x - c))
          .drop("ccid", "cvec")
      }
    val qdtCol = array((0 until Knn.PqSubspaces).map { m =>
      array((0 until Knn.PqCodes).map { kk =>
        aggregate(
          zip_with(slice(col("eqv"), m * dsub + 1, dsub), typedLit(books(m)(kk).toSeq),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
      }: _*)
    }: _*)
    IvfIndexStore.batchTopK(spark, path,
      enc.select(col("query_id"), col("pcid"), qdtCol.as("qdt")), k, TopKScore.Adc)
  }

  /** Attribute-filtered search on the COMPRESSED persisted tier (the
    * faiss IDSelector-on-IndexIVFPQ combination): the scan still reads
    * only the probed cid=NN directories (static IN), and INSIDE them
    * the per-query metadata equality is checked before scoring — so the
    * filter applies before any candidate reaches the ADC top-k heap,
    * on 8 B code rows, never floats. Requires the store written with
    * the match columns inline (`write(..., metaCols)`) — the
    * v_filtered_store argument applied to the IVF-PQ layout.
    */
  def searchFiltered(spark: SparkSession, path: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     matchCols: Seq[String],
                     nprobe: Int = Knn.IvfNprobe): DataFrame = {
    val m = ModelFile.read(path)
    require(!m.residual,
      "filtered search over a residual-branded store is not supported yet")
    probedSearch(spark, path, m, queries, idCol, vecCol, k, matchCols, nprobe)
  }
}

/** Binary-quantization store: the cheapest persisted tier — 1 bit per
  * dimension, two int64 sign words per vector (16 bytes, 64× smaller
  * than float32). Deliberately UNpartitioned: Hamming distance admits
  * no equality blocking for k-NN (no radius is known up front), so the
  * binary tier's contract is "the full scan is affordable" — at 100 TB
  * of float32 the code table is 1.6 TB, a scan-tier read, and the
  * shuffle after it carries only (query, id, hamming) candidates.
  * Refinement joins the tiny survivor set back to the caller's SOURCE
  * table for exact cosine — point lookups, never a second corpus scan
  * of floats through the ranking shuffle. Mirrors Knn.vBq so the
  * persisted path shares v_bq's oracle.
  */
object BqIndexStore {
  import graft.operators.Knn

  /** Persist sign codes: one row = (id, code_lo, code_hi). */
  def write(df: DataFrame, idCol: String, vecCol: String, path: String): Unit =
    codesOf(df, idCol, vecCol).write.mode("overwrite").parquet(path)

  /** Incremental add — codes are structure-free, so append is a plain
    * dynamic append with no global state to rewrite. Versioned like
    * every index-store append (readBefore replays the pre-append set).
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String): Long =
    StoreMaintenance.versionedAppend(path, Seq(".")) {
      codesOf(df, idCol, vecCol).write.mode("append").parquet(path)
    }

  private def codesOf(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .select(col("id"),
        Knn.bqWords(col("v"), 0).as("code_lo"),
        Knn.bqWords(col("v"), 32).as("code_hi"))

  def read(spark: SparkSession, path: String): DataFrame =
    StoreFs.openParquet(spark, path)

  /** Delete-by-key for the flat code table — the binary tier's
    * right-to-be-forgotten path (faiss remove_ids on an IndexBinary).
    * The layout is deliberately unpartitioned, so this rides
    * StoreMaintenance.purgeFiles: one pushed-down discovery scan,
    * then only the files containing a victim row are rewritten through
    * the crash-consistent root swap; clean files stay byte-identical.
    */
  def purge(spark: SparkSession, path: String, ids: Seq[Any]): (Int, Long) =
    StoreMaintenance.purgeFiles(spark, path, "id", ids)

  /** Delete-by-key for the MIH layout: blk= partition dirs, so the
    * standard partitioned purge applies — reclustered on bval to keep
    * the per-file zone maps tight (the layout's pruning contract).
    */
  def purgeMih(spark: SparkSession, path: String, ids: Seq[Any]): (Int, Long) =
    StoreMaintenance.purge(spark, path, "id", ids, recluster = Some("bval"))

  /** Multi-index (MIH) layout: each vector lands in its 8 byte-block
    * buckets — the persisted analog of faiss IndexBinaryMultiHash's
    * hash tables. On disk: directories partition by `blk` (8 dirs),
    * and within each dir the rows are RANGE-CLUSTERED by bval into a
    * few files, so every file's parquet min/max stats cover a narrow
    * bval band — a probe prunes to its blk dir at the partition
    * level, then to ~one file per bucket via zone maps (the
    * src_zorder trick). One dir per (blk, bval) pair would prune the
    * same rows but costs 2048 directories per write — directory-
    * commit-bound locally and a listing hazard on object stores; the
    * range-clustered layout keeps file counts O(tasks), not
    * O(buckets). The code words ride INSIDE every bucket row (16
    * bytes × 8 buckets per vector), so a probe verifies candidates
    * without any join back to a primary store. The 8× row fan-out is
    * one narrow projection at write time — the classic
    * read-amplification-for-write trade every MIH deployment makes.
    */
  def writeMih(df: DataFrame, idCol: String, vecCol: String, path: String): Unit =
    mihRowsFromCodes(codesOf(df, idCol, vecCol))
      .repartitionByRange(64, col("blk"), col("bval"))
      .sortWithinPartitions("blk", "bval")
      .write.partitionBy("blk").mode("overwrite").parquet(path)

  /** Incremental MIH add — bucket rows are self-contained (codes ride
    * inline), so an append is a plain dynamic-partition append with no
    * global state to rewrite; StoreMaintenance-style periodic
    * compaction absorbs the per-batch small files exactly as on the
    * banded store.
    */
  def appendMih(df: DataFrame, idCol: String, vecCol: String, path: String): Long =
    appendMihCodes(codesOf(df, idCol, vecCol), path)

  private def mihRowsFromCodes(codes: DataFrame): DataFrame =
    codes.select(col("id"), col("code_lo"), col("code_hi"),
      posexplode(Knn.bqBlockVals(col("code_lo"), col("code_hi")))
        .as(Seq("blk", "bval")))

  /** MIH append for callers that already hold packed 64-bit codes as
    * two word columns (id, code_lo, code_hi) — e.g. perceptual hashes
    * from the image pipeline rather than sign-quantized embeddings.
    * Same layout and search surface as appendMih.
    */
  def appendMihCodes(codes: DataFrame, path: String): Long =
    StoreMaintenance.versionedAppend(path, (0 until 8).map(b => s"blk=$b")) {
      mihRowsFromCodes(codes
          .select(col("id"), col("code_lo"), col("code_hi")))
        .repartitionByRange(16, col("blk"), col("bval"))
        .sortWithinPartitions("blk", "bval")
        .write.partitionBy("blk").mode("append").parquet(path)
    }

  /** Radius-bounded Hamming search over the MIH store. `queries` is a
    * packed-code frame (query_id, qlo, qhi); radius must stay below
    * the 8-block pigeonhole bound so candidate generation is lossless.
    * The probed (blk, bval) pairs — ≤ 8 per query, tiny by the
    * fingerprint-lookup contract, same static-pruning justification
    * as IvfIndexStore.search's IN-list — compile into TWO filter
    * layers: a conjunctive `blk IN (...)` that prunes whole
    * directories (a top-level OR would not be split into a partition
    * filter), and the exact (blk, bval) disjunction that parquet
    * evaluates against each file's bval min/max — with the
    * range-clustered layout that skips to ~one file per bucket.
    */
  def searchRadius(spark: SparkSession, path: String, queries: DataFrame,
                   radius: Int): DataFrame = {
    require(radius < 8, s"radius $radius breaks the 8-block pigeonhole bound")
    val probes = queries.select(col("query_id"), col("qlo"), col("qhi"),
      posexplode(Knn.bqBlockVals(col("qlo"), col("qhi"))).as(Seq("qblk", "qbval")))
    val pairs = probes.select(col("qblk"), col("qbval")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val prune = pairs.map { case (b, v) =>
      col("blk") === b && col("bval") === v
    }.reduce(_ || _)
    val blkPrune = col("blk").isin(pairs.map(_._1).distinct.toIndexedSeq: _*)
    read(spark, path).filter(blkPrune && prune)
      .join(broadcast(probes),
        col("blk") === col("qblk") && col("bval") === col("qbval"))
      .select(col("query_id"), col("id"), col("code_lo"), col("code_hi"),
        col("qlo"), col("qhi"))
      .distinct() // a candidate may match in several blocks
      .withColumn("hamming",
        (bit_count(col("code_lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("code_hi").bitwiseXOR(col("qhi")))).cast("long"))
      .filter(col("hamming") <= radius)
      .select(col("query_id"), col("id").as("neighbor_id"), col("hamming"))
  }

  /** Hamming scan over the stored codes + exact-cosine rerank against
    * `source` (the table the index was built from, or any table
    * sharing the id space). Same two-phase shape as Knn.vBq: the only
    * corpus-wide movement is 24-byte candidate rows into the top-R
    * window; floats are touched for `rerank` rows per query via
    * broadcast point-lookups.
    */
  def search(spark: SparkSession, path: String, source: DataFrame,
             queries: DataFrame, idCol: String, vecCol: String,
             k: Int, rerank: Int = 20): DataFrame = {
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", V.norm2(col("qv")))
      .withColumn("qlo", Knn.bqWords(col("qv"), 0))
      .withColumn("qhi", Knn.bqWords(col("qv"), 32))
    val qCodes = q.select(col("query_id"), col("qlo"), col("qhi"))
    val ham = read(spark, path).join(broadcast(qCodes), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (bit_count(col("code_lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("code_hi").bitwiseXOR(col("qhi")))).cast("long").as("hamming"))
    rerankTopK(ham, source, idCol, vecCol,
      q.select(col("query_id").as("rq"), col("qv"), col("qn")), k, rerank)
  }

  /** Shared two-phase tail of the binary tiers (BQ and IVF-BQ): keep
    * each query's `rerank` best (query_id, neighbor_id, hamming)
    * candidates, rescore them with exact round-6 cosine against
    * `source` via broadcast point lookups (query vectors from `qv`:
    * rq, qv, qn), then the k-bounded (sim DESC, neighbor_id ASC) window.
    */
  private[sources] def rerankTopK(ham: DataFrame, source: DataFrame, idCol: String,
                                  vecCol: String, qv: DataFrame, k: Int,
                                  rerank: Int): DataFrame = {
    val cand = Ranking.topK(ham, Seq("query_id"),
        Seq(col("hamming").asc, col("neighbor_id").asc), rerank, "hrnk")
      .select("query_id", "neighbor_id", "hamming")
    val src = source
      .select(col(idCol).as("sid"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", V.norm2(col("v")))
    val rr = src.join(broadcast(cand), col("sid") === col("neighbor_id"))
      .join(broadcast(qv), col("query_id") === col("rq"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        round(V.cosinePre(V.dot(col("qv"), col("v")), col("qn"), col("nrm")), 6).as("sim"))
    Ranking.topK(rr, Seq("query_id"), Seq(col("sim").desc, col("neighbor_id").asc), k)
      .select("query_id", "rnk", "neighbor_id", "hamming", "sim")
  }
}

/** Persisted coarse × binary index — faiss IndexBinaryIVF on disk:
  * (vec_id, code_lo, code_hi) rows PARTITIONED BY list id with the
  * centroids in the model file, composing the two savings the way IvfPqIndexStore
  * does for ADC — a probe reads only its nprobe list directories AND
  * those reads are 16-byte sign codes, not 512-byte floats. Search
  * mirrors Knn.vIvfBq (Hamming inside the probed lists, exact rerank
  * of the top-20 against the caller's source table), so the persisted
  * path shares v_ivf_bq's oracle. Training follows the registry
  * contract: pass the session model, never retrain in a write.
  */
object IvfBqIndexStore {
  import graft.operators.Knn
  import CoarseStore.{Append, Overwrite, Relayout}
  import IvfIndexStore.prepared

  /** IVF-BQ's encode: the two sign words of each assigned vector. */
  private def signWords(asg: DataFrame): DataFrame =
    asg.select(col("vec_id"), col("cid"),
      Knn.bqWords(col("v"), 0).as("code_lo"),
      Knn.bqWords(col("v"), 32).as("code_hi"))

  /** Persist the list-partitioned sign codes, then the model file
    * (`$path.model`: `cids` + `centroids`). Pass the session model
    * when one exists; without it the centroids train here.
    */
  def write(df: DataFrame, idCol: String, vecCol: String, path: String,
            model: Option[Array[(Int, Array[Double])]] = None): Unit = {
    val centroids = model.getOrElse(Knn.trainIvf(prepared(df, idCol, vecCol)))
    CoarseStore.persist(path, Overwrite, ModelFile.Model(Some(centroids)), signWords)(
      StoreLayout.widened(prepared(df, idCol, vecCol)))
    ()
  }

  /** Retrain remediation for the binary-quantized IVF tier — the
    * drift-advisor's "rebuild the index" action, completing the
    * retrain API across every coarse-quantized store (IVF, IVF-PQ,
    * IVF-BQ). Sign codes are MODEL-FREE, so only the coarse quantizer
    * retrains; re-assignment still needs the ORIGINAL vectors (cosine
    * to the new centroids is not recoverable from 64 sign bits), so
    * like the IVF-PQ twin this takes the source corpus and re-derives
    * the code rows under the new assignment. The list layout rebuilds
    * atomically (rewriteLayout's group commit), the pre-retrain files
    * retire under one version, and the pre-retrain model file is filed
    * beside them (`.retired/v<version>/_model`) before the new model
    * lands.
    */
  def retrain(spark: SparkSession, path: String, corpus: DataFrame,
              idCol: String, vecCol: String, train: DataFrame): Long = {
    val newCents = Knn.trainIvf(train.select(col("vec_id"), col("v"), col("nrm")))
    CoarseStore.persist(path, Relayout(spark), ModelFile.Model(Some(newCents)), signWords)(
      StoreLayout.widened(prepared(corpus, idCol, vecCol)))
  }

  /** Frozen-centroid append: new vectors assign against the persisted
    * model and land in their list directories — no retraining, no
    * re-encode of existing rows.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String): Long =
    CoarseStore.persist(path, Append, ModelFile.read(path), signWords)(
      StoreLayout.widened(prepared(df, idCol, vecCol)))

  /** Probe the persisted lists, rank by Hamming INSIDE them, rerank
    * the top-`rerank` survivors with exact cosine against `source`
    * (the table the index was built from, or any table sharing the id
    * space). Static file-level pruning via the probed-cid IN list —
    * the tiny-uploaded-query contract, as with IvfIndexStore.search.
    */
  def search(spark: SparkSession, path: String, source: DataFrame,
             queries: DataFrame, idCol: String, vecCol: String, k: Int,
             nprobe: Int = Knn.IvfNprobe, rerank: Int = 20): DataFrame = {
    val p = IvfIndexStore.localProbeOf(prepared(queries, idCol, vecCol),
      IvfIndexStore.readCentroids(spark, path), nprobe)
    val probes = p.frame.select(col("query_id"), col("pcid"),
      Knn.bqWords(col("qv"), 0).as("qlo"), Knn.bqWords(col("qv"), 32).as("qhi"))
    val ham = StoreFs.openParquet(spark, path)
      .where(col("cid").isin(p.keys: _*)) // static file-level pruning
      .join(broadcast(probes),
        col("cid") === col("pcid") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("code_lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("code_hi").bitwiseXOR(col("qhi")))).cast("long").as("hamming"))
    BqIndexStore.rerankTopK(ham, source, idCol, vecCol,
      prepared(queries, idCol, vecCol)
        .select(col("vec_id").as("rq"), col("v").as("qv"), col("nrm").as("qn")), k, rerank)
  }
}

/** Persisted late-interaction (maxsim) index — the store twin of
  * v_maxsim (ColBERT's serving layout: an inverted index over the
  * per-document vector set). Rows are (h, doc_id, w1..w4) — one row
  * per mod-16-sampled shingle-hash vector, components inline —
  * PARTITIONED BY hbkt = h % 32, so candidate generation reads ONLY
  * the partitions holding the query's own hashes (a probe touches
  * ≤ |query vectors| of the 32 directories, pruned at file level;
  * lossless, because the candidate join only ever matches h values
  * the query carries). The scoring pass then re-reads the store
  * joined on the CANDIDATE doc ids — the corpus-side scan of the
  * tier, pruned by parquet row-group stats on doc_id rather than
  * directories. Append is structure-free: new documents' rows land in
  * their hash buckets with no read-modify-write (two-wave append ==
  * one-shot write, spec-asserted).
  */
object MaxsimStore {
  import graft.operators.Knn

  val Buckets = 32

  private def rows(docs: DataFrame): DataFrame =
    Knn.maxsimVecRows(docs).withColumn("hbkt", (col("h") % Buckets).cast("int"))

  // clustered but NOT widened (r17): maxsimVecRows spreads internally
  // for its hash pass, so without re-clustering every one of those
  // tasks writes a file into every hbkt dir it holds rows for —
  // tasks × 32 small files per write, which the probe-side listing
  // then pays for. (An additional input widening was measured as a
  // regression — the text shuffle cost more than the cheap single-pass
  // hashing saved — and stays out.)
  def write(docs: DataFrame, path: String): Unit =
    StoreLayout.clustered(rows(docs), "hbkt")
      .write.mode("overwrite").partitionBy("hbkt").parquet(path)

  def append(docs: DataFrame, path: String): Long =
    StoreMaintenance.versionedAppend(path, (0 until Buckets).map(b => s"hbkt=$b")) {
      StoreLayout.clustered(rows(docs), "hbkt")
        .write.mode("append").partitionBy("hbkt").parquet(path)
    }

  /** Maxsim top-k against the persisted index for (doc_id, text)
    * queries; vector derivation for the query side runs in-session
    * (tiny, broadcast). Self-pairs are excluded, matching v_maxsim.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             k: Int): DataFrame = {
    val qrows = graft.Materialize.forceCached(rows(queries))
    val probeBkts = qrows.select("hbkt").distinct().collect().map(_.getInt(0)).toSeq
    val inv = StoreFs.openParquet(spark, path).where(col("hbkt").isin(probeBkts: _*))
    val qs = qrows.select(col("doc_id").as("q_id"), col("h"))
    val cand = Knn.maxsimCand(qs, inv.select("doc_id", "h"))
    val qv = qrows.select(col("doc_id").as("q_id") +: col("h").as("qh")
      +: (1 to Knn.MvDim).map(i => col(s"w$i").as(s"q$i")): _*)
    val dv = StoreFs.openParquet(spark, path)
      .select(col("doc_id") +: (1 to Knn.MvDim).map(i => col(s"w$i").as(s"d$i")): _*)
    Knn.maxsimTail(cand, dv, qv, k)
  }
}
