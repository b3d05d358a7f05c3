package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructType}

/** Filesystem seam for the store maintenance layer — every lock,
  * manifest, listing, version dir, tombstone, and sidecar check goes
  * through the Hadoop [[FileSystem]] API (public, ships with Spark),
  * so the entire lifecycle (compact/purge/vacuum/retrain/readBefore/
  * versionedAppend/locking) runs unchanged on `file://`, HDFS, or any
  * Hadoop-compatible store. The reference has no equivalent (it is a
  * single-process FAISS demo persisting to the local disk,
  * /root/reference/build_faiss_db.py:218-226); at 100 TB the store
  * lives on a cluster filesystem and `java.io.File` simply does not
  * reach it — this seam is what makes the maintenance contract
  * portable.
  *
  * == Atomicity contract by scheme ==
  *
  *  - `file://` — create-exclusive uses `java.nio` `CREATE_NEW`
  *    (truly atomic; Hadoop's RawLocalFileSystem `create(overwrite =
  *    false)` is exists-then-create and can double-acquire under
  *    contention, which the version-allocation spin lock cannot
  *    tolerate). Renames are POSIX atomic.
  *  - HDFS — `create(path, overwrite=false)` is atomic at the
  *    NameNode; directory rename is atomic. Full contract holds.
  *  - S3A — rename is copy+delete (NOT atomic) and create-exclusive
  *    is best-effort. The swap protocol's crash windows widen from
  *    "none" to "the duration of the copy"; [[StoreMaintenance
  *    .recover]] still settles every outcome because the manifest is
  *    the commit point, but OPERATORS MUST serialize maintainers
  *    externally (the lock is advisory there). This is the documented
  *    Delta-on-S3 caveat and carries over verbatim.
  */
private[graft] object StoreFs {

  /** Active Hadoop configuration: the session's (so `fs.defaultFS`,
    * credentials, and per-bucket settings apply), or a vanilla one
    * when no session exists (pure-path utilities in tests).
    */
  def conf: Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Resolve a store path string against its filesystem (relative
    * local paths qualify against the working directory, URIs against
    * their scheme's FS).
    */
  def qualified(path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(conf).makeQualified(p)
  }

  def fsOf(p: Path): FileSystem = p.getFileSystem(conf)

  /** Directory-listing counter — the observability hook the
    * O(touched-dirs) append contract is spec'd against (the Round9
    * job-counting pattern, applied to listings): tests snapshot it
    * around an append and assert the listing count scales with the
    * dirs the append touched, not the store's partition count.
    */
  val listings = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-thread listing counter backing [[countListings]] — the
    * maintenance layer lists directories on the calling thread, so a
    * thread-local delta attributes listings to one store operation
    * even when parallel suites (or listener-driven store reads) bump
    * the global counter concurrently.
    */
  private val tlListings = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Run `body` and return (result, directory listings IT performed on
    * this thread) — the race-free way to assert the O(touched-dirs)
    * contract (snapshotting the process-global [[listings]] counter is
    * flaky under parallel test execution).
    */
  def countListings[T](body: => T): (T, Long) = {
    val start = tlListings.get()
    val r = body
    (r, tlListings.get() - start)
  }

  /** List a directory's immediate children; a missing dir lists
    * empty (the `Option(listFiles()).getOrElse(empty)` idiom).
    * Checksum sidecars (`.crc`) are invisible here by construction —
    * ChecksumFileSystem filters them — which is why the maintenance
    * layer no longer handles them by hand.
    */
  def list(fs: FileSystem, d: Path): Array[FileStatus] = {
    listings.incrementAndGet()
    tlListings.set(tlListings.get() + 1)
    try fs.listStatus(d)
    catch { case _: java.io.FileNotFoundException => Array.empty }
  }

  def exists(fs: FileSystem, p: Path): Boolean = fs.exists(p)

  /** Existence check for a store artifact by path string — the
    * presence probe (`.model`, `.codes`, `.driftstats`, `.dlbuckets`)
    * every build-once gate and maintainer runs.
    */
  def exists(path: String): Boolean = {
    val p = qualified(path)
    fsOf(p).exists(p)
  }

  /** Absolutize a HARNESS work path (build-once gate caches, streamed
    * store roots, fixture dirs) against the active filesystem — the
    * qualified URI string. Replaces `new java.io.File(p)
    * .getAbsolutePath` in the gate harness: on a local session this
    * resolves to the same target/ directory (file: scheme), on a
    * cluster session the caches land on fs.defaultFS instead of
    * silently binding to the driver's local disk.
    */
  def workPath(path: String): String = qualified(path).toString

  /** The key of a gate's scratch data: the application id, so sessions
    * sharing a working dir never clobber each other's stores, PLUS the
    * corpus dir, so the existence guard of a build-once gate never
    * serves one corpus's store to another in a session that touches
    * several scale factors (SweepBench).
    */
  def gateTag(spark: SparkSession, dir: String): String =
    spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") +
      "_d" + Integer.toHexString(dir.hashCode)

  /** A gate's scratch root, `target/<name>_<gateTag>`, as a [[workPath]]. */
  def gatePath(spark: SparkSession, dir: String, name: String): String =
    workPath(s"target/${name}_${gateTag(spark, dir)}")

  /** mkdirs by path string (harness out-dirs). */
  def mkdirs(path: String): Boolean = {
    val p = qualified(path)
    fsOf(p).mkdirs(p)
  }

  def isFile(fs: FileSystem, p: Path): Boolean =
    try fs.getFileStatus(p).isFile
    catch { case _: java.io.FileNotFoundException => false }

  def isDir(fs: FileSystem, p: Path): Boolean =
    try fs.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  def mkdirs(fs: FileSystem, p: Path): Boolean = fs.mkdirs(p)

  /** Recursive delete; missing path is a no-op (java.io semantics). */
  def delete(fs: FileSystem, p: Path): Boolean =
    try fs.delete(p, true)
    catch { case _: java.io.FileNotFoundException => false }

  def mtime(fs: FileSystem, p: Path): Long =
    try fs.getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => 0L }

  def writeLines(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Atomic create-exclusive: true = created (holding the lock),
    * false = already exists. See the scheme contract in the object
    * doc — local paths take the `java.nio` CREATE_NEW fast path so
    * same-host maintainers (and the in-JVM version-allocation spin)
    * keep genuinely atomic acquisition; cluster schemes use
    * `FileSystem.create(path, overwrite = false)`, atomic on HDFS.
    */
  def createExclusive(fs: FileSystem, p: Path, lines: Seq[String]): Boolean =
    if (fs.getScheme == "file") {
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p.toUri.getPath),
          java.util.Arrays.asList(lines: _*),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val out = fs.create(p, false)
        try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        // an RPC-wrapped exists-contention carries the server-side
        // class name; HDFS lease conflicts (another writer mid-create)
        // are contention too. Anything else — permission, quota,
        // missing parent ("Parent path does not exist" also contains
        // 'xist'!) — is a REAL I/O failure and must propagate, not be
        // misreported as "store is locked by holder '?'" (whose
        // runbook is breakLock+recover)
        case e: org.apache.hadoop.ipc.RemoteException
            if Option(e.getClassName).exists(c =>
              c.endsWith("FileAlreadyExistsException") ||
                c.endsWith("AlreadyBeingCreatedException")) => false
      }
    }

  /** File move with replace-existing semantics (the swap protocol's
    * idempotent re-run: a re-completed manifest step may find its
    * destination already moved). Non-atomic when dst exists (delete
    * then rename) — safe here because every caller is manifest-driven
    * and re-runnable.
    */
  def moveReplace(fs: FileSystem, src: Path, dst: Path): Unit = {
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** Directory rename as a commit point (versionedAppend's staged
    * record): atomic on local and HDFS; the S3A caveat is documented
    * on the object.
    */
  def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  def copyFile(fs: FileSystem, src: Path, dst: Path): Unit = {
    FileUtil.copy(fs, src, fs, dst, false, true, conf); ()
  }

  /** Spark's hidden-name rule for file-source listings: `_`- and
    * `.`-prefixed names are skipped (except `k=v` partition dirs and
    * the parquet summary files), and so are in-flight `._COPYING_`
    * uploads.
    */
  private def hiddenName(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** The leaf files of a dataset directory as Spark's file index
    * lists them (hidden names skipped, partition dirs descended), in
    * path order — the order parquet schema inference picks its footer
    * from. A missing directory lists empty.
    */
  private def leafFiles(root: Path): Seq[FileStatus] = {
    val fs = fsOf(root)
    def walk(d: Path): Seq[FileStatus] =
      list(fs, d).toSeq.filterNot(s => hiddenName(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    walk(root).sortBy(_.getPath.toString)
  }

  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def isSummary(s: FileStatus): Boolean =
    s.getPath.getName == "_metadata" || s.getPath.getName == "_common_metadata"

  /** The row schema Spark infers from one footer — Spark's own row
    * schema when the writer stored it, otherwise the parquet schema
    * converted under the session's read confs, the same conversion
    * `ParquetFileFormat.readSchemaFromFooter` makes. None when the
    * footer cannot be read or converted (inference then reports it).
    */
  private def footerSchema(spark: SparkSession, f: FileStatus): Option[StructType] =
    scala.util.Try {
      // over the session's Hadoop conf (parquet's own defaults would
      // load a fresh Configuration from its XML resources on every open)
      val c = conf
      val r = new ParquetFileReader(HadoopInputFile.fromStatus(f, c),
        HadoopReadOptions.builder(c, f.getPath).build())
      val meta = try r.getFooter.getFileMetaData finally r.close()
      Option(meta.getKeyValueMetaData.get(SparkRowMetadataKey)) match {
        case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
        case None => schemaConverter(spark).convert(meta.getSchema)
      }
    }.toOption

  private def schemaConverter(spark: SparkSession): ParquetToSparkSchemaConverter = {
    val c = spark.sessionState.conf
    new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = c.isParquetBinaryAsString,
      assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
      inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
      nanosAsLong = c.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** Open a parquet dataset with the row schema taken from the first
    * data file's footer — the footer `spark.read.parquet` would infer
    * from, read here on the driver instead of in a one-task schema
    * job. Footers from other writers (no Spark row schema) are
    * converted as Spark's inference converts them. Falls back to
    * `spark.read.parquet` wherever inference would do more than read
    * that one footer: schema merging on, summary files present, no
    * data file, or a footer that cannot be read or converted. The
    * partition columns are still discovered from the directory names,
    * exactly as before.
    */
  def openParquet(spark: SparkSession, path: String): DataFrame = {
    val files = if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) Nil
      else leafFiles(qualified(path))
    val schema =
      if (files.exists(isSummary)) None
      else files.headOption.flatMap(footerSchema(spark, _))
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }
}
