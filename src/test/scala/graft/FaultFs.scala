package graft

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A Hadoop FileSystem simulating OBJECT-STORE (S3A-like) semantics
  * over the local disk, with injectable crash points — the test rig
  * that turns StoreFs's documented S3A atomicity contract
  * (StoreFs.scala, "Atomicity contract by scheme") from prose into a
  * staged-crash matrix:
  *
  *  - `rename` is COPY + DELETE, not atomic: the crash window widens
  *    from "none" to "the duration of the copy". Injection can crash
  *    BEFORE the copy, MID-copy (half a directory's children / half a
  *    file's bytes — a genuinely TORN destination), or AFTER the copy
  *    but before the source delete (both trees complete and present).
  *  - `create(path, overwrite = false)` IGNORES exclusivity (S3A's
  *    best-effort create — the reason the maintenance lock is
  *    documented as advisory there).
  *  - `delete` can crash before removing a matched path (the vacuum
  *    tombstone-vs-reclaim window).
  *  - `create` can crash after truncating a file, before writing it.
  *
  * Registered under scheme `faulty`; every path delegates to a
  * RawLocalFileSystem with the scheme translated, so Spark jobs,
  * parquet scans, and the whole StoreMaintenance protocol run through
  * it unmodified.
  */
class FaultFs extends FileSystem {
  private val local = new RawLocalFileSystem()
  private var wd = new Path("faulty:///")

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    local.initialize(URI.create("file:///"), conf)
    wd = new Path("faulty://" + local.getWorkingDirectory.toUri.getPath)
  }

  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")

  private def toLocal(p: Path): Path = new Path("file", null, p.toUri.getPath)
  private def toFaulty(p: Path): Path = new Path("faulty", null, p.toUri.getPath)
  private def translate(s: FileStatus): FileStatus = {
    s.setPath(toFaulty(s.getPath)); s
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)

  /** S3A-style best-effort exclusivity: `overwrite = false` is NOT
    * honored — the create succeeds even when the file exists. An armed
    * crash fires before the file exists, or (mid / after) once the
    * create has truncated it but before any byte lands — the torn-write
    * window of an in-place overwrite.
    */
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.maybePause(f.toString, f.toString, FaultFs.CreateOp)
    val fire = FaultFs.fires(f.toString, f.toString, FaultFs.CreateOp)
    if (fire == FaultFs.CrashBefore)
      throw new FaultFs.InjectedCrash(s"create $f: before create")
    val out = local.create(toLocal(f), permission, true, bufferSize, replication,
      blockSize, progress)
    if (fire != FaultFs.NoCrash) {
      out.close()
      throw new FaultFs.InjectedCrash(s"create $f: before any byte was written")
    }
    out
  }

  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    throw new java.io.IOException("append unsupported on faulty://")

  override def rename(src: Path, dst: Path): Boolean = {
    val ls = toLocal(src)
    val ld = toLocal(dst)
    if (!local.exists(ls)) return false
    FaultFs.maybePause(src.toString, dst.toString, FaultFs.RenameOp)
    val fire = FaultFs.fires(src.toString, dst.toString, FaultFs.RenameOp)
    if (fire == FaultFs.CrashBefore)
      throw new FaultFs.InjectedCrash(s"rename $src -> $dst: before copy")
    copyTree(ls, ld, torn = fire == FaultFs.CrashMid)
    if (fire == FaultFs.CrashMid)
      throw new FaultFs.InjectedCrash(s"rename $src -> $dst: mid copy")
    if (fire == FaultFs.CrashAfter)
      throw new FaultFs.InjectedCrash(s"rename $src -> $dst: after copy, before delete")
    local.delete(ls, true)
    true
  }

  /** Recursive copy in deterministic (name-sorted) order. With `torn`,
    * stop after half the children of the top directory (or half the
    * bytes of a plain file) — the shape a mid-copy crash leaves.
    */
  private def copyTree(src: Path, dst: Path, torn: Boolean): Unit = {
    val st = local.getFileStatus(src)
    if (st.isFile) {
      if (local.exists(dst)) local.delete(dst, true)
      val in = local.open(src)
      val out = local.create(dst, true)
      try {
        val total = st.getLen
        val limit = if (torn) total / 2 else total
        val buf = new Array[Byte](64 * 1024)
        var copied = 0L
        var n = in.read(buf)
        while (n > 0 && copied < limit) {
          val take = math.min(n.toLong, limit - copied).toInt
          out.write(buf, 0, take)
          copied += take
          n = if (copied < limit) in.read(buf) else -1
        }
      } finally { in.close(); out.close() }
    } else {
      local.mkdirs(dst)
      val kids = local.listStatus(src).sortBy(_.getPath.getName)
      val upTo = if (torn) kids.length / 2 else kids.length
      kids.take(upTo).foreach { k =>
        copyTree(k.getPath, new Path(dst, k.getPath.getName), torn = false)
      }
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (FaultFs.fires(f.toString, f.toString, FaultFs.DeleteOp) != FaultFs.NoCrash)
      throw new FaultFs.InjectedCrash(s"delete $f: before delete")
    local.delete(toLocal(f), recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(translate)

  override def setWorkingDirectory(d: Path): Unit = { wd = d }
  override def getWorkingDirectory: Path = wd

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)

  override def getFileStatus(f: Path): FileStatus =
    translate(local.getFileStatus(toLocal(f)))
}

/** Crash-injection control for [[FaultFs]] — armed by the spec, fired
  * by the k-th MATCHING operation (substring match on src/dst, with
  * Spark's job-internal `_temporary` traffic excluded so the matrix
  * indexes the maintenance protocol's own steps deterministically).
  */
object FaultFs {
  sealed trait Op
  case object RenameOp extends Op
  case object DeleteOp extends Op
  case object CreateOp extends Op

  sealed trait Crash
  case object NoCrash extends Crash
  case object CrashBefore extends Crash
  case object CrashMid extends Crash
  case object CrashAfter extends Crash

  final class InjectedCrash(msg: String) extends java.io.IOException(msg)

  final case class Arm(op: Op, substrings: Seq[String], at: Int, phase: Crash)

  @volatile private var armed: Option[Arm] = None
  private val matched = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var lastFired: Boolean = false

  def arm(op: Op, substrings: Seq[String], at: Int, phase: Crash): Unit = {
    matched.set(0)
    lastFired = false
    armed = Some(Arm(op, substrings, at, phase))
  }

  def disarm(): Unit = { armed = None }

  /** Matching-operation count since the last [[arm]] — arm with
    * `at = Int.MaxValue` to COUNT a protocol's matching renames
    * without firing, then sample crash indexes from the total.
    */
  def matchedCount: Int = matched.get()

  private[graft] def fires(src: String, dst: String, op: Op): Crash =
    armed match {
      case Some(a) if a.op == op &&
          !src.contains("_temporary") && !dst.contains("_temporary") &&
          a.substrings.exists(s => src.contains(s) || dst.contains(s)) =>
        if (matched.incrementAndGet() == a.at) { lastFired = true; a.phase }
        else NoCrash
      case _ => NoCrash
    }

  // ---------------------------------------------------------------
  // pause injection — the two-maintainer interleaving rig: the k-th
  // matching operation BLOCKS (signalling `pauseReached`) until the
  // spec releases `pauseResume`, so a second maintainer can run a
  // complete pass while the first is provably mid-protocol. Disarm
  // after acquiring `pauseReached` so the second maintainer's own
  // operations don't match; the parked thread stays parked either way.
  // ---------------------------------------------------------------

  final case class PauseArm(op: Op, substrings: Seq[String], at: Int)

  @volatile private var pauseArmed: Option[PauseArm] = None
  private val pauseMatched = new java.util.concurrent.atomic.AtomicInteger(0)
  val pauseReached = new java.util.concurrent.Semaphore(0)
  val pauseResume = new java.util.concurrent.Semaphore(0)

  def armPause(op: Op, substrings: Seq[String], at: Int): Unit = {
    pauseMatched.set(0)
    pauseReached.drainPermits()
    pauseResume.drainPermits()
    pauseArmed = Some(PauseArm(op, substrings, at))
  }

  def disarmPause(): Unit = { pauseArmed = None }

  private[graft] def maybePause(src: String, dst: String, op: Op): Unit =
    pauseArmed match {
      case Some(a) if a.op == op &&
          !src.contains("_temporary") && !dst.contains("_temporary") &&
          a.substrings.exists(s => src.contains(s) || dst.contains(s)) =>
        if (pauseMatched.incrementAndGet() == a.at) {
          pauseReached.release()
          pauseResume.acquire()
        }
      case _ => ()
    }
}
