package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, out: String, failOp: Int)

/** One benchmark op: a request the single client sent and waited for. */
final case class OpRec(id: Int, kind: String, tier: String, startNs: Long, endNs: Long,
                       ok: Boolean, error: String, traced: Boolean, gcMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Counters of the Spark jobs attributed to one op; `jobMs` is the union
  * of their intervals.
  */
final case class OpJobs(jobs: Int, tasks: Long, inputRecords: Long, shuffleReadBytes: Long,
                        shuffleWriteBytes: Long, outputRecords: Long, outputBytes: Long,
                        runMs: Long, jobMs: Double) {
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
}

/** Shared machinery of every workload: the closed-loop op runner, the
  * failure ledger, metric collection, span/job attribution and the
  * result file.
  */
final class Bench(val spark: SparkSession, val opts: Opts) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  val tracer = new Tracer(opts.trace)
  val listener: Option[JobListener] =
    if (opts.trace) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None
  val ops = ArrayBuffer[OpRec]()
  val failures = ArrayBuffer[String]()
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  val inputs = mutable.LinkedHashMap[String, Long]()

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  /** Marks the phase of work outside ops, so its jobs are never
    * attributed to an op that happens to share their millisecond.
    */
  def phase(name: String): Unit =
    if (opts.trace) sc.setJobGroup(s"bench-$name", name, interruptOnCancel = false)

  /** Runs one op: times it, records it, and turns an exception into a
    * failed op that yields no latency sample. In traced runs, spans are
    * on for alternate blocks of `traceBlock` ops, so the run measures its
    * own tracing overhead.
    */
  def op[T](kind: String, tier: String = "", traceBlock: Int = 1)(body: => T): Option[T] = {
    val id = ops.size
    val traced = opts.trace && (id / traceBlock) % 2 == 0
    tracer.enabled = traced
    tracer.op = id
    if (opts.trace) sc.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val r =
      try Right(tracer.span(s"op.$kind")(if (id == opts.failOp) injectFailure() else body))
      catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    tracer.enabled = opts.trace
    tracer.op = -1
    phase("between")
    val err = r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}")
    ops += OpRec(id, kind, tier, t0, t1, r.isRight, err.orNull, traced, gcMs() - gc0)
    err.foreach(m => failures += s"op $id ($kind${if (tier.nonEmpty) s"/$tier" else ""}) threw $m")
    r.toOption
  }

  private def injectFailure(): Nothing = {
    // the benchmark's own failure check: a read of a store that does not exist
    spark.read.parquet(s"${opts.work}/no-such-store").collect()
    throw new IllegalStateException("missing store was readable")
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.toSeq.headOption.getOrElse("")).getOrElse("").take(300)

  /** A completed op whose answer is wrong: it stops being a sample. */
  def wrong(id: Int, msg: String): Unit = {
    val o = ops(id)
    if (o.ok) ops(id) = o.copy(ok = false, error = msg)
    failures += s"op $id (${o.kind}${if (o.tier.nonEmpty) s"/${o.tier}" else ""}) wrong: $msg"
  }

  /** A correctness check outside any op (a setup or end-of-run check). */
  def check(cond: Boolean, what: => String): Unit =
    if (!cond) failures += s"check failed: $what"

  def timedLoop(deadlineNs: Long)(step: Int => Unit): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs) { step(i); i += 1 }
  }

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)

  def okMs(kind: String, tier: String = null): Seq[Double] =
    ops.filter(o => o.ok && o.kind == kind && (tier == null || o.tier == tier)).map(_.ms).toSeq

  def drainBus(): Unit = if (opts.trace) org.apache.spark.BenchBus.drain(sc)

  // ---- attribution of listener jobs to ops (traced runs) -------------

  private var owners: (Int, Int, Map[Int, Int], Map[Int, JobRec]) = (-1, -1, Map.empty, Map.empty)

  /** Job id → owning op id, and job id → job; recomputed when new ops or
    * jobs have arrived. A job belongs to the op whose interval holds its
    * start; its job group breaks millisecond ties. Jobs submitted from
    * the store's pool threads carry a stale group, so containment, not
    * the group, is the rule.
    */
  private def attribution(): (Map[Int, Int], Map[Int, JobRec]) = {
    drainBus()
    val js = listener.map(_.snapshot()).getOrElse(Vector.empty)
    if (owners._1 != ops.size || owners._2 != js.size) {
      val byStart = ops.sortBy(_.startNs)
      val own = js.flatMap { j =>
        val cands = byStart.filter { o =>
          j.startMs >= math.floor(tracer.epochMs(o.startNs)) - 1 &&
            j.startMs <= math.ceil(tracer.epochMs(o.endNs)) + 1
        }
        val owner =
          cands.find(o => j.group == s"op-${o.id}")
            .orElse(if (j.group != null && j.group.startsWith("bench-")) None else cands.headOption)
        owner.map(o => j.id -> o.id)
      }.toMap
      owners = (ops.size, js.size, own, js.map(j => j.id -> j).toMap)
    }
    (owners._3, owners._4)
  }
  private def jobOwner: Map[Int, Int] = attribution()._1
  def jobsById: Map[Int, JobRec] = attribution()._2

  private def jobsOf(opId: Int): Seq[JobRec] =
    jobOwner.collect { case (j, o) if o == opId => jobsById(j) }.toSeq.sortBy(_.id)

  def opJobs(opId: Int): OpJobs = {
    val js = jobsOf(opId)
    OpJobs(js.size, js.map(_.tasks).sum, js.map(_.inputRecords).sum,
      js.map(_.shuffleReadBytes).sum, js.map(_.shuffleWriteBytes).sum,
      js.map(_.outputRecords).sum, js.map(_.outputBytes).sum, js.map(_.runMs).sum,
      Intervals.unionLength(js.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble))))
  }

  /** Op wall time not covered by any of its Spark jobs (driver-side work). */
  def driverGapMs(o: OpRec): Double = math.max(0.0, o.ms - opJobs(o.id).jobMs)

  // ---- per-layer self time -------------------------------------------

  /** Self time per layer (span prefix before the first '.'), with Spark
    * jobs as child spans of the innermost span containing their start.
    */
  def selfTimes(opIds: Set[Int]): Map[String, (Double, Int)] = {
    val spans = tracer.spans.toSeq.filter(s => opIds(s.op))
    val children = spans.groupBy(_.parent)
    val jobChildren = mutable.Map[Int, ArrayBuffer[(Double, Double)]]()
    val jobLayer = ArrayBuffer[Double]()
    for ((jid, oid) <- jobOwner if opIds(oid); j = jobsById(jid) if j.endMs >= 0) {
      val inner = spans.filter(s => s.op == oid &&
          tracer.epochMs(s.startNs) <= j.startMs + 1 && tracer.epochMs(s.endNs) >= j.startMs - 1)
        .sortBy(s => s.endNs - s.startNs).headOption
      inner.foreach { s =>
        jobChildren.getOrElseUpdate(s.id, ArrayBuffer()) += ((j.startMs.toDouble, j.endMs.toDouble))
        jobLayer += (j.endMs - j.startMs).toDouble
      }
    }
    val out = mutable.Map[String, (Double, Int)]()
    def add(layer: String, ms: Double): Unit = {
      val (t, n) = out.getOrElse(layer, (0.0, 0))
      out(layer) = (t + ms, n + 1)
    }
    for (s <- spans) {
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (tracer.epochMs(c.startNs), tracer.epochMs(c.endNs))) ++
        jobChildren.getOrElse(s.id, Nil)
      add(s.name.takeWhile(_ != '.'), s.ms - Intervals.unionLength(kids))
    }
    jobLayer.foreach(add("spark", _))
    out.toMap
  }

  // ---- result file ---------------------------------------------------

  def writeResult(conditions: Seq[(String, String)]): Unit = {
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val correct = failures.isEmpty
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
        .mkString("{", ", ", "}")
    val body = Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metrics(endToEnd),
      "per_layer" -> metrics(perLayer),
      "failures" -> failures.map(Json.str).mkString("[", ", ", "]"),
      "conditions" -> conditions.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}"),
      "inputs" -> inputs.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}"),
      "ops" -> ops.map(o =>
        s"""{"id": ${o.id}, "kind": ${Json.str(o.kind)}, "tier": ${Json.str(o.tier)}, "ok": ${o.ok}, "ms": ${Json.num(o.ms)}}""")
        .mkString("[\n", ",\n", "\n]"))
    Json.write(opts.out, body.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{\n", ",\n", "\n}\n"))
  }

  /** Spans, jobs and ops of a traced run, written once at the end. */
  def writeTrace(path: String): Unit = {
    val sb = new StringBuilder("{\n\"spans\": [\n")
    sb ++= tracer.spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${Json.str(s.name)}, "start_ms": ${Json.num(tracer.epochMs(s.startNs))}, "end_ms": ${Json.num(tracer.epochMs(s.endNs))}}""")
      .mkString(",\n")
    sb ++= "\n],\n\"jobs\": [\n"
    sb ++= jobsById.values.toSeq.sortBy(_.id).map { j =>
      s"""{"id": ${j.id}, "op": ${jobOwner.getOrElse(j.id, -1)}, "group": ${Json.str(String.valueOf(j.group))}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "tasks": ${j.tasks}, "input_records": ${j.inputRecords}, "shuffle_read_bytes": ${j.shuffleReadBytes}, "shuffle_write_bytes": ${j.shuffleWriteBytes}, "output_records": ${j.outputRecords}, "output_bytes": ${j.outputBytes}, "task_run_ms": ${j.runMs}}"""
    }.mkString(",\n")
    sb ++= "\n],\n\"ops\": [\n"
    sb ++= ops.map { o =>
      val c = opJobs(o.id)
      s"""{"id": ${o.id}, "kind": ${Json.str(o.kind)}, "tier": ${Json.str(o.tier)}, "ok": ${o.ok}, "traced": ${o.traced}, "start_ms": ${Json.num(tracer.epochMs(o.startNs))}, "end_ms": ${Json.num(tracer.epochMs(o.endNs))}, "gc_ms": ${o.gcMs}, "jobs": ${c.jobs}, "tasks": ${c.tasks}, "input_records": ${c.inputRecords}, "shuffle_read_bytes": ${c.shuffleReadBytes}, "shuffle_write_bytes": ${c.shuffleWriteBytes}, "output_records": ${c.outputRecords}, "output_bytes": ${c.outputBytes}, "task_run_ms": ${c.runMs}}"""
    }.mkString(",\n")
    sb ++= "\n]\n}\n"
    Json.write(path, sb.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def write(path: String, body: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, body)
  }
}

/** Helpers shared by the workloads' traced metrics. */
object Layers {
  def timedMs(body: => Any): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }

  def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Median duration of the named span over the given ops. */
  def spanP50(b: Bench, name: String, ops: Seq[OpRec]): Double = {
    val ids = ops.map(_.id).toSet
    medianOf(b.tracer.spans.filter(s => s.name == name && ids(s.op)).map(_.ms).toSeq)
  }

  /** Median of `reps` timed calls outside any op. */
  def probe(b: Bench, name: String, reps: Int = 3)(body: => Any): Double =
    Stats.median((0 until reps).map(_ => timedMs(b.tracer.span(name)(body))))

  private def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.toList finally s.close() }
  }

  /** Live data files: parquet files outside dot-prefixed (retired/temp) dirs. */
  def dataFiles(root: String): Seq[Path] = {
    val r = Paths.get(root)
    walk(root).filter { p =>
      p.getFileName.toString.endsWith(".parquet") &&
        !r.relativize(p).iterator().asScala.exists(_.toString.startsWith("."))
    }
  }

  def partitionDirs(root: String): Seq[Path] = {
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.contains("=") && !p.getFileName.toString.startsWith(".")).toList
    finally s.close()
  }

  /** Bytes of every file under the store root, live and retired. */
  def treeBytes(root: String): Long = walk(root).filter(Files.isRegularFile(_)).map(Files.size).sum
}
