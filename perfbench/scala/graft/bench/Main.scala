package graft.bench

import java.lang.management.ManagementFactory
import graft.GraftSession

/** A workload: built once per set-up round, then driven by one closed-loop
  * client until the deadline, then checked.
  */
trait Workload {
  /** Kind of the op the end-to-end latency is taken over. */
  def mainKind: String
  def setup(round: Int): Unit
  def warmUp(): Unit
  def run(deadlineNs: Long): Unit
  def finish(): Unit
}

/** Entry point of the benchmark JVM. Arguments are `--key value` pairs:
  * workload, seed, seconds, trace (0|1), work (scratch dir), out (result
  * file), fail-op (op id that must fail; -1 for none), cores.
  */
object Main {
  /** Set-up rounds per run; set-up time is their median. */
  val Setups = 2
  /** Layers whose self time traced runs report: the benchmark client
    * (`op`), graft.sources, the lookup's metadata/vote step,
    * graft.operators, graft.expressions through SQL, and Spark jobs.
    */
  val SelfLayers = Seq("op", "sources", "lookup", "operators", "expressions", "spark")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("work"), a("out"), a.getOrElse("fail-op", "-1").toInt)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = a.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val b = new Bench(spark, o)
    log(f"session up after $sessionS%.2f s")
    val exit =
      try {
        val w: Workload = o.workload match {
          case "lookup" => new LookupWorkload(b)
          case "curate" => new CurateWorkload(b)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        // set up several times and keep the median, so set-up time is a
        // steady figure; the last round's inputs are the ones measured
        b.phase("setup")
        val setupS = (0 until Setups).map { r =>
          val t0 = System.nanoTime()
          w.setup(r)
          val s = (System.nanoTime() - t0) / 1e9
          log(f"setup round $r took $s%.2f s")
          s
        }
        val warmS = { val t0 = System.nanoTime(); w.warmUp(); (System.nanoTime() - t0) / 1e9 }
        log(f"warm-up took $warmS%.2f s")
        b.e2e("setup_s", sessionS + Stats.median(setupS) + warmS, "s")
        b.layer("setup.session_s", sessionS, "s")
        b.phase("run")
        val t0 = System.nanoTime()
        w.run(t0 + o.seconds * 1000000000L)
        b.layer("run.wall_s", (System.nanoTime() - t0) / 1e9, "s")
        log("run done")
        w.finish()
        log("finish done")
        if (o.trace) common(b, w.mainKind)
        b.writeResult(conditions(b, cores))
        if (o.trace) b.writeTrace(o.out.stripSuffix(".json") + ".trace.json")
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          b.failures += s"workload aborted: $e"
          b.writeResult(conditions(b, cores))
          1
      }
    spark.stop()
    sys.exit(exit)
  }

  /** Per-layer metrics every traced run reports, plus the trace summary. */
  private def common(b: Bench, kind: String): Unit = {
    val main = b.ops.filter(o => o.ok && o.kind == kind).toSeq
    b.layer("jvm.gc_ms_per_op", Stats.mean(main.map(_.gcMs.toDouble)), "ms")
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    b.layer("jvm.heap_after_gc_mb", heap / 1048576.0, "MB")
    val js = main.map(o => b.opJobs(o.id))
    b.layer("spark.core_utilization",
      js.map(_.runMs.toDouble).sum / (main.map(_.ms).sum * b.cores).max(1e-9), "ratio")
    val (tr, un) = main.partition(_.traced)
    val overhead =
      if (tr.isEmpty || un.isEmpty) 0.0 else Stats.median(tr.map(_.ms)) - Stats.median(un.map(_.ms))
    b.layer("trace.overhead_ms_per_op", overhead, "ms")
    val self = b.selfTimes(tr.map(_.id).toSet)
    for (l <- SelfLayers)
      b.layer(s"self.${l}_ms_per_op", self.get(l).map(_._1).getOrElse(0.0) / tr.size.max(1), "ms")
    val summary = Seq(
      "workload" -> Json.str(b.opts.workload),
      "seed" -> b.opts.seed.toString,
      "op_kind" -> Json.str(kind),
      "ops_traced" -> tr.size.toString,
      "ops_untraced" -> un.size.toString,
      "tracing_overhead_ms_per_op" -> Json.num(overhead),
      "counts_per_op" -> Seq[(String, OpJobs => Double)](
          "jobs" -> (_.jobs.toDouble), "tasks" -> (_.tasks.toDouble),
          "input_records" -> (_.inputRecords.toDouble),
          "shuffle_read_bytes" -> (_.shuffleReadBytes.toDouble),
          "shuffle_write_bytes" -> (_.shuffleWriteBytes.toDouble),
          "output_records" -> (_.outputRecords.toDouble), "output_bytes" -> (_.outputBytes.toDouble),
          "task_run_ms" -> (_.runMs.toDouble))
        .map { case (k, f) => s"${Json.str(k)}: ${Json.num(Stats.mean(js.map(f)))}" }
        .mkString("{", ", ", "}"),
      "self_ms" -> self.toSeq.sortBy(_._1).map { case (l, (ms, n)) =>
        s"${Json.str(l)}: {\"total_ms\": ${Json.num(ms)}, \"spans\": $n, \"per_op_ms\": ${Json.num(ms / tr.size.max(1))}}"
      }.mkString("{", ", ", "}"))
    Json.write(b.opts.out.stripSuffix(".json") + ".summary.json",
      summary.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{\n", ",\n", "\n}\n"))
  }

  def log(msg: String): Unit =
    System.err.println(f"[bench ${System.currentTimeMillis() / 1000.0}%.3f] $msg")

  private def conditions(b: Bench, cores: Int): Seq[(String, String)] = Seq(
    "nproc" -> cores.toString,
    "master" -> Json.str(b.sc.master),
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
    "seed" -> b.opts.seed.toString,
    "seconds" -> b.opts.seconds.toString,
    "trace" -> b.opts.trace.toString,
    "workload" -> Json.str(b.opts.workload),
    "setups" -> Setups.toString,
    "spark_version" -> Json.str(b.spark.version),
    "java_version" -> Json.str(System.getProperty("java.version")))
}
