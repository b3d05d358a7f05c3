package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query is materialized through the `noop` sink — a bare
  * .count() lets Catalyst prune the expensive projections (a MinHash
  * query would "run" without hashing anything), which would make the
  * numbers fiction.
  *
  * Before the timed pass, every query runs once untimed at the same SF
  * so JVM JIT, whole-stage-codegen compilation, and classloading are
  * paid up front — the timed numbers then measure the queries, not the
  * cold start. (A real cluster amortizes those costs across the app's
  * lifetime; folding them into the first few alphabetical queries made
  * the per-query numbers fiction.)
  *
  * A query that throws fails the bench: its time is never recorded,
  * and the run exits non-zero listing every failed query instead of
  * writing a result.
  */
object Bench {

  /** One pass over `queries`, each materialized through the noop sink:
    * the seconds of every query that succeeded, and the names of the
    * queries that threw — a failed query has no time to record.
    */
  private[graft] def runPass(spark: SparkSession,
                             queries: Seq[(String, (SparkSession, String) => DataFrame)],
                             dir: String, pass: String): (Seq[(String, Double)], Seq[String]) = {
    val failed = Seq.newBuilder[String]
    val times = queries.sortBy(_._1).flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed ($pass): ${e.getMessage}")
          failed += name
          false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      // operators materialize shared subplans (signature tables, band
      // keys) via cache() or localCheckpoint(); release BOTH kinds of
      // blocks deterministically so per-query timings stay
      // order-independent and blocks don't accumulate memory pressure
      // (clearCache alone leaves checkpointed RDD blocks to the GC)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (ok) Some(name -> secs) else None
    }
    (times, failed.result())
  }

  /** Whether a previous bench.json was taken under this run's
    * conditions: the same SF and the same core count (a run without a
    * recorded core count is not comparable).
    */
  private[graft] def comparable(prev: String, sfDir: String, cpus: String): Boolean =
    prev.contains("\"sf\":\"" + sfDir + "\"") &&
      "\"cpus\":([0-9]+)".r.findFirstMatchIn(prev).map(_.group(1)).contains(cpus)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = GraftSession.builder(master = s"local[$cpus]",
        shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // a query that throws in any pass fails the whole bench
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def runAll(dir: String, timed: Boolean): Seq[(String, Double)] = {
      val (times, bad) = runPass(spark, SparkEntry.queries.toSeq, dir,
        if (timed) "timed" else "warm-up")
      failed ++= bad
      times
    }
    def exitIfFailed(): Unit = if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED ${failed.size} queries: ${failed.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }

    // CALIBRATION probe — constant work, timed once per pass, so
    // round-over-round comparisons can be normalized for ambient VM
    // load (r13 read 0.89× and r14 1.27× on UNTOUCHED queries; the
    // drift was the machine, not the engine, and min-of-N cannot
    // remove sustained steal). Two legs: a fixed single-thread CPU
    // loop (JIT-warmed xorshift — pure compute, no I/O) and a fixed
    // full scan of the SF dir's nation+region+supplier tables (Spark
    // scheduling + parquet read at constant bytes). A consumer divides
    // a round's query times by (cal_round / cal_baseline) to compare
    // engines rather than machines.
    def cpuProbe(): Double = {
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 400000000) { // ~0.3-0.6 s of pure ALU work
        h ^= h << 13; h ^= h >>> 7; h ^= h << 17
        i += 1
      }
      if (h == 42) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    def scanProbe(dir: String): Double = {
      val t0 = System.nanoTime()
      Seq("nation", "region", "supplier").foreach { t =>
        spark.read.parquet(s"$dir/$t.parquet").write
          .format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Untimed warm-up at the SAME scale factor: whole-stage-codegen
    // compilation (janino) and JIT of the generated classes are
    // per-plan-shape, and AQE picks different physical plans at
    // different SFs — so warming at a smaller SF leaves the timed pass
    // paying 10-40s of cold compile on the biggest plans. Steady-state
    // per-query times are what a long-lived cluster app sees.
    cpuProbe(); scanProbe(sfDir) // warm the probes too (JIT, scan plan)
    runAll(sfDir, timed = false)
    exitIfFailed()

    // Per-query min over N timed passes: this VM shows ~3× CPU-steal
    // spikes on single runs (an 0.3s scan can record 18s), so one pass
    // reports noise, not the engine. Min-of-N is the steady-state
    // number a cluster scheduler would see. One calibration pair is
    // taken IMMEDIATELY BEFORE each timed pass, so sustained ambient
    // load shows up in the calibration series exactly as it does in
    // the query series.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val calibs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val passes = (1 to reps).map { _ =>
      calibs += ((cpuProbe(), scanProbe(sfDir)))
      runAll(sfDir, timed = true).toMap
    }
    exitIfFailed()
    val results = passes.head.keys.toSeq.sorted
      .map(name => name -> passes.map(_(name)).min)
    // 3-decimal (millisecond) precision keeps the full line ~1KB under
    // the driver's tail window — r4's capture lost the head of the
    // full-precision line and recorded parsed:null
    def rounded(v: Double): BigDecimal =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + rounded(v) }
      .mkString("{", ",", "}")
    // total = sum of the already-rounded per-query values, so a
    // consumer cross-checking value against queries reconciles exactly
    val total = results.map(r => rounded(r._2)).sum
    // calibration block: per-pass series + min (min matches the
    // per-query min-of-N aggregation, so normalization compares like
    // with like)
    val calJson = {
      val cpu = calibs.map(c => rounded(c._1))
      val scan = calibs.map(c => rounded(c._2))
      s"""{"cpu":[${cpu.mkString(",")}],"scan":[${scan.mkString(",")}],""" +
        s""""cpu_min":${cpu.min},"scan_min":${scan.min},"reps":$reps}"""
    }
    // ---- calibration CONSUMER (r16 — the reader the r15 probe series
    // was built for): shared-query ratio vs the PREVIOUS committed
    // bench.json (last round's close), raw AND probe-normalized. The
    // r13–r15 ambient band (0.89x/1.27x/1.04x on untouched queries)
    // is machine drift, not engine drift; dividing the raw ratio by
    // the cpu/scan probe ratios (this run's min over the prev run's
    // min) removes the machine from the comparison. Read BEFORE the
    // overwrite below; silently omitted when no comparable prev
    // exists (different SF or core count, first run, unparseable).
    val vsPrev: String = scala.util.Try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench.json")), "UTF-8")
      require(comparable(txt, sfDir, cpus), "previous bench ran under other conditions")
      def num(key: String): Double =
        ("\"" + key + "\":([0-9.]+)").r.findFirstMatchIn(txt).get.group(1).toDouble
      val qblock = txt.substring(txt.indexOf("\"queries\":{") + 10)
      val prev = "\"([A-Za-z0-9_]+)\":([0-9.]+)".r
        .findAllMatchIn(qblock.substring(0, qblock.indexOf('}') + 1))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val cur = results.toMap
      val shared = prev.keySet.intersect(cur.keySet).toSeq
      require(shared.size >= 10, "too few shared queries to compare")
      val (sumPrev, sumCur) = (shared.map(prev).sum, shared.map(cur).sum)
      val med = shared.map(q => cur(q) / prev(q)).sorted.apply(shared.size / 2)
      val raw = sumCur / sumPrev
      val fCpu = calibs.map(_._1).min / num("cpu_min")
      val fScan = calibs.map(_._2).min / num("scan_min")
      s""""vs_prev":{"shared":${shared.size},"prev_sec":${rounded(sumPrev)},""" +
        s""""cur_sec":${rounded(sumCur)},"ratio_raw":${rounded(raw)},""" +
        s""""median_raw":${rounded(med)},"cpu_factor":${rounded(fCpu)},""" +
        s""""scan_factor":${rounded(fScan)},""" +
        s""""ratio_cpu_norm":${rounded(raw / fCpu)},""" +
        s""""ratio_scan_norm":${rounded(raw / fScan)}},"""
    }.getOrElse("")
    def line(extra: String) =
      s"""{"metric":"total","value":$total,"unit":"sec",$extra$vsPrev"calibration":$calJson,"queries":$qs,"sf":"$sfDir","cpus":$cpus}"""
    // The full per-query line is ~2.5KB — r5 and r6 both recorded
    // parsed:null because the driver's stdout tail window clips it. So:
    // full line goes FIRST on stdout (and, canonically, to bench.json);
    // the genuinely LAST stdout line is a SHORT summary (total + count
    // + slowest) that survives any tail truncation and still carries
    // the metric/value/unit/queries/sf shape the driver parses. The
    // short line's "queries" map holds only the 5 slowest entries —
    // complete data lives in bench.json.
    println(line("\"pos\":\"head\","))
    java.nio.file.Files.write(java.nio.file.Paths.get("bench.json"),
      line("").getBytes("UTF-8"))
    val slow = results.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + rounded(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"calibration":$calJson,"queries":$slow,"queries_file":"bench.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
