package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...}. Each query executes to completion
  * (count() forces the full plan including sinks-less materialization).
  *
  * Host-noise hygiene: this VM shares CPUs with neighbors, and wall-clock
  * on the shuffle-heavy near-dup queries has been observed to vary ~3×
  * with background load. The artifact therefore self-defends:
  *  - the 1-minute loadavg is recorded at bench start/end AND per query;
  *  - any query >1.5× its value in the previous committed full artifact
  *    (BENCH_FULL.json, read before this run overwrites it) is re-run
  *    once, as is any query both slow (>5 s) and started under load >8.
  *    The rerun is COLD-CACHE (clearCache first — the first pass
  *    populates operator caches, and a warm rerun would read as a load
  *    spike for every cache-heavy query) and records its own loadavg.
  *    The reported time is always the first (single-pass) measurement —
  *    never best-of-two, which would bias the headline — and the rerun
  *    triple [first, rerun, rerun_loadavg] lands in `reruns` so a reader
  *    can tell a load spike (rerun much faster at lower load) from a
  *    genuine regression (rerun agrees). Whether a baseline was usable
  *    at all is the artifact's `baseline` field
  *    (loaded|absent|sf_mismatch|unreadable) — a silently disabled
  *    trigger is itself visible;
  *  - a SparkListener accumulates per-query spilled bytes and failed-task
  *    counts (the CloudWatch-alarm analogue of the reference's
  *    terraform/alarm.tf, SURVEY §4) — a silent spill or task retry that
  *    inflates a number shows up in the artifact itself. */
object Bench {

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Task-level health counters. Listener delivery is async, so every
    * per-query delta is read after [[GraftSession.drainListenerBus]]:
    * queries run strictly one at a time, so once the bus is empty the
    * counters hold exactly the tasks of the queries run so far. */
  private final class HealthListener
      extends org.apache.spark.scheduler.SparkListener {
    val spilled = new java.util.concurrent.atomic.AtomicLong(0)
    val failed = new java.util.concurrent.atomic.AtomicLong(0)
    // executor CPU ns (executor + deserialize): the LOAD-ROBUST per-query
    // cost measure — wall-clock on this time-shared host swings 3× with
    // neighbor waves, CPU time does not (r15's JobCount CPU column was
    // the only instrument that could separate noise from regression;
    // recording it per query makes that ruling mechanical)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      Option(e.taskMetrics).foreach { m =>
        spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      }
      if (e.reason != org.apache.spark.Success) failed.incrementAndGet()
    }
  }

  /** Per-sf-dir baseline artifact path: a scale-curve run at
    * testdata_scaled/x10 must not clobber the sf0.1 regression baseline
    * (r10's closing artifact ran with `"baseline": "sf_mismatch"` — the
    * rerun self-defense silently disabled — exactly because the shared
    * BENCH_FULL.json had been overwritten by a curve run). Basename plus
    * a short CRC of the full path so distinct parents with the same leaf
    * ("x1" under two roots) cannot alias. */
  private[graft] def baselinePathFor(sfDir: String): String = {
    val base = java.nio.file.Paths.get(sfDir).getFileName.toString
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val crc = new java.util.zip.CRC32()
    crc.update(sfDir.getBytes("UTF-8"))
    f"BENCH_FULL.$base-${crc.getValue & 0xffffL}%04x.json"
  }

  /** Per-query times from the previous committed full artifact for THIS
    * sf dir (the regression baseline for the rerun trigger), plus a
    * status string that lands in the artifact — the parse is hand-rolled
    * and tightly coupled to the format Bench itself writes, so a silent
    * Map.empty (which disables the rerun trigger entirely) must be
    * VISIBLE: "loaded" | "loaded_legacy" | "absent" | "sf_mismatch" |
    * "unreadable". The per-sf artifact is preferred; the shared legacy
    * BENCH_FULL.json is a migration fallback and only used when its
    * recorded sf matches — a dev run at another sf must not mark
    * everything regressed. */
  private def priorTimes(path: String, sfDir: String): (Map[String, Double], String) = {
    def readOne(p: java.nio.file.Path): Option[(Map[String, Double], String)] =
      try {
        if (!java.nio.file.Files.exists(p)) None
        else {
          val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          if (!s.contains("\"sf\":\"" + sfDir + "\"")) Some((Map.empty, "sf_mismatch"))
          else {
            val qs = s.substring(s.indexOf("\"queries\":{") + 11)
            val body = qs.substring(0, qs.indexOf('}'))
            val m = "\"([^\"]+)\":([0-9.]+)".r.findAllMatchIn(body)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
            Some((m, if (m.isEmpty) "unreadable" else "loaded"))
          }
        }
      } catch { case _: Throwable => Some((Map.empty, "unreadable")) }
    readOne(java.nio.file.Paths.get(path)) match {
      case Some(hit) => hit
      case None =>
        // migration fallback: the pre-r11 shared artifact, trusted only
        // when its sf matches (else report absent — a mismatched legacy
        // file tells us nothing about THIS sf dir)
        readOne(java.nio.file.Paths.get("BENCH_FULL.json")) match {
          case Some((m, "loaded")) => (m, "loaded_legacy")
          case _ => (Map.empty, "absent")
        }
    }
  }

  def main(args: Array[String]): Unit = {
    // ambient load at PROCESS ENTRY — before the SparkSession (whose
    // 16g AlwaysPreTouch heap walk alone pushes the 1-min loadavg to
    // 8-13 for a minute) so the field measures the HOST, not this JVM's
    // own startup. Measured: entry 0.3 vs post-session 13.1 on an idle
    // box.
    val loadEntry = loadavg()
    // dev-only subset (the driver never sets this); an unknown name fails
    // here, before the session starts
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val queries = only.fold(SparkEntry.allQueries)(SparkEntry.gates)
    // Contended-window gate (r9 + r10 both landed the round's closing
    // artifact on a neighbor-load spike): when ambient load at entry
    // exceeds the threshold, poll until it settles or the deadline
    // passes — bounded, so a permanently-busy host still produces an
    // artifact (with the wait + residual load recorded, so a reader can
    // tell "ran clean" from "gave up waiting"). Entry is the one moment
    // the 1-min loadavg reflects ONLY the host: after SparkSession
    // creation our own heap pre-touch dominates it.
    // dev-subset runs (SPARK_GRAFT_ONLY) write BENCH_DEV.json and never
    // touch the baselines the gate protects — don't stall an iterating
    // developer on a busy host
    val settleMax = if (only.isDefined) 0.0 else 300.0
    val settleLoad = 2.0
    val settleT0 = System.nanoTime()
    var loadPreWarm = loadEntry
    while (loadPreWarm > settleLoad &&
        (System.nanoTime() - settleT0) / 1e9 < settleMax) {
      Thread.sleep(10000)
      loadPreWarm = loadavg()
    }
    val settleWait = (System.nanoTime() - settleT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // Warm every query once AT THE MEASURED SF, then measure: compiles all
    // generated code (Janino cache) and JIT-warms the hot loops, so
    // measured times reflect steady-state data-dependent work, not
    // first-run compilation. Warming must use the same sf as measurement:
    // AQE makes size-dependent plan decisions (coalesce counts, runtime
    // broadcasts), so a smaller warm sf compiles DIFFERENT generated code
    // and the measured run still pays Janino+JIT — measured 22% of a
    // mixed-query subset's total at sf0.1 (r6), on top of the 60s+
    // first-run overhead the warm pass has always absorbed.

    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMDIR", sfDir)
    queries.foreach { q =>
      // warm under the SAME memo state as the timed pass (memos
      // cleared) — a warm pass with warm state can compile a different
      // plan shape than the cold timed pass will run, and the timed
      // region then pays the Janino+JIT compile the warm pass exists to
      // absorb
      GraftSession.resetGateState(spark)
      try q.run(spark, warmDir).count() catch { case _: Throwable => () }
      spark.catalog.clearCache() // bound storage across the warm sweep
    }
    // the warm sweep churns the old generation; collect BEFORE measuring
    // so measured queries don't pay the warm pass's mixed-GC debt
    System.gc()
    Thread.sleep(2000)

    // regression baseline: the previous run's full artifact, read BEFORE
    // this run overwrites it
    val (prior, baselineStatus) = priorTimes(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE", baselinePathFor(sfDir)), sfDir)
    val health = new HealthListener
    spark.sparkContext.addSparkListener(health)

    // Cold-semantics hygiene: the driver-side memos (Dedup's bloom bitmap,
    // TotalOrder's order statistics) deliberately survive clearCache —
    // that amortization is their production contract. For MEASUREMENT it
    // would be an asymmetry: the warm sweep pre-populates them, so timed
    // probes would skip the corpus scan their gate SQL implies while the
    // DuckDB baseline executes the full NOT EXISTS/scan every run.
    // GraftSession.resetGateState clears both memos and the cache before
    // every timed query (and before cold reruns), so each measured number
    // includes the build its oracle semantics include. No gate serves
    // state an earlier run left behind: the token-budget gates build
    // their order stats into the memo through ensureOrderStats, so the
    // reset makes each timed gate pay that build; dedup_incremental
    // builds the band index it probes; and the stream replay gates reset
    // their state tables (seed or index build) and drive their triggers
    // on every run.

    val loadStart = loadavg()
    // name, first, rerun, loadavg at rerun start
    var reruns = List.empty[(String, Double, Double, Double)]
    var loads = List.empty[(String, Double)]
    var spills = List.empty[(String, Long)]
    var fails = List.empty[(String, Long)]
    var cpus_ = List.empty[(String, Double)]
    val results = queries.map { q =>
      val loadAtStart = loadavg()
      loads ::= (q.name -> loadAtStart)
      val (spill0, fail0, cpu0) =
        (health.spilled.get(), health.failed.get(), health.cpuNs.get())
      GraftSession.resetGateState(spark)
      def once(): Double = {
        val t0 = System.nanoTime()
        try { q.run(spark, sfDir).count() } catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
      val first = once()
      // CPU attribution for the FIRST pass only (the reported time), read
      // before any rerun adds its own tasks
      GraftSession.drainListenerBus(spark)
      cpus_ ::= (q.name -> (health.cpuNs.get() - cpu0) / 1e9)
      // self-defense triggers: regression vs the last committed artifact
      // (>1.5× prior, with a 0.5 s floor so sub-second jitter doesn't
      // churn), or slow under heavy neighbor load
      val regressed = prior.get(q.name)
        .exists(p => first > 1.5 * p && first > 0.5)
      if (regressed || (first > 5.0 && loadAtStart > 8.0)) {
        // cold-cache rerun: the first pass populated operator caches
        // (CacheOnce sketch frames), and a cache-warm rerun would make
        // every cache-heavy query look like a load spike — the exact
        // ambiguity the rerun exists to resolve. Fresh loadavg recorded
        // so the pair is interpretable on a time-shared host.
        GraftSession.resetGateState(spark)
        val rerunLoad = loadavg()
        reruns ::= ((q.name, first, once(), rerunLoad))
      }
      // outside the timed region: drop operator-cached frames (minhash
      // bands) so entries never accumulate across the 94-query run
      spark.catalog.clearCache()
      GraftSession.drainListenerBus(spark)
      // record zeros too: an all-zero map in the artifact proves the
      // listener was attached and delivering (an empty map is
      // indistinguishable from a broken listener — r8's driver artifact
      // carried {} next to a 0 total and couldn't localize anything)
      spills ::= (q.name -> (health.spilled.get() - spill0))
      fails ::= (q.name -> (health.failed.get() - fail0))
      q.name -> first
    }
    val loadEnd = loadavg()

    def r3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val rr = reruns.reverse
      .map { case (n, a, b, l) =>
        "\"" + n + "\":[" + r3(a) + "," + r3(b) + "," + r3(l) + "]" }
      .mkString("{", ",", "}")
    val loadPer = loads.reverse
      .map { case (n, l) => "\"" + n + "\":" + r3(l) }
      .mkString("{", ",", "}")
    val spillPer = spills.reverse
      .map { case (n, b) => "\"" + n + "\":" + b }
      .mkString("{", ",", "}")
    val cpuPer = cpus_.reverse
      .map { case (n, c) => "\"" + n + "\":" + r3(c) }
      .mkString("{", ",", "}")
    val failPer = fails.reverse
      .map { case (n, c) => "\"" + n + "\":" + c }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // Full per-query detail goes to a file: the driver keeps only the last
    // ~2000 chars of sbt output, and 85+ query entries overflow that — both
    // round-1 and round-2 BENCH files came back with parsed:null because
    // the JSON line's head was truncated. stdout gets a compact line
    // (family subtotals + slowest queries) that fits the tail window.
    val fullJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","loadavg_entry":$loadEntry,"settle_wait_sec":${r3(settleWait)},"loadavg_prewarm":$loadPreWarm,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"baseline":"$baselineStatus","reruns":$rr,"load_per_query":$loadPer,"cpu_sec":$cpuPer,"spill_bytes":$spillPer,"failed_tasks":$failPer}"""
    // filtered dev runs must never clobber the full-surface artifacts
    val fullPath = java.nio.file.Paths.get(
      if (only.isDefined) "BENCH_DEV.json" else "BENCH_FULL.json")
    java.nio.file.Files.write(fullPath,
      (fullJson + "\n").getBytes("UTF-8"))
    // per-sf copy: the regression baseline priorTimes reads next run —
    // curve runs at other sf dirs land in their own files and can no
    // longer disable the sf0.1 rerun defense
    if (only.isEmpty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(baselinePathFor(sfDir)),
        (fullJson + "\n").getBytes("UTF-8"))

    def family(n: String): String =
      if (n.startsWith("q")) "relational"
      else if (n.startsWith("etl")) "etl"
      else n.takeWhile(_ != '_')
    val fams = results.groupBy { case (n, _) => family(n) }.toSeq
      .map { case (f, rs) => f -> rs.map(_._2).sum }
      .sortBy(-_._2)
      .map { case (f, v) => "\"" + f + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val slowest = results.sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // Print the compact line AFTER spark.stop() so it is the final stdout
    // line of the whole JVM — the driver parses the last line as JSON.
    // Log level drops to ERROR first so shutdown WARNs can't land after
    // it; build.sbt forks run with StdoutOutput + showSuccess := false so
    // sbt adds no prefix and no trailing "[success]" line.
    spark.sparkContext.setLogLevel("ERROR")
    try spark.stop() catch { case _: Throwable => () }
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$slowest,"n_queries":${results.size},"families":$fams,"sf":"$sfDir","loadavg_entry":$loadEntry,"settle_wait_sec":${r3(settleWait)},"loadavg_prewarm":$loadPreWarm,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"baseline":"$baselineStatus","reruns":$rr,"spill_bytes_total":${spills.map(_._2).sum},"failed_tasks_total":${fails.map(_._2).sum},"full":"${fullPath.getFileName}"}""")
    System.out.flush()
  }
}
