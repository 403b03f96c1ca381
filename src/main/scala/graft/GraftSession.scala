package graft

import org.apache.spark.sql.SparkSession

/** The one session builder the mains share (Bench, Verify and the
  * `plans` dev tools), so their confs cannot drift apart. */
object GraftSession {

  /** Local session on `SPARK_GRAFT_CPUS` cores (default: every core of
    * the host), with shuffle partitions = cores, AQE with partition
    * coalescing, UTC and no UI.
    *
    * Both broadcast thresholds are 64 MB, size-gated rather than hinted:
    * the minhash verification join's build side (per-doc token arrays)
    * is ~10-15 MB at bench sf — just over the 10 MB default, under which
    * AQE shuffles the near-quadratic candidate side twice. At corpus
    * scale the build side exceeds any threshold and falls back to a
    * shuffled join (PlanAuditSpec guards against a forced hint). A/B'd
    * in r9 (BENCH_NOTES): disabling STATIC broadcasts entirely fixes
    * q03's mis-ranked build side but costs the deep-DAG dedup family
    * ~15% in per-join stage materialization, so q03 carries a targeted
    * strategy hint instead. */
  def apply(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** The state a measured gate run starts from: the driver-side memos
    * (Dedup's bloom bitmap, TotalOrder's order statistics) and Spark's
    * cached frames cleared, so each run pays the builds its oracle SQL
    * implies. The memos deliberately survive `clearCache()` in
    * production; Bench, `plans.JobCount` and the job-count spec call
    * this before every gate they measure. */
  def resetGateState(spark: SparkSession): Unit = {
    graft.operators.Dedup.invalidateBloomMemo(spark)
    graft.operators.TotalOrder.invalidateBoundaryMemo(spark)
    spark.catalog.clearCache()
  }

  /** Blocks until every listener event posted so far has been delivered.
    * Listener delivery is asynchronous, so counters a listener keeps are
    * read only after this. Uses the bus's own `waitUntilEmpty` (private
    * to Spark, so reached by reflection); if that is unavailable it falls
    * back to a one-second sleep. */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(bus)
    } catch { case _: ReflectiveOperationException | _: NoSuchElementException =>
      Thread.sleep(1000)
    }
}
