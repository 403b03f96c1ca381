package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.core.GQuery
import graft.operators.{Dedup, TotalOrder}

/** A gate workload: a fixed set of registered gate queries, run once to
  * warm up and write the outputs the runner checks, then in timed passes
  * until the time budget is spent. Each timed gate is three layer calls:
  * build (`GQuery.run`), plan (force `executedPlan`) and exec (collect the
  * already-planned query's full output). */
final class Gates(spark: SparkSession, tracer: Tracer, names: Seq[String],
    seed: Long, data: String, work: String) {

  private val gates: Seq[GQuery] = {
    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    names.map(byName)
  }

  /** Same cache state before every gate: operator memos dropped,
    * persisted order statistics dropped, cached frames evicted. */
  private def reset(): Unit = {
    Dedup.invalidateBloomMemo(spark)
    TotalOrder.invalidateBoundaryMemo(spark)
    TotalOrder.dropPersistedStats(spark)
    spark.catalog.clearCache()
  }

  private final case class Timed(gate: String, total: Span, build: Span,
      plan: Span, exec: Span, cpuS: Double)

  /** One timed gate; None (with the failure recorded) when it throws or
    * its row count differs from the checked warm-up output. Every failure
    * message of this workload stands for one failed operation. */
  private def timed(q: GQuery, expectRows: Long,
      failures: ArrayBuffer[String]): Option[Timed] = {
    reset()
    val cpu0 = Main.processCpuS()
    try {
      val ((rows, b, p, e), total) = tracer.span("gate:" + q.name) {
        val (df, b) = tracer.span("build")(q.run(spark, data))
        val (_, p) = tracer.span("plan")(df.queryExecution.executedPlan)
        val (rows, e) = tracer.span("exec")(df.collect())
        (rows, b, p, e)
      }
      val cpuS = Main.processCpuS() - cpu0
      if (rows.length != expectRows) {
        failures += s"${q.name}: ${rows.length} rows, checked output has $expectRows"
        None
      } else Some(Timed(q.name, total, b, p, e, cpuS))
    } catch {
      case t: Throwable => failures += s"${q.name}: $t"; None
    }
  }

  def run(seconds: Double): Main.Result = {
    val rng = new scala.util.Random(seed)
    val failures = ArrayBuffer[String]()
    var attempted = 0

    // Warm-up, four passes. The first pays code generation and class
    // loading and writes every gate's full output for the runner's oracle
    // check. The JIT keeps shortening passes for about three more; after
    // them, timed passes are flat, so their median does not depend on how
    // many fit in the time budget.
    tracer.record(false)
    val outputs = rng.shuffle(gates).flatMap { q =>
      reset()
      attempted += 1
      val w0 = System.nanoTime()
      try {
        val df = q.run(spark, data)
        val rows = df.collect()
        val dir = s"$work/out/${q.name}"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(dir)
        println(f"[perfbench] warm ${q.name} ${(System.nanoTime() - w0) / 1e9}%.3f s")
        Some(Main.Output(q.name, dir, rows.length.toLong, q.oracle))
      } catch {
        case t: Throwable => failures += s"${q.name}: $t"; None
      }
    }
    val expect = outputs.map(o => o.gate -> o.rows).toMap
    for (_ <- 1 to 3; q <- rng.shuffle(gates)) {
      attempted += 1
      expect.get(q.name).foreach(timed(q, _, failures))
    }
    reset()
    System.gc()
    val setupS = Main.sinceJvmStartS()

    // Timed passes, at least three so the median pass is a middle one. A
    // traced run alternates traced and untraced passes so that the tracing
    // overhead is measured inside the run.
    val passes = ArrayBuffer[(Boolean, Seq[Timed])]()
    val t0 = System.nanoTime()
    val minPasses = if (tracer.enabled) 4 else 3
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = tracer.enabled && passes.size % 2 == 0
      tracer.record(traced)
      val (done, _) = tracer.span("pass") {
        rng.shuffle(gates).flatMap { q =>
          attempted += 1
          expect.get(q.name).flatMap(timed(q, _, failures))
        }
      }
      passes += ((traced, done))
      println("[perfbench] pass " + done.map(t => f"${t.gate} ${t.total.seconds}%.3f").mkString(", "))
      tracer.record(false)
      reset()
      System.gc()
    }

    import Main.median
    def suite(ps: Seq[Seq[Timed]]) = median(ps.map(_.map(_.total.seconds).sum))
    val untraced = passes.filterNot(_._1).map(_._2)
    val traced = passes.filter(_._1).map(_._2).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "suite_s" -> suite(untraced.toSeq),
      "cpu_s" -> median(untraced.map(_.map(_.cpuS).sum).toSeq))

    // Per-layer metrics: per-pass sums over the traced passes, then the
    // median across those passes.
    def layer(f: Seq[Timed] => Double): Double = median(traced.map(f))
    def sum(spans: Timed => Span, k: String) =
      layer(_.map(t => spans(t).count(k).toDouble).sum)
    val exec = (t: Timed) => t.exec
    val perLayer = Map(
      "queries.build_s" -> layer(_.map(_.build.seconds).sum),
      "queries.build_jobs" -> sum(_.build, "jobs"),
      "plans.plan_s" -> layer(_.map(_.plan.seconds).sum),
      "exec.s" -> layer(_.map(_.exec.seconds).sum),
      "exec.cpu_s" -> sum(exec, "cpu_ns") / 1e9,
      "exec.gc_s" -> sum(exec, "gc_ms") / 1e3,
      "exec.stage_skew" -> layer { ts =>
        val med = ts.map(_.exec.count("stage_med_ms")).sum
        if (med == 0) 1.0 else ts.map(_.exec.count("stage_max_ms")).sum.toDouble / med
      }) ++ Seq("jobs", "stages", "tasks", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "failed_tasks")
      .map(k => s"exec.$k" -> sum(exec, k)) ++
      gates.map(q => Gates.family(q.name)).distinct.flatMap { f =>
        def of(ts: Seq[Timed]) = ts.filter(t => Gates.family(t.gate) == f)
        Seq(
          s"family.$f.s" -> layer(of(_).map(_.total.seconds).sum),
          s"family.$f.cpu_s" -> layer(of(_).map(_.total.count("cpu_ns")).sum / 1e9),
          s"family.$f.jobs" -> layer(of(_).map(_.total.count("jobs")).sum.toDouble))
      } ++ (if (tracer.enabled) Seq(
        "trace.suite_s" -> suite(traced),
        "trace.overhead_s" -> (suite(traced) - suite(untraced.toSeq)))
      else Nil)

    Main.Result(endToEnd ++ (if (tracer.enabled) perLayer else Map.empty),
      attempted, failures.size, failures.toSeq, outputs)
  }
}

object Gates {
  /** The gate sets, fixed so every seed times the same work; the seed
    * sets the gate order within each pass. */
  val suites: Map[String, Seq[String]] = Map(
    "llm_ops" -> Seq("dedup_exact", "txt_bpe_apply", "txt_winnow_overlap",
      "sim_cosine_topk", "emb_quantize_int8", "smp_token_budget",
      "pipe_rag_prep"))

  /** Gate family: the name's prefix. */
  def family(gate: String): String = gate.takeWhile(_ != '_')
}
