package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: `graft.perfbench.Main key=value...` with keys workload,
  * seed, seconds, trace, cores, data (gate input tables), work (scratch
  * dir), out (result file) and `conf.<spark conf>`. Runs one workload and writes its result as
  * one JSON object; `perfbench/run.py` builds, launches and checks it. */
object Main {

  /** Process CPU seconds so far: driver, executor threads, GC and JIT. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Seconds since this JVM started: the set-up clock. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident set size of this process, from /proc (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The session under test, with the Spark confs `perfbench/run.py` passes. */
  def session(confs: Map[String, String], work: String): SparkSession = {
    val spark = confs.foldLeft(SparkSession.builder().appName("graft-perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** What a workload hands back: every metric it measured (the runner
    * picks the end-to-end or per-layer set), operations attempted and
    * failed, failure messages, and the gate outputs the runner must check. */
  final case class Result(metrics: Map[String, Double], attempted: Int,
      failed: Int, failures: Seq[String], outputs: Seq[Output] = Nil)

  /** A gate's checked output: parquet dir, row count, oracle SQL if any. */
  final case class Output(gate: String, dir: String, rows: Long, oracle: Option[String])

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val work = kv("work")
    val cores = kv("cores").toInt
    val spark = session(kv.collect {
      case (k, v) if k.startsWith("conf.") => k.stripPrefix("conf.") -> v
    }, work)
    println(f"[perfbench] session up at ${sinceJvmStartS()}%.3f s")
    val tracer = new Tracer(spark, trace)
    val result = workload match {
      case "etl_ticks" => new Ticks(spark, tracer, new Totesys(kv("data")), work, cores)
        .run(seconds)
      case w => new Gates(spark, tracer, Gates.suites(w), seed, kv("data"), work)
        .run(seconds)
    }
    if (trace) tracer.write(s"$work/spans.jsonl")
    val metrics = result.metrics + ("peak_rss_mb" -> peakRssMb())
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    val json = Seq(
      "\"metrics\":" + metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}"),
      "\"attempted\":" + result.attempted,
      "\"failed\":" + result.failed,
      "\"failures\":" + result.failures.map(q).mkString("[", ",", "]"),
      "\"outputs\":" + result.outputs
        .map(o => s"[${q(o.gate)},${q(o.dir)},${o.rows},${o.oracle.map(q).getOrElse("null")}]")
        .mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(kv("out")),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
