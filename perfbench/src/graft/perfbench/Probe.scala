package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters from one SparkListener: jobs, stages, tasks, executor
  * CPU and GC, shuffle, spill, output, failed tasks and per-stage task-time
  * skew. Values are cumulative; spans read them as deltas. */
final class Counters extends SparkListener {
  private val c = Seq("jobs", "stages", "tasks", "failed_tasks", "cpu_ns",
    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "rows_written", "bytes_written", "stage_max_ms", "stage_med_ms")
    .map(_ -> new AtomicLong(0)).toMap
  private val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c("jobs").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.reason != org.apache.spark.Success) c("failed_tasks").incrementAndGet()
    Option(e.taskInfo).foreach { i =>
      val buf = stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]())
      buf.synchronized(buf += i.duration)
    }
    Option(e.taskMetrics).foreach { m =>
      c("cpu_ns").addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("rows_written").addAndGet(m.outputMetrics.recordsWritten)
      c("bytes_written").addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    c("stages").incrementAndGet()
    c("tasks").addAndGet(e.stageInfo.numTasks)
    Option(stageTaskMs.remove(e.stageInfo.stageId)).foreach { buf =>
      val ds = buf.synchronized(buf.sorted)
      if (ds.size >= 2) {
        c("stage_max_ms").addAndGet(ds.last)
        c("stage_med_ms").addAndGet(ds(ds.size / 2))
      }
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get() }
}

object Counters {
  /** Blocks until the listener bus has delivered every posted event, via
    * the bus's own `waitUntilEmpty` (private to Spark, so reached by
    * reflection). Counters read after this are complete. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .get.invoke(bus)
  }
}

/** One span: a timed call into a layer, with the engine counter deltas
  * over its interval (empty when tracing is off). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counters: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def count(k: String): Long = counters.getOrElse(k, 0L)
}

/** Times calls into each layer. With tracing on it drains the listener
  * bus at every boundary, attributes counter deltas to the span and keeps
  * every span in memory until [[write]]; with tracing off it only reads
  * the clock. Spans nest through a stack: the driver calls layers from
  * one thread. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val counters = new Counters
  private val spans = ArrayBuffer[Span]()
  private var stack = List(0)
  private var nextId = 1
  private var recording = false
  record(enabled)

  /** Switches span recording and the counter listener on or off. Off,
    * spans are timed only; a traced run alternates the two to measure the
    * tracing overhead. */
  def record(on: Boolean): Unit = if (on != recording) {
    if (on) spark.sparkContext.addSparkListener(counters)
    else spark.sparkContext.removeSparkListener(counters)
    recording = on
  }

  private def snap(): Map[String, Long] =
    if (!recording) Map.empty
    else { Counters.drain(spark); counters.snapshot() }

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    val before = snap()
    stack = id :: stack
    val t0 = System.nanoTime()
    val out = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    val after = snap()
    val s = Span(id, parent, name, t0, t1,
      after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) })
    if (recording) spans += s
    (out, s)
  }

  /** Spans as JSON lines: id, parent, name, start/end (ns), counters. */
  def write(path: String): Unit = {
    val lines = spans.map { s =>
      val cs = s.counters.toSeq.sorted
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":$cs}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
