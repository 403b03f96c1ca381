package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.Properties
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.etl._

/** The `etl_ticks` source, as written by `perfbench/gendata.py`: the 11
  * `Schemas.sourceTables` in `v0` (base) and `v1` (after one mutation),
  * and a manifest with the table sizes, the tick time the mutation stamps
  * and the rows it stamps per mutated table. */
final class Totesys(dir: String) {
  private val m = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$dir/manifest.json"))
  val sizes: Map[String, Long] =
    Schemas.sourceTables.keys.map(t => t -> m.get("sizes").get(t).asLong).toMap
  val mutated: Set[String] = (0 until m.get("mutated").size)
    .map(i => m.get("mutated").get(i).asText).toSet
  /** Epoch micros the mutation stamps on the rows it touches. */
  val tickUs: Long = m.get("tick_us").asLong
  /** Rows of `table` that the mutation stamps. */
  def slice(table: String): Long = m.get("slices").get(table).asLong
  def version(v: Int): String = s"$dir/v$v"
}

object Totesys {
  /** Warehouse table → the source table its transform reads 1:1. */
  val warehouseSource: Map[String, String] = Map(
    "dim_location" -> "address", "dim_design" -> "design",
    "dim_currency" -> "currency", "dim_counterparty" -> "counterparty",
    "dim_staff" -> "staff", "dim_transaction" -> "transaction",
    "dim_payment_type" -> "payment_type", "fact_sales_order" -> "sales_order",
    "fact_purchase_order" -> "purchase_order", "fact_payment" -> "payment")
  /** dim_date rows per tick: 2022-01-01 .. 2024-01-01 inclusive. */
  val dimDateRows = 731L
}

/** The `etl_ticks` workload: cycles of one full tick, one incremental tick
  * and one tick with no changes. A tick is the three pipeline stages over a
  * `ParquetSource`, parquet ingested/processed stores and a
  * `JdbcWarehouseSink` into an in-memory Derby warehouse; every cycle
  * starts from fresh stores and a fresh warehouse. Between ticks the
  * source moves to the next version, outside the timed calls. */
final class Ticks(spark: SparkSession, tracer: Tracer, main: Totesys,
    work: String, cores: Int) {
  import Totesys._

  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }
  private val warehouse = warehouseSource.keys.toSeq :+ "dim_date"

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => Files.delete(q))
      finally s.close()
    }
  }

  private def jdbc[T](url: String)(f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  private final case class Tick(kind: String, total: Span,
      stages: Seq[(String, Span)], changed: Int, loadedRows: Long, cpuS: Double)

  private val failures = ArrayBuffer[String]()
  private var attempted = 0
  private var failed = 0

  /** Source version each tick of a cycle reads. */
  private val plan = Seq("full" -> 0, "incr" -> 1, "noop" -> 1)

  /** Runs one cycle. After each tick, outside the timed calls, it checks:
    *  - the full tick lands every table, the incremental tick exactly the
    *    mutated tables, the no-change tick none;
    *  - the incremental tick lands exactly the rows the mutation stamped;
    *  - the warehouse holds the row counts append semantics predict: each
    *    tick appends what transform made of the current landed state.
    * A tick that throws or breaks one of these is one failed operation; a
    * tick that throws also ends the cycle. Returns the ticks that ran to
    * the end. */
  private def cycle(c: Int): Seq[Tick] = {
    val dir = s"$work/cycle$c"
    val db = s"perfbench_wh_$c"
    val url = s"jdbc:derby:memory:$db;create=true"
    val ingested = new ParquetStore(spark, s"$dir/ingested")
    val processed = new ParquetStore(spark, s"$dir/processed")
    val sink = new JdbcWarehouseSink(url, props, numWriters = cores)
    def whCount(t: String): Long =
      try jdbc(url) { conn =>
        // the JDBC writer creates unquoted, so upper-case, table names
        val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next(); rs.getLong(1)
      } catch { case _: java.sql.SQLException => 0L }
    var whRows = 0L
    val landedRows = scala.collection.mutable.Map[String, Long]()
    val expected = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val ticks = ArrayBuffer[Tick]()

    def tick(kind: String, v: Int): Seq[String] = {
      val pipe = new Pipeline(new ParquetSource(spark, main.version(v)), ingested,
        processed, new ParquetStore(spark, s"$dir/unused"))
      val cpu0 = Main.processCpuS()
      val ((changed, stages), total) = tracer.span(s"tick:$kind") {
        val (changed, e) = tracer.span("extract")(pipe.runExtract())
        val (_, t) = tracer.span("transform")(pipe.runTransform(spark))
        val (_, l) = tracer.span("load") {
          processed.list().foreach(t => sink.append(t, processed.read(t)))
        }
        (changed, Seq("extract" -> e, "transform" -> t, "load" -> l))
      }
      val cpuS = Main.processCpuS() - cpu0
      println(f"[perfbench] cycle $c $kind tick: " + stages.map { case (n, sp) =>
        f"$n ${sp.seconds}%.3f s" }.mkString(", "))

      val bad = ArrayBuffer[String]()
      val want = kind match {
        case "full" => main.sizes.keySet
        case "incr" => main.mutated
        case _ => Set.empty[String]
      }
      if (changed.toSet != want)
        bad += s"extract changed ${changed.sorted}, expected ${want.toSeq.sorted}"
      if (kind == "incr") main.mutated.foreach { t =>
        val landed = ingested.read(t)
        val n = landed.count()
        val off = landed.filter(unix_micros(col("last_updated")) =!= main.tickUs).count()
        if (n != main.slice(t) || off != 0)
          bad += s"$t landed $n rows ($off off-slice), mutation stamped ${main.slice(t)}"
      }
      changed.foreach(t => landedRows(t) = if (kind == "full") main.sizes(t) else main.slice(t))
      warehouseSource.foreach { case (w, s) => expected(w) += landedRows(s) }
      expected("dim_date") += dimDateRows
      val counts = warehouse.map(t => t -> whCount(t))
      counts.foreach { case (t, n) =>
        if (n != expected(t))
          bad += s"warehouse $t has $n rows, append semantics predict ${expected(t)}"
      }
      val now = counts.map(_._2).sum
      ticks += Tick(kind, total, stages, changed.size, now - whRows, cpuS)
      whRows = now
      bad.toSeq
    }

    try {
      var threw = false
      for ((kind, v) <- plan if !threw) {
        attempted += 1
        val bad = try tick(kind, v) catch {
          case e: Exception => threw = true; Seq(s"threw $e")
        }
        bad.foreach(b => failures += s"cycle $c $kind tick: $b")
        if (bad.nonEmpty) failed += 1
      }
    } finally {
      try jdbc(s"jdbc:derby:memory:$db;drop=true")(_ => ())
      catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
      deleteTree(dir)
    }
    ticks.toSeq
  }

  def run(seconds: Double): Main.Result = {
    // Warm-up: one untimed cycle pays code generation, class loading, JIT
    // and JDBC set-up for every stage call the timed ticks make.
    tracer.record(false)
    cycle(0)
    System.gc()
    val setupS = Main.sinceJvmStartS()

    val cycles = ArrayBuffer[(Boolean, Seq[Tick])]()
    val t0 = System.nanoTime()
    val minCycles = if (tracer.enabled) 2 else 1
    while (cycles.size < minCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = tracer.enabled && cycles.size % 2 == 0
      tracer.record(traced)
      val (ticks, _) = tracer.span("cycle")(cycle(cycles.size + 1))
      tracer.record(false)
      cycles += ((traced, ticks))
      System.gc()
    }

    import Main.median
    def suite(cs: Seq[Seq[Tick]]) = median(cs.map(_.map(_.total.seconds).sum))
    val untraced = cycles.filterNot(_._1).map(_._2).toSeq
    val traced = cycles.filter(_._1).map(_._2).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "suite_s" -> suite(untraced),
      "cpu_s" -> median(untraced.map(_.map(_.cpuS).sum)))

    // Per-layer: per tick kind, the median over that kind's ticks in the
    // traced cycles.
    val tables = main.sizes.size.toDouble
    val perLayer = Seq("full", "incr", "noop").flatMap { kind =>
      def m(f: Tick => Double) = median(traced.flatten.filter(_.kind == kind).map(f))
      Seq(s"etl.tick.$kind.s" -> m(_.total.seconds),
        s"etl.extract.$kind.tables_changed" -> m(_.changed.toDouble),
        s"etl.extract.$kind.hit_ratio" -> m(_.changed / tables)) ++
        Seq("extract", "transform", "load").flatMap { stage =>
          def sp(t: Tick) = t.stages.find(_._1 == stage).get._2
          Seq(s"etl.$stage.$kind.s" -> m(sp(_).seconds),
            s"etl.$stage.$kind.cpu_s" -> m(sp(_).count("cpu_ns") / 1e9),
            s"etl.$stage.$kind.jobs" -> m(sp(_).count("jobs").toDouble),
            s"etl.$stage.$kind.tasks" -> m(sp(_).count("tasks").toDouble),
            s"etl.$stage.$kind.rows" -> m(t =>
              if (stage == "load") t.loadedRows.toDouble
              else sp(t).count("rows_written").toDouble),
            s"etl.$stage.$kind.bytes_written" -> m(sp(_).count("bytes_written").toDouble))
        }
    }.toMap ++ Seq("jobs", "stages", "tasks", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "failed_tasks").map { k =>
      s"exec.$k" -> median(traced.map(_.map(_.total.count(k).toDouble).sum))
    } ++ Map(
      "exec.s" -> suite(traced),
      "exec.cpu_s" -> median(traced.map(_.map(_.total.count("cpu_ns")).sum / 1e9)),
      "exec.gc_s" -> median(traced.map(_.map(_.total.count("gc_ms")).sum / 1e3)),
      "exec.stage_skew" -> median(traced.map { ts =>
        val med = ts.map(_.total.count("stage_med_ms")).sum
        if (med == 0) 1.0 else ts.map(_.total.count("stage_max_ms")).sum.toDouble / med
      }),
      "trace.suite_s" -> suite(traced),
      "trace.overhead_s" -> (suite(traced) - suite(untraced)))

    Main.Result(endToEnd ++ (if (tracer.enabled) perLayer else Map.empty),
      attempted, failed, failures.toSeq)
  }
}
