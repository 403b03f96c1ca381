package graft.etl

import java.sql.Timestamp
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}
import scala.jdk.CollectionConverters._

/** The watermark sidecar: `IngestJob` observes each delta's marks during its
  * write and keeps them beside the landed table, tagged with the table's
  * version. They must equal what [[Watermark.of]] computes over the landed
  * table, and any doubt about them (foreign writer, failed write) must fall
  * back to that aggregate. */
class WatermarkSidecarSpec extends SparkSpec {

  private def writeSource(dir: String, tables: Map[String, DataFrame]): Unit =
    tables.foreach { case (n, df) => new ParquetStore(spark, dir).write(n, df) }

  private def stored(store: ParquetStore, table: String) =
    Watermark.stored(store, table, store.version(table))

  private def aggregate(store: ParquetStore, table: String) =
    Watermark.of(store.read(table, Watermark.schema))

  private def currencyAt(rows: (Int, String, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (id, c, u) =>
      Row(id, s"C$id", Timestamp.valueOf(c), Timestamp.valueOf(u))
    }.asJava, Schemas.currency)

  /** `f`'s result and the extract reports it logged, parsed. */
  private def reports[T](f: => T): (T, Seq[JsonNode]) = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("ingest-report", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val name = classOf[IngestJob].getName
    val level = LogManager.getLogger(name).getLevel
    Configurator.setLevel(name, Level.INFO)
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    try {
      val out = f
      (out, lines.asScala.toSeq.map(new ObjectMapper().readTree(_)))
    } finally {
      logger.removeAppender(appender)
      Configurator.setLevel(name, level)
      appender.stop()
    }
  }

  /** The one report `f` logged, as table → entry. */
  private def reportOf(f: => Any): Map[String, JsonNode] = {
    val (_, rs) = reports(f)
    assert(rs.size === 1, s"expected one report line, got $rs")
    rs.head.get("extract").elements().asScala.map(e => e.get("table").asText -> e).toMap
  }

  test("sidecar marks equal the aggregate on the fixtures, sub-millisecond marks included") {
    val src = tmpDir("sc-src")
    val subMs = currencyAt(
      (1, "2023-02-02 11:30:00.000100", "2023-02-02 11:30:00.000900"),
      (2, "2023-02-02 11:30:00.000500", "2023-02-02 11:30:00.000400"))
    writeSource(src, Fixtures.all(spark) + ("currency" -> subMs))
    val store = new ParquetStore(spark, tmpDir("sc-landed"))
    val job = new IngestJob(new ParquetSource(spark, src), store)
    job.run()
    Fixtures.all(spark).keys.foreach { t =>
      assert(stored(store, t) === Some(aggregate(store, t)), s"table $t")
    }
    assert(stored(store, "currency") === Some(Some(Watermark.Marks(
      Timestamp.valueOf("2023-02-02 11:30:00.0005"),
      Timestamp.valueOf("2023-02-02 11:30:00.0009")))))
    // millisecond marks would sit below both rows and re-land them
    val report = reportOf(job.run())
    assert(report.values.forall(!_.get("changed").asBoolean))
    assert(report.values.forall(_.get("marks_from").asText == "sidecar"))
  }

  test("a foreign append or overwrite invalidates the sidecar") {
    val src = tmpDir("sc-src")
    writeSource(src, Map("currency" -> Fixtures.currency(spark)))
    val landedDir = tmpDir("sc-landed")
    val store = new ParquetStore(spark, landedDir)
    val job = new IngestJob(new ParquetSource(spark, src), store)
    job.run()
    assert(stored(store, "currency").isDefined)

    // a foreign append moves the marks past the source's newest row
    store.append("currency", currencyAt((9, "2023-05-05 00:00:00", "2023-05-05 00:00:00")))
    assert(stored(store, "currency").isEmpty)
    val later = Fixtures.currency(spark).union(
      currencyAt((10, "2023-04-04 00:00:00", "2023-04-04 00:00:00")))
    writeSource(src, Map("currency" -> later))
    val appended = reportOf(assert(job.run().isEmpty))("currency")
    assert(appended.get("marks_from").asText === "aggregate")
    // the recomputed marks are kept for the next run
    assert(stored(store, "currency") === Some(aggregate(store, "currency")))

    // a foreign overwrite that keeps the hidden files still moves the version
    val sidecar = store.watermark("currency")
    store.write("currency", Fixtures.currency(spark))
    store.putWatermark("currency", sidecar)
    assert(stored(store, "currency").isEmpty)
    val overwritten = reportOf(assert(job.run() === Seq("currency")))("currency")
    assert(overwritten.get("marks_from").asText === "aggregate")
    assert(cells(store.read("currency").select("currency_id")) === Set(Seq(10)))
  }

  test("a failed write leaves no sidecar and the next run recomputes") {
    val src = tmpDir("sc-src")
    writeSource(src, Map("currency" -> Fixtures.currency(spark)))
    val inner = new ParquetSource(spark, src)
    val store = new ParquetStore(spark, tmpDir("sc-landed"))
    new IngestJob(inner, store).run()
    assert(store.watermark("currency").isDefined)

    val boom = udf((s: String) => { if (s != null) throw new IllegalStateException("boom"); s })
    val failing = new OltpSource {
      def listTables(): Seq[String] = inner.listTables()
      def full(table: String): DataFrame =
        inner.full(table).withColumn("currency_code", boom(col("currency_code")))
      // every row, so the throwing column is evaluated
      def incremental(table: String, c: Timestamp, u: Timestamp): DataFrame = full(table)
      // claims a delta, so the write itself is what fails
      override def marks(table: String): Option[OltpSource.TableMarks] =
        Some(OltpSource.TableMarks(1, Some(Timestamp.valueOf("2099-01-01 00:00:00")), None))
    }
    intercept[IngestJob.PartialIngestException](new IngestJob(failing, store).run())
    assert(store.watermark("currency").isEmpty)

    val report = reportOf(new IngestJob(inner, store).run())("currency")
    assert(report.get("marks_from").asText !== "sidecar")
    assert(report.get("changed").asBoolean)
    assert(cells(store.read("currency")) === cells(Fixtures.currency(spark)))
    assert(stored(store, "currency") === Some(aggregate(store, "currency")))
  }

  test("an empty delta leaves the marks as they were") {
    val src = tmpDir("sc-src")
    writeSource(src, Map("currency" -> Fixtures.currency(spark)))
    val inner = new ParquetSource(spark, src)
    val store = new ParquetStore(spark, tmpDir("sc-landed"))
    new IngestJob(inner, store).run()
    val marks = stored(store, "currency").get
    assert(marks === Some(Watermark.Marks(Fixtures.t0, Fixtures.t0)))

    // a skipped delta touches neither the table nor its sidecar
    val sidecar = store.watermark("currency")
    assert(new IngestJob(inner, store).run().isEmpty)
    assert(store.watermark("currency") === sidecar)

    // a delta the probe announced but the scan found empty (the source
    // changed in between) lands 0 rows and keeps the previous marks
    val racing = new OltpSource {
      def listTables(): Seq[String] = inner.listTables()
      def full(table: String): DataFrame = inner.full(table)
      def incremental(table: String, c: Timestamp, u: Timestamp): DataFrame =
        inner.incremental(table, c, u)
      override def marks(table: String): Option[OltpSource.TableMarks] =
        Some(OltpSource.TableMarks(3, Some(Timestamp.valueOf("2099-01-01 00:00:00")), None))
    }
    val report = reportOf(new IngestJob(racing, store).run())("currency")
    assert(report.get("changed").asBoolean && report.get("rows").asLong === 0)
    assert(store.read("currency").count() === 0)
    assert(stored(store, "currency") === Some(marks))
    assert(report.get("marks_after") === report.get("marks_before"))
  }

  test("each run logs one report; its rows and marks come from the write") {
    val src = tmpDir("sc-src")
    writeSource(src, Map("currency" -> Fixtures.currency(spark),
      "payment" -> Fixtures.payment(spark)))
    val store = new ParquetStore(spark, tmpDir("sc-landed"))
    val job = new IngestJob(new ParquetSource(spark, src), store)

    val full = reportOf(job.run())
    assert(full.keySet === Set("currency", "payment"))
    full.values.foreach { e =>
      assert(e.get("changed").asBoolean)
      assert(e.get("marks_from").asText === "none" && e.get("marks_before").isNull)
    }
    assert(full("currency").get("rows").asLong === 3)
    assert(full("payment").get("rows").asLong === Fixtures.payment(spark).count())
    assert(full("currency").get("marks_after").get("created_at").asText ===
      Fixtures.t0.toInstant.toString)

    val feb = "2023-02-02 11:30:00.000007"
    writeSource(src, Map("currency" -> Fixtures.currency(spark).union(
      currencyAt((4, feb, "2023-01-01 09:00:00")))))
    val incr = reportOf(job.run())
    assert(!incr("payment").get("changed").asBoolean && incr("payment").get("rows").asLong === 0)
    assert(incr("payment").get("marks_after") === incr("payment").get("marks_before"))
    val cur = incr("currency")
    assert(cur.get("changed").asBoolean && cur.get("rows").asLong === 1)
    assert(cur.get("marks_before") === full("currency").get("marks_after"))
    assert(cur.get("marks_after").get("created_at").asText ===
      Timestamp.valueOf(feb).toInstant.toString)
    assert(cur.get("marks_after").get("last_updated").asText ===
      Timestamp.valueOf("2023-01-01 09:00:00").toInstant.toString)

    // a failed table is reported with its error, beside the others
    val broken = new OltpSource {
      private val inner = new ParquetSource(spark, src)
      def listTables(): Seq[String] = "broken" +: inner.listTables()
      def full(table: String): DataFrame =
        if (table == "broken") throw new RuntimeException("boom") else inner.full(table)
      def incremental(table: String, c: Timestamp, u: Timestamp): DataFrame =
        inner.incremental(table, c, u)
    }
    val (_, failed) = reports(intercept[IngestJob.PartialIngestException](
      new IngestJob(broken, store).run()))
    val entries = failed.head.get("extract").elements().asScala.toSeq
    assert(entries.map(_.get("table").asText) === Seq("broken", "currency", "payment"))
    assert(entries.head.get("error").asText === "boom")
  }
}
