package graft.etl

import java.sql.Timestamp
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Extract-stage protocol (E1–E3): full first run, strict-`>` watermark
  * increments, empty deltas skipped — mirroring the reference's
  * test/test_extract.py:214-518 scenarios. */
class IngestJobSpec extends SparkSpec {

  private def writeSource(dir: String, tables: Map[String, org.apache.spark.sql.DataFrame]): Unit =
    tables.foreach { case (n, df) => new ParquetStore(spark, dir).write(n, df) }

  test("watermark = max(created_at), max(last_updated)") {
    val t1 = Timestamp.valueOf("2023-02-02 11:30:00")
    val df = spark.createDataFrame(Seq(
      Row(1, "AAA", Fixtures.t0, t1),
      Row(2, "BBB", t1, Fixtures.t0)).asJava, Schemas.currency)
    val m = Watermark.of(df).get
    assert(m.created === t1 && m.updated === t1)
  }

  test("first run lands every table in full; second run with no changes lands nothing") {
    val src = tmpDir("src"); val landedDir = tmpDir("landed")
    writeSource(src, Fixtures.all(spark))
    val landed = new ParquetStore(spark, landedDir)
    val job = new IngestJob(new ParquetSource(spark, src), landed)

    val first = job.run()
    assert(first.toSet === Fixtures.all(spark).keySet)
    assert(landed.read("address").count() === 5)
    assert(landed.read("payment").count() === 6)

    val second = job.run()
    assert(second.isEmpty) // all rows are <= watermark (strict >)
  }

  test("incremental run captures only rows past the watermark") {
    val src = tmpDir("src"); val landedDir = tmpDir("landed")
    writeSource(src, Map("currency" -> Fixtures.currency(spark)))
    val landed = new ParquetStore(spark, landedDir)
    val job = new IngestJob(new ParquetSource(spark, src), landed)
    job.run()

    // three inserts; one predates the watermark -> expect a 2-row delta
    val early = Timestamp.valueOf("2022-12-31 09:00:00")
    val feb = Timestamp.valueOf("2023-02-02 11:30:00")
    val mar = Timestamp.valueOf("2023-03-03 08:45:00")
    val withInserts = Fixtures.currency(spark).union(
      spark.createDataFrame(Seq(
        Row(90, "OLD", early, early),
        Row(91, "GBP", feb, feb),
        Row(92, "USD", mar, mar)).asJava, Schemas.currency))
    writeSource(src, Map("currency" -> withInserts))

    val updated = job.run()
    assert(updated === Seq("currency"))
    // landed object is REPLACED by the delta (reference same-key upload)
    val delta = landed.read("currency")
    assert(delta.count() === 2)
    assert(cells(delta.select(col("currency_id"))) === Set(Seq(91), Seq(92)))

    // next round: watermark advanced to mar; nothing new -> no delta
    assert(job.run().isEmpty)
  }

  test("a later UPDATE is re-captured via the last_updated OR-branch") {
    val src = tmpDir("src"); val landedDir = tmpDir("landed")
    writeSource(src, Map("payment" -> Fixtures.payment(spark)))
    val landed = new ParquetStore(spark, landedDir)
    val job = new IngestJob(new ParquetSource(spark, src), landed)
    job.run()

    val upd = Timestamp.valueOf("2023-04-04 10:00:00")
    val bd = new java.math.BigDecimal("99.99").setScale(2)
    val updatedPayment = spark.createDataFrame(Seq(
      Row(3, 3, 3, bd, 3, 3, true, "2023-01-01", 10000031, 10000032,
        Fixtures.t0, upd)).asJava, Schemas.payment)
    writeSource(src, Map("payment" ->
      Fixtures.payment(spark).filter(col("payment_id") =!= 3).union(updatedPayment)))

    assert(job.run() === Seq("payment"))
    val delta = landed.read("payment")
    assert(delta.count() === 1)
    assert(delta.collect()(0).getDecimal(3).toPlainString === "99.99")
  }

  test("run lands each fixture in listTables order, full and delta") {
    val src = tmpDir("src")
    writeSource(src, Fixtures.all(spark))
    val source = new ParquetSource(spark, src)
    val store = new ParquetStore(spark, tmpDir("landed"))
    val job = new IngestJob(source, store)

    // full round: every table, in listTables order, each landed whole
    assert(job.run() === source.listTables())
    Fixtures.all(spark).foreach { case (t, df) =>
      assert(cells(store.read(t)) === cells(df), s"table $t diverged from its fixture")
    }

    // incremental round: only the mutated table, landed as its delta
    val feb = Timestamp.valueOf("2023-02-02 11:30:00")
    val insert = spark.createDataFrame(Seq(
      Row(91, "GBP", feb, feb)).asJava, Schemas.currency)
    writeSource(src, Map("currency" -> Fixtures.currency(spark).union(insert)))
    assert(job.run() === Seq("currency"))
    assert(cells(store.read("currency")) === cells(insert))
  }

  test("parallel run awaits every table before propagating a failure") {
    val src = tmpDir("src")
    writeSource(src, Map(
      "currency" -> Fixtures.currency(spark),
      "payment" -> Fixtures.payment(spark)))
    val inner = new ParquetSource(spark, src)
    // a source whose middle table always fails: run() must still land
    // the healthy tables (await-all semantics — a fail-fast await would
    // leave their writes racing in the background) and then rethrow
    val failing = new OltpSource {
      def listTables(): Seq[String] = Seq("currency", "broken", "payment")
      def full(table: String): org.apache.spark.sql.DataFrame =
        if (table == "broken") throw new RuntimeException("boom: broken table")
        else inner.full(table)
      def incremental(table: String, c: Timestamp, u: Timestamp): org.apache.spark.sql.DataFrame =
        if (table == "broken") throw new RuntimeException("boom: broken table")
        else inner.incremental(table, c, u)
    }
    val landedDir = tmpDir("landed-fail")
    val store = new ParquetStore(spark, landedDir)
    val job = new IngestJob(failing, store)
    val e = intercept[IngestJob.PartialIngestException](job.run())
    assert(e.getMessage.contains("boom"))
    assert(e.getCause.getMessage.contains("boom"))
    // the exception carries exactly the tables that landed, so a caller
    // can reconcile partial state instead of guessing
    assert(e.landed.toSet === Set("currency", "payment"))
    // both healthy tables completed their writes before the rethrow
    assert(store.read("currency").count() === Fixtures.currency(spark).count())
    assert(store.read("payment").count() === Fixtures.payment(spark).count())
  }

  test("a fatal error in one table fails the round, not hangs it") {
    val src = tmpDir("src")
    writeSource(src, Map(
      "currency" -> Fixtures.currency(spark),
      "payment" -> Fixtures.payment(spark)))
    val inner = new ParquetSource(spark, src)
    // what a JDBC driver's failing static initialiser throws: a
    // LinkageError, which scala.util.Try does not catch
    val fatal = new ExceptionInInitializerError("driver init failed")
    val broken = new OltpSource {
      def listTables(): Seq[String] = Seq("currency", "broken", "payment")
      def full(table: String): org.apache.spark.sql.DataFrame =
        if (table == "broken") throw fatal else inner.full(table)
      def incremental(table: String, c: Timestamp, u: Timestamp): org.apache.spark.sql.DataFrame =
        inner.incremental(table, c, u)
    }
    val store = new ParquetStore(spark, tmpDir("landed-fatal"))
    val job = new IngestJob(broken, store)
    val runner = Executors.newSingleThreadExecutor()
    val thrown = try intercept[ExecutionException] {
      runner.submit(new Callable[Seq[String]] { def call() = job.run() })
        .get(60, TimeUnit.SECONDS) // a hang surfaces as TimeoutException
    }.getCause finally runner.shutdownNow()
    thrown match {
      case e: IngestJob.PartialIngestException =>
        assert(e.getCause eq fatal)
        assert(e.landed === Seq("currency", "payment"))
      case other => fail(s"expected PartialIngestException, got $other")
    }
    assert(store.read("currency").count() === Fixtures.currency(spark).count())
    assert(store.read("payment").count() === Fixtures.payment(spark).count())
  }
}
