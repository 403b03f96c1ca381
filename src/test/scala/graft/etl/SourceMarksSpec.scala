package graft.etl

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** `OltpSource.marks`: a source's own answer to "is there a delta?". Where
  * it answers, it must agree with the `isEmpty` probe it replaces, for
  * every watermark extract could hold; where it cannot be sure, it must
  * decline. */
class SourceMarksSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def currency(rows: (Int, Timestamp, Timestamp)*): DataFrame =
    spark.createDataFrame(rows.map { case (id, c, u) => Row(id, s"C$id", c, u) }.asJava,
      Schemas.currency)

  private def writingTimestampsAs[T](kind: String)(f: => T): T =
    Fixtures.writingTimestampsAs(spark, kind)(f)

  private val a = ts("2023-01-01 00:00:00.000001")
  private val b = ts("2023-01-01 00:00:00.000002")
  private val c = ts("2023-03-03 12:00:00")

  /** Tables whose timestamps hold nulls, only nulls, or one value. */
  private lazy val shapes: Map[String, DataFrame] = Map(
    "mixed" -> currency((1, a, null), (2, null, b), (3, c, null), (4, null, null)),
    "all_null" -> currency((1, null, null), (2, null, null)),
    "all_equal" -> currency((1, b, b), (2, b, b), (3, b, b)),
    "created_only" -> currency((1, a, null), (2, c, null)),
    "empty" -> currency())

  /** Every watermark extract could hold against these tables: none, and
    * marks at, between and past the values above, null marks included. */
  private val sinces: Seq[Option[Watermark.Marks]] = None +: (for {
    x <- Seq(null, ts("2022-12-31 00:00:00"), a, b, c, ts("2024-01-01 00:00:00"))
    y <- Seq(null, a, b, c)
  } yield Some(Watermark.Marks(x, y)))

  /** Asserts `source.marks` answers every table and agrees with `isEmpty`. */
  private def agreesWithIsEmpty(source: OltpSource, tables: Seq[String]): Unit =
    for (t <- tables; since <- sinces) {
      val probe = source.marks(t)
      assert(probe.isDefined, s"$t: the source declined")
      val delta = since.fold(source.full(t))(m => source.incremental(t, m.created, m.updated))
      assert(probe.get.hasDelta(since) === !delta.isEmpty, s"$t since $since: $probe")
    }

  test("footer statistics agree with isEmpty on null, all-null and all-equal timestamps") {
    Seq("TIMESTAMP_MICROS", "TIMESTAMP_MILLIS").foreach { kind =>
      val dir = tmpDir("marks-src")
      val store = new ParquetStore(spark, dir)
      writingTimestampsAs(kind) {
        // several files, so the answer folds across footers
        shapes.foreach { case (n, df) => store.write(n, df.repartition(2)) }
      }
      val source = new ParquetSource(spark, dir)
      val millis = kind == "TIMESTAMP_MILLIS"
      // millisecond files truncate a and b to the same instant
      agreesWithIsEmpty(source, shapes.keys.toSeq)
      assert(source.marks("mixed") === Some(OltpSource.TableMarks(4, Some(c),
        Some(if (millis) ts("2023-01-01 00:00:00") else b))))
      assert(source.marks("all_null") === Some(OltpSource.TableMarks(2, None, None)))
      assert(source.marks("empty") === Some(OltpSource.TableMarks(0, None, None)))
    }
  }

  test("INT96 timestamps carry no statistics, so the footer probe declines") {
    val dir = tmpDir("marks-int96")
    writingTimestampsAs("INT96") {
      new ParquetStore(spark, dir).write("mixed", shapes("mixed"))
    }
    assert(new ParquetSource(spark, dir).marks("mixed") === None)
    assert(new ParquetSource(spark, dir).marks("missing") === None)
  }

  test("a no-change extract over a statistics-carrying source starts no Spark job") {
    val src = tmpDir("marks-src")
    writingTimestampsAs("TIMESTAMP_MICROS") {
      Fixtures.all(spark).foreach { case (n, df) => new ParquetStore(spark, src).write(n, df) }
    }
    val source = new ParquetSource(spark, src)
    val store = new ParquetStore(spark, tmpDir("marks-landed"))
    val job = new IngestJob(source, store)
    val (first, fullJobs) = jobsIn(job.run())
    assert(first.toSet === Fixtures.all(spark).keySet)
    // one observed write per table, nothing else
    assert(fullJobs === Fixtures.all(spark).size)
    val (second, noopJobs) = jobsIn(job.run())
    assert(second.isEmpty)
    assert(noopJobs === 0)

    writingTimestampsAs("TIMESTAMP_MICROS") {
      new ParquetStore(spark, src).write("currency", Fixtures.currency(spark).union(
        currency((4, ts("2023-02-02 00:00:00"), ts("2023-02-02 00:00:00")))))
    }
    val (third, incrJobs) = jobsIn(job.run())
    assert(third === Seq("currency"))
    assert(incrJobs === 1)
  }
}
