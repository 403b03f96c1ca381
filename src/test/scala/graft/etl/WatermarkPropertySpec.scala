package graft.etl

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import scala.jdk.CollectionConverters._

/** Property-based invariants of the watermark/incremental protocol
  * (SURVEY.md §5: `extract(full) ≡ extract(incr)∘…`): for any first wave
  * and any second wave, the delta is exactly the second-wave rows strictly
  * past the first wave's watermark — no duplicates, no over-capture.
  * (Raw ScalaCheck runner: the scalatest bridge artifact is not on the
  * offline classpath.) */
class WatermarkPropertySpec extends SparkSpec {

  private val base = Timestamp.valueOf("2023-01-01 00:00:00").getTime

  private def currencyDf(rows: Seq[(Int, Long, Long)]) =
    spark.createDataFrame(
      rows.map { case (id, c, u) =>
        Row(id, s"C$id", new Timestamp(base + c * 1000), new Timestamp(base + u * 1000))
      }.asJava, Schemas.currency)

  // (id, created-offset-secs, updated-offset-secs), unique ids per wave
  private val waveGen: Gen[Seq[(Int, Long, Long)]] = for {
    n <- Gen.choose(1, 6)
    offs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 5000L), Gen.choose(0L, 5000L)))
  } yield offs.zipWithIndex.map { case ((c, u), i) => (i, c, u) }

  test("delta == second-wave rows strictly past the watermark") {
    val prop = Prop.forAll(waveGen, waveGen) { (wave1, wave2) =>
      val src = tmpDir("prop-src"); val landedDir = tmpDir("prop-landed")
      val srcStore = new ParquetStore(spark, src)
      val landed = new ParquetStore(spark, landedDir)
      val job = new IngestJob(new ParquetSource(spark, src), landed)

      srcStore.write("currency", currencyDf(wave1))
      job.run()
      val fullLanded = landed.read("currency").count() == wave1.size.toLong

      val cMax = wave1.map(_._2).max
      val uMax = wave1.map(_._3).max
      val shifted = wave2.map { case (i, c, u) => (i + 1000, c, u) }
      srcStore.write("currency", currencyDf(wave1 ++ shifted))
      job.run()

      val expected = shifted.filter { case (_, c, u) => c > cMax || u > uMax }
      val deltaOk =
        if (expected.isEmpty)
          // empty delta: landed object untouched (still wave1)
          landed.read("currency").count() == wave1.size.toLong
        else
          landed.read("currency").collect().map(_.getInt(0)).sorted.toSeq ==
            expected.map(_._1).sorted
      fullLanded && deltaOk
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(result.passed, result.toString)
  }

  /** `store` without its watermark sidecar and `source` without its own
    * marks: extract then takes the aggregate + `isEmpty` path. */
  private def withoutSidecar(store: TableStore): TableStore = new TableStore {
    def exists(n: String) = store.exists(n)
    def list() = store.list()
    def read(n: String) = store.read(n)
    def read(n: String, schema: StructType) = store.read(n, schema)
    def write(n: String, df: DataFrame) = store.write(n, df)
    def append(n: String, df: DataFrame) = store.append(n, df)
    override def version(n: String) = store.version(n)
  }
  private def withoutMarks(source: OltpSource): OltpSource = new OltpSource {
    def listTables() = source.listTables()
    def full(t: String) = source.full(t)
    def incremental(t: String, c: Timestamp, u: Timestamp) = source.incremental(t, c, u)
  }

  // (id, created, updated) offsets in 250 µs steps: ties, sub-millisecond
  // and whole-millisecond marks all occur
  private def microsDf(rows: Seq[(Int, Long, Long)]) =
    spark.createDataFrame(
      rows.map { case (id, c, u) =>
        def at(off: Long) = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .toJavaTimestamp(base * 1000 + off * 250)
        Row(id, s"C$id", at(c), at(u))
      }.asJava, Schemas.currency)

  test("sidecar + source marks land exactly what the aggregate + isEmpty path lands") {
    val prop = Prop.forAll(waveGen, waveGen) { (wave1, wave2) =>
      val src = tmpDir("parity-src")
      val srcStore = new ParquetStore(spark, src)
      val source = new ParquetSource(spark, src)
      val fast = new ParquetStore(spark, tmpDir("parity-fast"))
      val plain = new ParquetStore(spark, tmpDir("parity-plain"))
      val jobs = Seq(new IngestJob(source, fast),
        new IngestJob(withoutMarks(source), withoutSidecar(plain)))
      val shifted = wave2.map { case (i, c, u) => (i + 1000, c, u) }
      // full, incremental, no-change
      Seq(wave1, wave1 ++ shifted, wave1 ++ shifted).forall { rows =>
        Fixtures.writingTimestampsAs(spark, "TIMESTAMP_MICROS") {
          srcStore.write("currency", microsDf(rows))
        }
        val Seq(a, b) = jobs.map(_.run())
        a == b && sortedCells(fast.read("currency").orderBy("currency_id")) ==
          sortedCells(plain.read("currency").orderBy("currency_id"))
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(result.passed, result.toString)
  }
}
