package graft.etl

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** End-to-end extract→transform→load over local dirs standing in for the
  * three S3 buckets, then a source UPDATE + re-run appending a new version
  * row — the reference's test_end_to_end.py:77-113 scenario. */
class PipelineSpec extends SparkSpec {

  test("full pipeline, then incremental re-run appends updated version") {
    val src = tmpDir("src")
    val srcStore = new ParquetStore(spark, src)
    Fixtures.all(spark).foreach { case (n, df) => srcStore.write(n, df) }

    val pipeline = new Pipeline(
      new ParquetSource(spark, src),
      new ParquetStore(spark, tmpDir("ingested")),
      new ParquetStore(spark, tmpDir("processed")),
      new ParquetStore(spark, tmpDir("warehouse")))

    val (extracted, transformed, loaded) = pipeline.runAll(spark)
    assert(extracted.size === 11)
    assert(transformed.toSet === Set(
      "dim_date", "dim_location", "dim_design", "dim_currency",
      "dim_counterparty", "dim_staff", "dim_transaction", "dim_payment_type",
      "fact_sales_order", "fact_purchase_order", "fact_payment"))
    assert(loaded.size === 11)

    val wh = pipeline.warehouseStore
    assert(wh.read("fact_payment").count() === 6)
    assert(wh.read("dim_date").count() === 731)
    assert(wh.read("fact_sales_order").columns.contains("unit price"))

    // UPDATE payment 3 at a later last_updated, as the reference e2e does
    val upd = Timestamp.valueOf("2023-06-01 09:30:00")
    val bd = new java.math.BigDecimal("55.55").setScale(2)
    srcStore.write("payment",
      Fixtures.payment(spark).filter(col("payment_id") =!= 3).union(
        spark.createDataFrame(Seq(
          Row(3, 3, 3, bd, 3, 3, true, "2023-01-01", 10000031, 10000032,
            Fixtures.t0, upd)).asJava, Schemas.payment)))

    pipeline.runAll(spark)
    // append-only warehouse: the updated payment lands as a NEW version row
    val fp = wh.read("fact_payment")
    assert(fp.count() === 7)
    assert(fp.filter(col("payment_id") === 3).count() === 2)
    // dims regenerate from the latest delta state and re-append
    assert(wh.read("dim_date").count() === 1462)
  }

  test("transform awaits every output before a failed write throws") {
    val src = tmpDir("src")
    val srcStore = new ParquetStore(spark, src)
    Fixtures.all(spark).foreach { case (n, df) => srcStore.write(n, df) }
    val landed = new ParquetStore(spark, tmpDir("ingested"))
    new IngestJob(new ParquetSource(spark, src), landed).run()

    val declared = Seq("dim_date", "dim_location", "dim_design", "dim_currency",
      "dim_counterparty", "dim_staff", "dim_transaction", "dim_payment_type",
      "fact_sales_order", "fact_purchase_order", "fact_payment")
    assert(new TransformJob(landed, new ParquetStore(spark, tmpDir("ok")))
      .run(spark) === declared)

    val inner = new ParquetStore(spark, tmpDir("processed"))
    val failing = new TableStore {
      def exists(name: String): Boolean = inner.exists(name)
      def list(): Seq[String] = inner.list()
      def read(name: String): DataFrame = inner.read(name)
      def read(name: String, schema: StructType): DataFrame = inner.read(name, schema)
      def write(name: String, df: DataFrame): Unit =
        if (name == "dim_currency") throw new RuntimeException("boom: dim_currency")
        else inner.write(name, df)
      def append(name: String, df: DataFrame): Unit = inner.append(name, df)
    }
    val e = intercept[RuntimeException](new TransformJob(landed, failing).run(spark))
    assert(e.getMessage === "boom: dim_currency")
    // await-all: the 10 healthy outputs were written before the throw
    assert(inner.list() === declared.filterNot(_ == "dim_currency").sorted)
    assert(inner.read("dim_date").count() === 731)
  }
}
