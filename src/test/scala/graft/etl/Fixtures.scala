package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** In-memory replicas of the reference's seeded test OLTP database
  * (reference: extraction_test_db/test_db_setup/setup_test_db.sql:127-227),
  * used the way the reference's pytest suites use the seeded Postgres. */
object Fixtures {

  val t0: Timestamp = Timestamp.valueOf("2023-01-01 10:00:00")

  /** Runs `f` with Spark writing parquet timestamps as `kind`
    * (`spark.sql.parquet.outputTimestampType`): `TIMESTAMP_MICROS` and
    * `TIMESTAMP_MILLIS` carry footer statistics, the default `INT96` none. */
  def writingTimestampsAs[T](spark: SparkSession, kind: String)(f: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, kind)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
  private def bd(s: String) = new java.math.BigDecimal(s).setScale(2)

  def address(spark: SparkSession): DataFrame = spark.createDataFrame(
    (1 to 5).map { i =>
      val c = ('a' + i - 1).toChar
      Row(i, s"al1-$c", s"al2-$c", s"district-$c", s"city-$c",
        s"$i$i$i$i$i" + (if (i % 2 == 0) s"-$i$i$i$i" else ""),
        s"country-$c", f"0000 00000$i", t0, t0)
    }.asJava, Schemas.address)

  def counterparty(spark: SparkSession): DataFrame = spark.createDataFrame(
    Seq(
      Row(1, "cp-a", 1, "cc-a", "dc-a", t0, t0),
      Row(2, "cp-b", 2, "cc-b", "dc-b", t0, t0),
      Row(3, "cp-c", 3, "cc-c", "dc-c", t0, t0),
      Row(4, "cp-d", 3, "cc-d", "dc-d", t0, t0)).asJava, Schemas.counterparty)

  def currency(spark: SparkSession): DataFrame = spark.createDataFrame(
    Seq(Row(1, "AAA", t0, t0), Row(2, "BBB", t0, t0),
      Row(3, "CCC", t0, t0)).asJava, Schemas.currency)

  def department(spark: SparkSession): DataFrame = spark.createDataFrame(
    (1 to 3).map { i =>
      val c = ('a' + i - 1).toChar
      Row(i, s"dept-$c", s"loc-$c", s"man-$c", t0, t0)
    }.asJava, Schemas.department)

  def design(spark: SparkSession): DataFrame = spark.createDataFrame(
    (1 to 6).map { i =>
      val c = ('a' + i - 1).toChar
      Row(i, s"design-$c", s"/$c$c", s"file-$c.json", t0, t0)
    }.asJava, Schemas.design)

  def paymentType(spark: SparkSession): DataFrame = spark.createDataFrame(
    Seq(Row(1, "SALES_RECEIPT", t0, t0), Row(2, "SALES_REFUND", t0, t0),
      Row(3, "PURCHASE_PAYMENT", t0, t0),
      Row(4, "PURCHASE_REFUND", t0, t0)).asJava, Schemas.paymentType)

  def payment(spark: SparkSession): DataFrame = spark.createDataFrame(
    Seq(
      Row(1, 1, 1, bd("10.00"), 1, 1, false, "2023-01-01", 10000011, 10000012, t0, t0),
      Row(2, 2, 2, bd("20.00"), 2, 2, true, "2023-01-01", 10000021, 10000022, t0, t0),
      Row(3, 3, 3, bd("30.00"), 3, 3, true, "2023-01-01", 10000031, 10000032, t0, t0),
      Row(4, 4, 1, bd("10.00"), 1, 4, false, "2023-01-01", 10000041, 10000042, t0, t0),
      Row(5, 5, 2, bd("20.00"), 2, 1, true, "2023-01-01", 10000051, 10000052, t0, t0),
      Row(6, 6, 3, bd("30.00"), 3, 2, true, "2023-01-01", 10000061, 10000062, t0, t0))
      .asJava, Schemas.payment)

  def purchaseOrder(spark: SparkSession): DataFrame = spark.createDataFrame(
    (1 to 6).map { i =>
      val k = ((i - 1) % 3) + 1
      Row(i, k, k, "AAAAAAA", i, bd("10.00"), k, "2023-01-01", "2023-01-01", k, t0, t0)
    }.asJava, Schemas.purchaseOrder)

  def salesOrder(spark: SparkSession): DataFrame = spark.createDataFrame(
    Seq(
      Row(1, 1, 1, 1, 10, bd("1.00"), 1, "2023-01-01", "2023-01-01", 1, t0, t0),
      Row(2, 2, 2, 2, 20, bd("2.00"), 2, "2023-01-01", "2023-01-01", 2, t0, t0),
      Row(3, 3, 3, 3, 30, bd("3.00"), 3, "2023-01-01", "2023-01-01", 3, t0, t0),
      Row(4, 4, 1, 1, 40, bd("4.00"), 1, "2023-01-01", "2023-01-01", 4, t0, t0),
      Row(5, 5, 2, 2, 50, bd("5.00"), 2, "2023-01-01", "2023-01-01", 5, t0, t0),
      Row(6, 6, 3, 3, 60, bd("6.00"), 3, "2023-01-01", "2023-01-01", 1, t0, t0))
      .asJava, Schemas.salesOrder)

  def staff(spark: SparkSession): DataFrame = spark.createDataFrame(
    (1 to 3).map { i =>
      val c = ('a' + i - 1).toChar
      Row(i, s"fn-$c", s"ln-$c", i, s"fn$c.ln$c@terrifictotes.com", t0, t0)
    }.asJava, Schemas.staff)

  def transaction(spark: SparkSession): DataFrame = spark.createDataFrame(
    Seq(
      Row(1, "PURCHASE", null, Integer.valueOf(1), t0, t0),
      Row(2, "SALE", Integer.valueOf(1), null, t0, t0),
      Row(3, "PURCHASE", null, Integer.valueOf(2), t0, t0),
      Row(4, "SALE", Integer.valueOf(2), null, t0, t0),
      Row(5, "PURCHASE", null, Integer.valueOf(3), t0, t0),
      Row(6, "SALE", Integer.valueOf(3), null, t0, t0)).asJava, Schemas.transaction)

  /** All 11 seeded source tables keyed by name. */
  def all(spark: SparkSession): Map[String, DataFrame] = Map(
    "address" -> address(spark), "counterparty" -> counterparty(spark),
    "currency" -> currency(spark), "department" -> department(spark),
    "design" -> design(spark), "payment_type" -> paymentType(spark),
    "payment" -> payment(spark), "purchase_order" -> purchaseOrder(spark),
    "sales_order" -> salesOrder(spark), "staff" -> staff(spark),
    "transaction" -> transaction(spark))
}
