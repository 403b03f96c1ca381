package graft.etl

import java.sql.{DriverManager, Timestamp}
import java.util.Properties
import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Real-JDBC integration over embedded Derby (ships with Spark): catalog
  * discovery, full scan, strict-`>` incremental pushdown, and the batched
  * append sink — the production path of S1–S3/S6 exercised against an
  * actual database instead of the parquet test double. */
class JdbcSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private def props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  private lazy val setup: Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate(
      """CREATE TABLE currency (
        |  currency_id INT, currency_code VARCHAR(3),
        |  created_at TIMESTAMP, last_updated TIMESTAMP)""".stripMargin)
    st.executeUpdate(
      "INSERT INTO currency VALUES (1, 'AAA', '2023-01-01 10:00:00', '2023-01-01 10:00:00')")
    st.executeUpdate(
      "INSERT INTO currency VALUES (2, 'BBB', '2023-01-01 10:00:00', '2023-01-01 10:00:00')")
    st.executeUpdate(
      "INSERT INTO currency VALUES (3, 'GBP', '2023-02-02 11:30:00', '2023-02-02 11:30:00')")
    st.executeUpdate(
      """CREATE TABLE dim_currency (
        |  currency_id INT, currency_code VARCHAR(3), currency_name VARCHAR(64))"""
        .stripMargin)
    st.close(); conn.close()
  }

  private def source = new JdbcSource(spark, url, props,
    catalogQuery = JdbcSource.derbyCatalogQuery)

  test("catalog discovery via the dialect catalog query") {
    setup
    assert(source.listTables() === Seq("CURRENCY", "DIM_CURRENCY"))
  }

  test("catalog discovery loads a driver that only the driver property names") {
    val conn = DriverManager.getConnection("jdbc:derby:memory:graftpropdb;create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE payment (payment_id INT)")
      st.executeUpdate("INSERT INTO payment VALUES (1)")
      st.close()
    } finally conn.close()
    val p = new Properties()
    p.setProperty("driver", classOf[PropertyOnlyDriver].getName)
    val viaProperty = new JdbcSource(spark,
      PropertyOnlyDriver.Prefix + "memory:graftpropdb", p,
      catalogQuery = JdbcSource.derbyCatalogQuery)
    // listTables is a tick's first JDBC call: no Spark read has loaded the
    // driver yet
    assert(viaProperty.listTables() === Seq("PAYMENT"))
    assert(viaProperty.full("PAYMENT").count() === 1)
  }

  test("full scan reads every row with JDBC types") {
    setup
    val df = source.full("CURRENCY")
    assert(df.count() === 3)
    assert(df.schema("currency_id".toUpperCase).dataType.typeName === "integer")
  }

  test("incremental scan: strict-> watermark predicate pushed to the DB") {
    setup
    val wm = Timestamp.valueOf("2023-01-01 10:00:00")
    val delta = source.incremental("CURRENCY", wm, wm)
    assert(delta.collect().map(_.getInt(0)).toSeq === Seq(3))
    // the timestamp predicate must reach the JDBC relation as a pushed filter
    val plan = delta.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(CREATED_AT"),
      plan.take(1500))
  }

  test("partitioned scan plans N stride partitions with identical rows") {
    setup
    val par = new JdbcSource(spark, url, props,
      catalogQuery = JdbcSource.derbyCatalogQuery,
      partitioning = Map("CURRENCY" ->
        JdbcPartitioning("CURRENCY_ID", lowerBound = 1, upperBound = 4,
          numPartitions = 3)))
    val df = par.full("CURRENCY")
    // the scan itself is split into stride ranges — N remote cursors in
    // parallel, not one (the reference's single-cursor extract analogue)
    assert(df.rdd.getNumPartitions === 3,
      "partitioned JDBC read must plan numPartitions scan partitions")
    // stride predicates must not drop or duplicate boundary rows
    assert(df.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
    // unlisted tables keep the single-partition default
    assert(par.full("DIM_CURRENCY").rdd.getNumPartitions === 1)
    // the incremental path composes with the partitioned scan
    val wm = Timestamp.valueOf("2023-01-01 10:00:00")
    val delta = par.incremental("CURRENCY", wm, wm)
    assert(delta.rdd.getNumPartitions === 3)
    assert(delta.collect().map(_.getInt(0)).toSeq === Seq(3))
  }

  test("auto partitioning derives live min/max bounds per scan") {
    setup
    val auto = new JdbcSource(spark, url, props,
      catalogQuery = JdbcSource.derbyCatalogQuery,
      partitioning = Map("CURRENCY" ->
        JdbcPartitioning.auto("CURRENCY_ID", numPartitions = 2)))
    val df = auto.full("CURRENCY")
    assert(df.rdd.getNumPartitions === 2,
      "auto bounds must still plan the requested stride partitions")
    assert(df.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
    // bounds are re-derived per scan, so rows beyond any earlier max land
    // in their own strides, not piled into the last partition
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "INSERT INTO currency VALUES (40, 'DDD', '2023-03-03 09:00:00', '2023-03-03 09:00:00')")
      st.close()
      assert(auto.full("CURRENCY").collect().map(_.getInt(0)).sorted.toSeq
        === Seq(1, 2, 3, 40))
    } finally {
      val st2 = conn.createStatement()
      st2.executeUpdate("DELETE FROM currency WHERE currency_id = 40")
      st2.close(); conn.close()
    }
    // an empty table cannot stride: single-cursor fallback, zero rows
    val st3 = DriverManager.getConnection(url).createStatement()
    st3.executeUpdate(
      "CREATE TABLE empty_tbl (id INT, created_at TIMESTAMP, last_updated TIMESTAMP)")
    st3.close()
    val autoEmpty = new JdbcSource(spark, url, props,
      catalogQuery = JdbcSource.derbyCatalogQuery,
      partitioning = Map("EMPTY_TBL" -> JdbcPartitioning.auto("ID", 4)))
    val empty = autoEmpty.full("EMPTY_TBL")
    assert(empty.rdd.getNumPartitions === 1 && empty.count() === 0)
  }

  test("batched append sink accumulates (reference to_sql parity)") {
    setup
    val sink = new JdbcWarehouseSink(url, props, batchSize = 2)
    val dim = DimBuilders.dimCurrency(Fixtures.currency(spark))
    sink.append("dim_currency", dim)
    sink.append("dim_currency", dim) // re-load duplicates, append-only
    val back = spark.read.jdbc(url, "dim_currency", props)
    assert(back.count() === 6)
    assert(back.filter(col("CURRENCY_NAME") === "0").count() === 6)
  }

  test("sink caps writer parallelism (connection count) at numWriters") {
    setup
    // a frame arriving with many partitions must be coalesced before the
    // JDBC write — each writer partition opens its own connection, so the
    // cap IS the warehouse connection bound at any input partitioning
    val sink = new JdbcWarehouseSink(url, props, batchSize = 2, numWriters = 4)
    val wide = DimBuilders.dimCurrency(Fixtures.currency(spark)).repartition(32)
    assert(sink.writerFrame("dim_currency", wide).rdd.getNumPartitions <= 4)
    // narrow frames keep their (already-bounded) parallelism: no repartition
    val narrow = DimBuilders.dimCurrency(Fixtures.currency(spark)).repartition(2)
    assert(sink.writerFrame("dim_currency", narrow).rdd.getNumPartitions === 2)
    // and the capped write still lands correctly
    sink.append("dim_currency", wide)
    assert(spark.read.jdbc(url, "dim_currency", props).count() >= 3)
  }
}
