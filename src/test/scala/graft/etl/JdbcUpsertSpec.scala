package graft.etl

import java.sql.DriverManager
import java.util.Properties
import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** [EXT] upsert sink mode: re-loads replace key-matched rows instead of
  * duplicating them (the reference's loader is append-only and its own
  * e2e test asserts the duplication; `append` keeps that parity —
  * JdbcSpec). Identifier contract: columns are matched case-exactly as
  * the conformed frame declares them, i.e. the same convention the Spark
  * JDBC writer uses when it creates tables (quoted, case-preserved) and
  * the same thing a Postgres warehouse's unquoted lowercase DDL folds
  * to — so the spec DDL quotes its lowercase identifiers. */
class JdbcUpsertSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftupsert;create=true"
  private def props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  private lazy val setup: Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate(
      """CREATE TABLE "dim_currency" (
        |  "currency_id" INT, "currency_code" VARCHAR(3),
        |  "currency_name" VARCHAR(64))""".stripMargin)
    st.close(); conn.close()
  }

  /** Asserts that the staging table of `table` did not survive the call. */
  private def assertNoStage(table: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", null)
      val names = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
      assert(!names.exists(_.equalsIgnoreCase(s"${table}_stage")),
        s"staging table leaked: $names")
    } finally conn.close()
  }

  private def dim(rows: Seq[(Int, String, String)]) = {
    import spark.implicits._
    rows.toDF("currency_id", "currency_code", "currency_name")
  }

  test("upsert is idempotent where append duplicates") {
    setup
    val sink = new JdbcWarehouseSink(url, props, batchSize = 2)
    val v1 = dim(Seq((1, "AAA", "Alpha"), (2, "BBB", "Beta")))
    sink.upsert("dim_currency", v1)
    sink.upsert("dim_currency", v1) // the re-run that trips the reference
    val back = spark.read.jdbc(url, "\"dim_currency\"", props)
    assert(back.count() === 2, "re-running an upsert load must not duplicate")
  }

  test("upsert replaces matched rows and inserts new ones in one call") {
    setup
    val sink = new JdbcWarehouseSink(url, props, batchSize = 2)
    sink.upsert("dim_currency",
      dim(Seq((1, "AAA", "Alpha"), (2, "BBB", "Beta"))))
    // key 2 updated, key 3 brand new
    sink.upsert("dim_currency",
      dim(Seq((2, "BBB", "Beta-renamed"), (3, "CCC", "Gamma"))))
    val back = spark.read.jdbc(url, "\"dim_currency\"", props)
      .collect().map(r => (r.getInt(0), r.getString(2))).toMap
    assert(back === Map(1 -> "Alpha", 2 -> "Beta-renamed", 3 -> "Gamma"))
    assertNoStage("dim_currency")
  }

  test("upsert rolls back its DELETE when the INSERT violates a constraint") {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate(
      """CREATE TABLE "dim_checked" (
        |  "currency_id" INT, "currency_code" VARCHAR(3),
        |  "currency_name" VARCHAR(64),
        |  CHECK ("currency_code" <> 'BAD'))""".stripMargin)
    st.close(); conn.close()

    val sink = new JdbcWarehouseSink(url, props, batchSize = 2)
    sink.upsert("dim_checked",
      dim(Seq((1, "AAA", "Alpha"), (2, "BBB", "Beta"))), Seq("currency_id"))
    // key 1 matches, so the DELETE removes it before the INSERT of its
    // replacement trips the CHECK; key 3 is new
    intercept[java.sql.SQLException] {
      sink.upsert("dim_checked",
        dim(Seq((1, "BAD", "Alpha-bad"), (3, "CCC", "Gamma"))), Seq("currency_id"))
    }
    val back = spark.read.jdbc(url, "\"dim_checked\"", props)
      .collect().map(r => (r.getInt(0), r.getString(2))).toMap
    assert(back === Map(1 -> "Alpha", 2 -> "Beta"),
      "a failed upsert must leave the matched rows in place")
    // a rolled-back swap drops its stage too
    assertNoStage("dim_checked")
  }

  test("declared natural keys drive the convenience overload; unknown tables refuse") {
    setup
    assert(Schemas.warehouseKeys("dim_currency") === Seq("currency_id"))
    assert(Schemas.warehouseKeys("fact_sales_order") === Seq("sales_order_id"))
    val sink = new JdbcWarehouseSink(url, props)
    intercept[IllegalArgumentException] {
      sink.upsert("not_a_warehouse_table", dim(Seq((1, "AAA", "x"))))
    }
  }
}
