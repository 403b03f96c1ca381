package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AggregatorsSpec extends SparkSpec {

  test("TopK aggregator keeps the k largest per group (vs window oracle)") {
    import spark.implicits._
    val orders = graft.core.Tables(spark, "/root/testdata/sf0.001", "orders")
    val topk = udaf(Aggregators.TopK(3))
    val got = orders
      .groupBy("o_orderstatus")
      .agg(topk(col("o_totalprice")).as("top3"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap

    val expected = orders
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderstatus").orderBy(col("o_totalprice").desc)))
      .filter(col("rn") <= 3)
      .groupBy("o_orderstatus")
      .agg(sort_array(collect_list("o_totalprice"), asc = false).as("top3"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap

    assert(got === expected)
  }

  test("TopK skips NULL inputs; an all-NULL group has an empty top-k") {
    import spark.implicits._
    val topk = udaf(Aggregators.TopK(3))
    val got = Seq[(String, Option[Double])](
        ("a", Some(-5.0)), ("a", Some(-3.0)), ("a", None), ("a", Some(4.0)),
        ("b", None), ("b", None))
      .toDF("g", "v")
      .groupBy("g").agg(topk(col("v")).as("top3"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got === Map("a" -> Seq(4.0, -3.0, -5.0), "b" -> Seq.empty[Double]))
  }

  test("WeightedMean aggregator: quantity-weighted price per flag") {
    import spark.implicits._
    val li = graft.core.Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val wm = udaf(Aggregators.WeightedMean())
    val got = li.groupBy("l_returnflag")
      .agg(wm(col("l_extendedprice"), col("l_quantity")).as("wmean"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expected = li.groupBy("l_returnflag")
      .agg((sum(col("l_extendedprice") * col("l_quantity"))
        / sum(col("l_quantity"))).as("wmean"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    got.foreach { case (k, v) =>
      assert(math.abs(v - expected(k)) < 1e-6, s"flag $k: $v vs ${expected(k)}")
    }
  }

  test("approx_count_distinct within rsd of exact (HLL calibration)") {
    val ev = graft.core.Tables(spark, "/root/testdata/sf0.001", "events")
    val row = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), rsd = 0.05).as("approx"))
      .collect()(0)
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact <= 0.15,
      s"approx $approx too far from exact $exact")
  }
}
