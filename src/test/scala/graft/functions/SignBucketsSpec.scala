package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.operators.{Oracles, Similarity}

/** Native fused sign-projection bucketing vs the per-plane HOF fold:
  * bit-identical bucket ids on real embeddings and on the fold form's
  * null/length-mismatch algebra (null element or wrong dim → bucket 0). */
class SignBucketsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val planes = Similarity.hyperplanes(16, 64)

  test("native kernel matches the HOF fold on real embeddings") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val diffs = emb
      .select(col("vec_id"),
        Similarity.bucketId(col("embedding"), planes).as("native"),
        Oracles.bucketIdFold(col("embedding"), planes).as("fold"))
      .filter(col("native") =!= col("fold") ||
        col("native").isNull =!= col("fold").isNull)
      .count()
    assert(diffs === 0L)
    // and the buckets are non-trivial (not all rows in one bucket)
    val distinct = emb
      .select(Similarity.bucketId(col("embedding"), planes).as("b"))
      .distinct().count()
    assert(distinct > 1L)
  }

  test("null element and length mismatch take the fold's zero-bucket path") {
    import spark.implicits._
    val twoPlanes = Array(Array(1.0, 1.0), Array(1.0, -1.0))
    val df = Seq[(Long, Option[Seq[Option[Float]]])](
      (1L, Some(Seq(Some(3.0f), Some(1.0f)))),   // both dots > 0 → bits 0,1
      (2L, Some(Seq(Some(-1.0f), Some(-2.0f)))), // dot1 < 0, dot2 > 0
      (3L, Some(Seq(Some(1.0f), None))),         // null element → 0L
      (4L, Some(Seq(Some(1.0f)))),               // dim mismatch → 0L
      (5L, None)                                 // null vector → 0L (fold algebra)
    ).toDF("vec_id", "embedding")
    val out = df
      .select(col("vec_id"),
        Similarity.bucketId(col("embedding"), twoPlanes).as("native"),
        Oracles.bucketIdFold(col("embedding"), twoPlanes).as("fold"))
      .orderBy("vec_id").collect()
    out.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null parity broke: $r")
      if (!r.isNullAt(1)) assert(r.getLong(1) === r.getLong(2), s"value: $r")
    }
    assert(out(0).getLong(1) === 3L)
    assert(out(1).getLong(1) === 2L)
    assert(out(2).getLong(1) === 0L)
    assert(out(3).getLong(1) === 0L)
    assert(out(4).getLong(1) === 0L)
  }

  test("interpreted eval path matches codegen (constant folding)") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_sign_buckets(array(CAST(1.0 AS DOUBLE), 2.0),
        |  array(array(CAST(1.0 AS DOUBLE), 0.0), array(-1.0, 0.0))) AS b
        |""".stripMargin).head().getLong(0)
    assert(r === 1L) // dot1 = 1 > 0 → bit 0; dot2 = -1 → bit 1 unset
  }

  test("non-foldable plane matrix fails type check") {
    import spark.implicits._
    val df = Seq((Array(1.0), Array(Array(1.0)))).toDF("v", "p")
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      df.selectExpr("graft_sign_buckets(v, p)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"))
  }
}
