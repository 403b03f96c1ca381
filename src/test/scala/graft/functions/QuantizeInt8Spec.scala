package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.operators.{Oracles, Similarity}

/** Native fused int8 quantization vs the HOF column-algebra form:
  * bit-identical scale and qvec on real embeddings and on adversarial
  * rounding inputs (negative halves, zero vectors, empty arrays). */
class QuantizeInt8Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("native kernel matches the HOF fold bit for bit on real embeddings") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val native = Similarity.quantizeInt8(emb)
    val fold = Oracles.quantizeInt8Fold(emb)
    val diffs = native.as("n").join(fold.as("f"), "vec_id")
      .filter(col("n.scale") =!= col("f.scale") ||
        col("n.qvec") =!= col("f.qvec"))
      .count()
    assert(diffs === 0L)
    assert(native.count() === fold.count())
  }

  test("HALF_UP rounding parity on adversarial values") {
    import spark.implicits._
    // rows built so x/scale lands exactly on .5 ties, both signs:
    // absmax 127 → scale 1.0 → elements quantize as round(x) HALF_UP
    val df = Seq(
      (1L, Array(2.5f, -2.5f, 0.5f, -0.5f, 127.0f)),
      (2L, Array(0.0f, 0.0f)), // zero vector → scale floor 1e-30
      (3L, Array.empty[Float])
    ).toDF("vec_id", "embedding")
    val native = Similarity.quantizeInt8(df)
    val fold = Oracles.quantizeInt8Fold(df)
    val n = native.orderBy("vec_id").collect()
    val f = fold.orderBy("vec_id").collect()
    assert(n.toSeq === f.toSeq)
    // HALF_UP rounds away from zero: 2.5→3, -2.5→-3 (Math.round would
    // give -2; the kernel must replay Spark's BigDecimal path)
    assert(n(0).getSeq[Long](2) === Seq(3L, -3L, 1L, -1L, 127L))
    assert(n(1).getDouble(1) === 1e-30)
    assert(n(2).getSeq[Long](2).isEmpty)
  }

  test("interpreted eval path matches codegen (constant folding)") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_quantize_int8(array(CAST(2.5 AS DOUBLE), -2.5, 1.25)).qvec AS q
        |""".stripMargin).collect()(0).getSeq[Long](0)
    // scale = 2.5/127; 2.5/scale = 127, 1.25/scale = 63.5 → HALF_UP 64
    assert(r === Seq(127L, -127L, 64L))
  }
}
