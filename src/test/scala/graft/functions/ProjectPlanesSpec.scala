package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.operators.{Oracles, Similarity}

/** Native fused mat-vec projection vs the per-plane HOF fold:
  * bit-identical (vec_id, j, v) rows on real embeddings, and the fold's
  * null algebra (null element / dim mismatch / null vector → k null
  * components, never a missing row). */
class ProjectPlanesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("native kernel matches the HOF fold on real embeddings") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val dim = emb.selectExpr("size(embedding)").head().getInt(0)
    val native = Similarity.randomProjection(emb, k = 8, dim = dim)
    val fold = Oracles.randomProjectionFold(emb, k = 8, dim = dim)
    val joined = native.as("n")
      .join(fold.as("f"), Seq("vec_id", "j"), "full_outer")
      .filter(col("n.v") =!= col("f.v") ||
        col("n.v").isNull =!= col("f.v").isNull)
    assert(joined.count() === 0L)
    assert(native.count() === fold.count())
  }

  test("null element, dim mismatch, null vector: k null components each") {
    import spark.implicits._
    val df = Seq[(Long, Option[Seq[Option[Float]]])](
      (1L, Some(Seq(Some(1.0f), Some(2.0f)))),
      (2L, Some(Seq(Some(1.0f), None))),
      (3L, Some(Seq(Some(1.0f)))),
      (4L, None)
    ).toDF("vec_id", "embedding")
    val native = Similarity.randomProjection(df, k = 4, dim = 2)
    val fold = Oracles.randomProjectionFold(df, k = 4, dim = 2)
    assert(native.count() === 16L, "every vector must emit k rows")
    val n = native.orderBy("vec_id", "j").collect()
    val f = fold.orderBy("vec_id", "j").collect()
    n.zip(f).foreach { case (a, b) =>
      assert(a.isNullAt(2) === b.isNullAt(2), s"null parity: $a vs $b")
      if (!a.isNullAt(2)) assert(a.getDouble(2) === b.getDouble(2))
    }
    // rows 2-4 are all-null components; row 1 is fully defined
    assert(n.filter(_.getLong(0) == 1L).forall(!_.isNullAt(2)))
    assert(n.filter(_.getLong(0) > 1L).forall(_.isNullAt(2)))
  }
}
