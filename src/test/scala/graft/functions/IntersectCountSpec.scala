package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The fused sorted-intersection-count kernel
  * ([[IntersectCountSortedBounded]]) vs the composable
  * size(array_intersect) form — with `minCount = 0` the merge walk never
  * stops early and must agree exactly; above it, the threshold-filtered
  * pair set must not change. */
class IntersectCountSpec extends SparkSpec {

  private def exact(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    GraftFunctions.intersectCountSortedBounded(a, b, lit(0))

  test("agrees with size(array_intersect) on real corpus token arrays") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 60)
    val sets = graft.operators.Dedup.tokenSet(docs, "doc_id", "text")
    // the producer shape used by every verification tail: sorted distinct
    val arr = sets.groupBy("doc_id")
      .agg(sort_array(collect_set(col("w"))).as("toks"))
    val pairs = arr.select(col("doc_id").as("id1"), col("toks").as("t1"))
      .crossJoin(arr.select(col("doc_id").as("id2"), col("toks").as("t2")))
      .filter(col("id1") < col("id2"))
    val diff = pairs.withColumn("fused", exact(col("t1"), col("t2")))
      .withColumn("ref", size(array_intersect(col("t1"), col("t2"))))
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(diff === 0L)
  }

  test("sorted kernel: empties, single elements, and interpreted eval path") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")), // overlap 2
      (Seq.empty[String], Seq("a")),            // empty left
      (Seq("x"), Seq.empty[String]),            // empty right
      (Seq("a"), Seq("a")),                     // identical singletons
      (Seq("a", "c", "e"), Seq("b", "d", "f"))  // disjoint interleaved
    ).toDF("a", "b")
    val got = df.select(exact(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(2, 0, 0, 1, 0))

    // a null array yields null
    val withNull = Seq((None: Option[Seq[String]], Seq("a"))).toDF("a", "b")
    assert(withNull.select(exact(col("a"), col("b"))).head().isNullAt(0))

    // interpreted (non-codegen) eval path must agree: evaluate the
    // expression directly against InternalRow-converted inputs
    import org.apache.spark.sql.catalyst.expressions.Literal
    val strings = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType)
    val expr = IntersectCountSortedBounded(
      Literal.create(Seq("a", "b", "c"), strings),
      Literal.create(Seq("b", "c", "d"), strings),
      Literal(0))
    assert(expr.eval(null) === 2)
  }

  test("bounded kernel: exact at-or-above minCount, below-minCount when " +
      "it breaks, and threshold-filtered sets identical on real arrays") {
    import spark.implicits._
    val df = Seq(
      // |∩| = 3; minCount 2 -> must be exact (3)
      (Seq("a", "b", "c", "d"), Seq("b", "c", "d", "e"), 2),
      // |∩| = 0, disjoint; minCount 3 -> breaks, returns < 3
      (Seq("a", "b", "c", "d"), Seq("e", "f", "g", "h"), 3),
      // minCount 0 -> never breaks, exact
      (Seq("a", "x"), Seq("x", "y"), 0)
    ).toDF("a", "b", "m")
    val got = df.select(GraftFunctions.intersectCountSortedBounded(
        col("a"), col("b"), col("m"))).collect().map(_.getInt(0)).toSeq
    assert(got.head === 3)
    assert(got(1) < 3)
    assert(got(2) === 1)

    // pipeline-level guarantee on real corpus arrays: the >= t filtered
    // pair set is identical whether counts come from the exact
    // size(array_intersect) or the bounded walk with the jaccard-derived
    // floor bound
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 60)
    val arr = graft.operators.Dedup.tokenSet(docs, "doc_id", "text")
      .groupBy("doc_id").agg(sort_array(collect_set(col("w"))).as("toks"))
    val pairs = arr.select(col("doc_id").as("id1"), col("toks").as("t1"))
      .crossJoin(arr.select(col("doc_id").as("id2"), col("toks").as("t2")))
      .filter(col("id1") < col("id2"))
    val t = 0.8
    def jac(c: org.apache.spark.sql.Column) =
      c.cast("double") / (size(col("t1")) + size(col("t2")) - c).cast("double")
    def surviving(c: org.apache.spark.sql.Column) = pairs
      .filter(jac(c) >= t)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reference = surviving(size(array_intersect(col("t1"), col("t2"))))
    val bounded = surviving(GraftFunctions.intersectCountSortedBounded(
      col("t1"), col("t2"),
      floor(lit(t / (1.0 + t)) * (size(col("t1")) + size(col("t2")))).cast("int")))
    assert(reference.nonEmpty)
    assert(bounded === reference)
  }

  test("kernel appears in the plan (codegen path, not array_intersect)") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val df = graft.operators.Dedup.minhashNearDups(
      docs.filter(col("doc_id") < 50), "doc_id", "text", 64, 16, 0.8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(GraftFunctions.intersectBoundedName + "("),
      plan.take(2000))
    assert(!plan.contains("array_intersect"), "composable fallback in hot path")
  }
}
