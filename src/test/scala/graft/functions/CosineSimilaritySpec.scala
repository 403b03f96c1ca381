package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.operators.{Oracles, Similarity}

/** Native codegen'd cosine vs the higher-order-function fold: bit-identical
  * on real embeddings, SQL-reachable, null-safe. */
class CosineSimilaritySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("native cosine matches the HOF fold bit for bit on real embeddings") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pairs = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
    val diffs = pairs.select(
        Similarity.cosine(col("qe"), col("embedding")).as("native"),
        Oracles.cosineFold(col("qe"), col("embedding")).as("fold"))
      .filter(col("native") =!= col("fold"))
      .count()
    assert(diffs === 0L)
  }

  test("reachable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(0.5d, 0.5d)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(r - math.sqrt(2) / 2) < 1e-12)
  }

  test("null and zero-norm handling") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT graft_cosine(array(0.0d, 0.0d), array(1.0d, 1.0d)) AS zero_norm,
        |       graft_cosine(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS null_in
        |""".stripMargin).collect()(0)
    assert(rows.isNullAt(0) && rows.isNullAt(1))
  }

  test("float arrays are read natively (no cast wrapper)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(2.0f, 4.0f))).toDF("a", "b")
    // the plan must contain no per-pair transform/cast around the kernel —
    // the round-7 hot-path defect this kernel generalization removed
    val scored = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(!scored.queryExecution.optimizedPlan.toString.contains("transform"))
    val c = scored.collect()(0).getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9)
  }

  test("native float read is bit-identical to cast-then-fold on real embeddings") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pairs = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
    // float arrays fed natively vs explicitly widened to array<double>:
    // in-loop (double) widening of a float is exact, so bit-identical
    val diffs = pairs.select(
        Similarity.cosine(col("qe"), col("embedding")).as("native_float"),
        Similarity.cosine(
          transform(col("qe"), _.cast("double")),
          transform(col("embedding"), _.cast("double"))).as("cast_double"))
      .filter(col("native_float") =!= col("cast_double"))
      .count()
    assert(diffs === 0L)
  }

  test("long (int8-quantized) and mixed float×long inputs score natively") {
    import spark.implicits._
    // qvec from quantizeInt8 is array<long>; query stays array<float>
    val df = Seq((Array(1.0f, 2.0f), Array(64L, 127L))).toDF("qe", "ce")
    val c = df.select(Similarity.cosine(col("qe"), col("ce")).as("c"))
      .collect()(0).getDouble(0)
    val expect = (1.0 * 64 + 2.0 * 127) /
      (math.sqrt(1.0 + 4.0) * math.sqrt(64.0 * 64 + 127.0 * 127))
    assert(math.abs(c - expect) < 1e-12)
  }

  test("interpreted eval path handles int arrays (constant folding)") {
    GraftFunctions.register(spark)
    // literal int arrays are foldable → ConstantFolding evaluates the
    // expression via nullSafeEval, covering the non-codegen read path
    val r = spark.sql("SELECT graft_cosine(array(1, 2), array(2, 4)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }
}
