package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** [[TotalOrder.ensureOrderStats]] + the served bounded cum-sum path:
  * output-identical to the in-plan computation and to the
  * single-partition-window ground truth across budget positions (empty
  * cut, mid-bucket, bucket edge, whole corpus); the served plan carries
  * NO aggregate (the totals come from the fingerprinted session memo);
  * stale stats (data rewritten under the same path) are refused with an
  * in-plan fallback and rebuilt by the next ensure, an emptied input
  * included; non-integral weights
  * never serve (float prefix sums are order-sensitive). The TotalOrder
  * gates' build path writes no catalog table and repeats for free. */
class OrderStatsSpec extends SparkSpec {

  import spark.implicits._

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty

  /** Single-partition-window ground truth of the budget cut. */
  private def truth(df: DataFrame, b: Long): Seq[Seq[Any]] =
    df.withColumn("cum",
        sum(col("w")).over(Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum") <= b)
      .orderBy("k").select("k", "cum").collect().map(_.toSeq).toSeq

  private def served(df: DataFrame, b: Long): DataFrame =
    TotalOrder.globalCumSum(df, "k", "w", "cum",
        inclusive = true, upperBound = Some(b))
      .filter(col("cum") <= b).orderBy("k").select("k", "cum")

  test("served bounded cum-sum equals in-plan path and ground truth") {
    val dir = tmpDir("ordstats")
    val rnd = new scala.util.Random(7L)
    val rows = (1L to 200L).map(k => (k, 1L + rnd.nextInt(9)))
    rows.toDF("k", "w").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val total = rows.map(_._2).sum
    val budgets = Seq(0L, 3L, total / 3, total / 2 + 1, total, total + 10)

    // in-plan results FIRST (no stats landed yet) — plan must aggregate
    val inPlan = budgets.map { b =>
      val q = served(df, b)
      assert(hasAggregate(q), s"in-plan path for b=$b should aggregate")
      q.collect().map(_.toSeq).toSeq
    }
    TotalOrder.ensureOrderStats(df, "k", "w")
    budgets.zip(inPlan).foreach { case (b, expected) =>
      val q = served(df, b)
      assert(!hasAggregate(q),
        s"served path for b=$b must carry no aggregate")
      val got = q.collect().map(_.toSeq).toSeq
      assert(got === expected, s"served != in-plan at b=$b")
      assert(got === truth(df, b), s"served != ground truth at b=$b")
    }
  }

  test("exclusive-frame bound and null order keys serve identically") {
    val dir = tmpDir("ordstats_null")
    val rows = Seq[(java.lang.Long, Long)]((null, 5L)) ++
      (1L to 60L).map(k => (java.lang.Long.valueOf(k), k % 7 + 1))
    rows.toDF("k", "w").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    def cut(b: Long) =
      TotalOrder.globalCumSum(df, "k", "w", "cum",
          inclusive = false, upperBound = Some(b))
        .filter(col("cum") <= b).orderBy(asc_nulls_first("k"))
        .select("k", "cum")
    val before = cut(40L).collect().map(_.toSeq).toSeq
    TotalOrder.ensureOrderStats(df, "k", "w")
    val after = cut(40L)
    assert(!hasAggregate(after))
    assert(after.collect().map(_.toSeq).toSeq === before)
    // the null key buckets to 0 and must survive the scan prune
    assert(before.exists(_.head == null))
  }

  test("stale stats are refused in-plan and rebuilt by the next ensure") {
    val dir = tmpDir("ordstats_stale")
    (1L to 100L).map(k => (k, 2L)).toDF("k", "w")
      .write.mode("overwrite").parquet(dir)
    val df0 = spark.read.parquet(dir)
    TotalOrder.ensureOrderStats(df0, "k", "w")
    assert(!hasAggregate(served(df0, 50L)))
    // rewrite the corpus under the same path: same plan hash, new bytes
    (1L to 100L).map(k => (k, 5L)).toDF("k", "w")
      .write.mode("overwrite").parquet(dir)
    spark.catalog.refreshByPath(dir)
    val df1 = spark.read.parquet(dir)
    val q = served(df1, 50L)
    assert(hasAggregate(q),
      "stale stats must be refused — totals would be silently wrong")
    assert(q.collect().map(_.toSeq).toSeq === truth(df1, 50L))
    // ensure rebuilds against the new fingerprint; serving resumes
    TotalOrder.ensureOrderStats(df1, "k", "w")
    val q2 = served(df1, 50L)
    assert(!hasAggregate(q2))
    assert(q2.collect().map(_.toSeq).toSeq === truth(df1, 50L))
    // emptied under the same path: the memoized draw still serves as
    // boundaries, and the rebuilt totals are all zero
    Seq.empty[(Long, Long)].toDF("k", "w").write.mode("overwrite").parquet(dir)
    spark.catalog.refreshByPath(dir)
    val df2 = spark.read.parquet(dir)
    TotalOrder.ensureOrderStats(df2, "k", "w")
    val q3 = served(df2, 50L)
    assert(!hasAggregate(q3))
    assert(q3.count() === 0L)
  }

  test("non-integral weights never persist; empty input never persists") {
    val dir = tmpDir("ordstats_dbl")
    (1L to 50L).map(k => (k, k * 0.5)).toDF("k", "w")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    TotalOrder.ensureOrderStats(df, "k", "w")
    assert(hasAggregate(
      TotalOrder.globalCumSum(df, "k", "w", "cum",
        inclusive = true, upperBound = Some(10L))))
    val edir = tmpDir("ordstats_empty")
    Seq.empty[(Long, Long)].toDF("k", "w")
      .write.mode("overwrite").parquet(edir)
    val edf = spark.read.parquet(edir)
    TotalOrder.ensureOrderStats(edf, "k", "w") // must not throw
    assert(TotalOrder.globalCumSum(edf, "k", "w", "cum",
      inclusive = true, upperBound = Some(10L)).count() === 0L)
  }

  private def statsTables(): Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_ordstats_") ||
        n.startsWith("graft_boundaries_")).toSet

  /** A small `documents` table in the gate layout: 300 docs of 5–54
    * words, ~9k whitespace tokens, so both budget cuts land mid-corpus. */
  private def documentsDir(): String = {
    val dir = tmpDir("ordstats_gates")
    val words = Vector("the", "data", "and", "record", "tion", "model",
      "token", "shard", "budget", "order", "in", "of", "retrieval")
    val rnd = new scala.util.Random(11L)
    (1L to 300L).map { id =>
      val text = Seq.fill(5 + rnd.nextInt(50))(
        words(rnd.nextInt(words.size))).mkString(" ")
      (id, text, Seq("en", "de", "fr")(rnd.nextInt(3)), "web",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(graft.core.Tables.path(dir, "documents"))
    dir
  }

  test("TotalOrder gates build without catalog writes; a rebuild starts no job") {
    val dir = documentsDir()
    def gate(name: String) = graft.SparkEntry.allQueries.find(_.name == name).get
    graft.GraftSession.resetGateState(spark)
    assert(statsTables().isEmpty)
    for (name <- Seq("smp_token_budget", "smp_token_budget_subword",
        "smp_token_shards", "txt_ppl_buckets")) {
      assert(gate(name).run(spark, dir).collect().nonEmpty, name)
      assert(statsTables().isEmpty, s"$name landed a catalog table")
    }
    graft.GraftSession.resetGateState(spark)
    val budget = gate("smp_token_budget")
    val (cut, cold) = jobsIn(budget.run(spark, dir))
    info(s"smp_token_budget cold build: $cold jobs")
    assert(cold <= 2, s"cold build started $cold jobs")
    val (again, warm) = jobsIn(budget.run(spark, dir))
    assert(warm === 0, s"a second build in the session started $warm jobs")
    assert(!hasAggregate(again), "the rebuilt cut must still be served")
    assert(again.collect().toSeq === cut.collect().toSeq)
    assert(statsTables().isEmpty)
  }
}
