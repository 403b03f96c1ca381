package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlInternals, Row}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec}

/** [[SmallSortStrategy]]: a global sort over an input Spark reads as one
  * partition plans no range exchange (and starts two jobs fewer); an input
  * Spark reads as several partitions, or one behind a row-multiplying
  * operator, keeps the range sort; and every gate that ends in a global
  * sort returns the same rows in the same key order with the rule on and
  * off. */
class SmallSortSpec extends SparkSpec {

  /** Runs `f` with the strategy out of the session's planner. Table builds
    * re-register it, so `f` must build nothing, only execute. */
  private def withoutSmallSort[T](f: => T): T = {
    val prior = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = prior.filterNot(_ == SmallSortStrategy)
    try f finally spark.experimental.extraStrategies = prior
  }

  /** Rows, job count and final plan of one execution (the adaptive
    * plan's rendering without its initial plan). */
  private def execute(df: DataFrame): (Seq[Row], Int, String) = {
    val (rows, jobs) = jobsIn(df.collect())
    (rows.toSeq, jobs, df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
  }

  private val coalescedSort = "Sort \\[[^\\n]*\\], true, \\d+\\n\\s*\\+- Coalesce 1\\n".r

  /** `q` run with and without the rule: same rows, the rule's plan sorts
    * over `Coalesce 1` with no range exchange and two jobs fewer. */
  private def assertLocalSort(q: => DataFrame): Unit = {
    val (on, onJobs, onPlan) = execute(q)
    val (off, offJobs, offPlan) = withoutSmallSort(execute(q))
    assert(coalescedSort.findFirstIn(onPlan).isDefined && !onPlan.contains("rangepartitioning"),
      onPlan.take(3000))
    assert(offPlan.contains("rangepartitioning"), offPlan.take(3000))
    assert(on == off)
    assert(onJobs == offJobs - 2, s"$onJobs jobs with the rule, $offJobs without")
  }

  private def assertRangeSort(q: DataFrame): Unit = {
    val (_, _, plan) = execute(q)
    assert(plan.contains("rangepartitioning") && coalescedSort.findFirstIn(plan).isEmpty,
      plan.take(3000))
  }

  /** A 500-row (k, v) parquet dataset written as `files` files. */
  private def written(files: Int): String = {
    val dir = tmpDir("smallsort")
    spark.range(0, 500).select((lit(499) - col("id")).as("k"), (col("id") % 7).as("v"))
      .repartition(files).write.mode("overwrite").parquet(dir)
    dir
  }

  test("static: a sort over a one-split file scan plans a local sort") {
    val dir = written(1)
    assertLocalSort(spark.read.parquet(dir).filter(col("v") =!= 3)
      .select(col("k"), (col("v") * 2).as("v2")).orderBy("k"))
  }

  test("static: several splits, or a row-multiplying operator, keep the range sort") {
    assertRangeSort(spark.read.parquet(written(3)).orderBy("k"))
    assertRangeSort(spark.read.parquet(written(1))
      .select(col("k"), explode(array(col("v"), col("v") + 1)).as("e")).orderBy("k", "e"))
  }

  test("runtime: a sort over a small materialized shuffle plans a local sort") {
    assertLocalSort(spark.range(0, 2000, 1, 4)
      .groupBy((col("id") % 50).as("g")).agg(sum("id").as("s")).orderBy(desc("s")))
  }

  test("runtime: shuffle bytes past AQE's coalescing target, or a join, keep the range sort") {
    // ~300k distinct keys: several MB of shuffle output, which AQE's
    // coalescing would read as several partitions
    assertRangeSort(spark.range(0, 300000, 1, 4)
      .groupBy(col("id")).agg(max(hash(col("id"))).as("h")).orderBy("h", "id"))
    // two small shuffle stages under a sort-merge join (broadcasts off, so
    // both join inputs are shuffle stages)
    val a = spark.range(0, 2000, 1, 4).groupBy((col("id") % 50).as("g")).count()
    val b = spark.range(0, 2000, 1, 4).groupBy((col("id") % 40).as("g")).agg(sum("id").as("s"))
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    thresholds.foreach(spark.conf.set(_, "-1"))
    try assertRangeSort(a.join(b, "g").orderBy("g"))
    finally thresholds.foreach(spark.conf.unset)
  }

  /** The gate's analyzed plan with its sort keys appended as columns, when
    * it ends in a global sort (under at most one projection). */
  private def withSortKeys(df: DataFrame): Option[LogicalPlan] = {
    def keys(s: Sort) = s.order.zipWithIndex.map { case (o, i) => Alias(o.child, s"_sort_key$i")() }
    GraftSqlInternals.analyzedPlan(df) match {
      case s: Sort if s.global => Some(Project(s.output ++ keys(s), s))
      case Project(list, s: Sort) if s.global => Some(Project(list ++ keys(s), s))
      case _ => None
    }
  }

  /** Binary and nested values compared by content. */
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.sortBy(_.toString)
    case x => x
  }

  test("every gate that ends in a global sort: same rows, same sort-key sequence, rule on and off") {
    var checked, fired = 0
    for (q <- SparkEntry.allQueries) {
      val df = q.run(spark, "/root/testdata/sf0.001")
      val width = df.schema.size
      withSortKeys(df).foreach { plan =>
        def run() = execute(GraftSqlInternals.ofRows(spark, plan))
        val (on, _, onPlan) = run()
        val (off, _, _) = withoutSmallSort(run())
        def rows(rs: Seq[Row]) = rs.map(r => canon(r.toSeq.take(width)).toString).sorted
        def keys(rs: Seq[Row]) = rs.map(r => canon(r.toSeq.drop(width)))
        assert(rows(on) == rows(off), s"${q.name}: rows differ with the rule")
        assert(keys(on) == keys(off), s"${q.name}: sort-key sequence differs with the rule")
        checked += 1
        if (coalescedSort.findFirstIn(onPlan).isDefined) fired += 1
      }
    }
    info(s"$checked gates end in a global sort; the rule planned $fired of them as a local sort")
    assert(checked >= 100 && fired >= 60, s"checked $checked, fired $fired")
  }
}
