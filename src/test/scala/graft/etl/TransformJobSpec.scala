package graft.etl

import java.io.File
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The transform rebuild rule: an output is rewritten only when its landed
  * inputs, its own files or its builder changed since its last write. */
class TransformJobSpec extends SparkSpec {

  private val declared = Seq("dim_date", "dim_location", "dim_design", "dim_currency",
    "dim_counterparty", "dim_staff", "dim_transaction", "dim_payment_type",
    "fact_sales_order", "fact_purchase_order", "fact_payment")

  /** Data file names per output dataset. Spark names each part file with a
    * per-write UUID, so a rewrite always changes this set. */
  private def parts(root: String): Map[String, Set[String]] = {
    def walk(f: File): Seq[String] =
      Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { c =>
        if (c.getName.startsWith("_") || c.getName.startsWith(".")) Seq.empty
        else if (c.isDirectory) walk(c) else Seq(c.getName)
      }
    declared.map(n => n -> walk(new File(s"$root/$n.parquet")).toSet).toMap
  }

  private def rewritten(before: Map[String, Set[String]],
      after: Map[String, Set[String]]): Set[String] =
    declared.filter(n => before(n) != after(n)).toSet

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def landedFixtures(): ParquetStore = {
    val landed = new ParquetStore(spark, tmpDir("tj-landed"))
    Fixtures.all(spark).foreach { case (n, df) => landed.write(n, df) }
    landed
  }

  test("unchanged inputs rewrite nothing and start no job; a re-landed input " +
      "rewrites exactly its dependants; skips leave from-scratch content") {
    val landed = landedFixtures()
    val root = tmpDir("tj-processed")
    val processed = new ParquetStore(spark, root)
    val job = new TransformJob(landed, processed)
    assert(job.run(spark) === declared)
    val first = parts(root)
    assert(declared.forall(first(_).nonEmpty))

    val (names, jobs) = jobsIn(job.run(spark))
    assert(names === declared)
    assert(jobs === 0)
    assert(parts(root) === first)

    landed.write("address", Fixtures.address(spark))
    assert(job.run(spark) === declared)
    val second = parts(root)
    assert(rewritten(first, second) === Set("dim_location", "dim_counterparty"))

    val fresh = new ParquetStore(spark, tmpDir("tj-fresh"))
    new TransformJob(landed, fresh).run(spark)
    declared.foreach { n =>
      assert(rows(processed.read(n)) === rows(fresh.read(n)), n)
    }
  }

  test("a deleted or appended-to output is rebuilt, and only it") {
    val landed = landedFixtures()
    val root = tmpDir("tj-tamper")
    val processed = new ParquetStore(spark, root)
    val job = new TransformJob(landed, processed)
    job.run(spark)
    val want = rows(processed.read("dim_design"))
    val first = parts(root)

    new File(s"$root/dim_currency.parquet").listFiles().foreach(_.delete())
    new File(s"$root/dim_currency.parquet").delete()
    processed.append("dim_design", processed.read("dim_design"))
    assert(processed.read("dim_design").count() === 2 * want.size)

    assert(job.run(spark) === declared)
    assert(rewritten(first, parts(root)) === Set("dim_currency", "dim_design"))
    assert(rows(processed.read("dim_design")) === want)
    assert(processed.read("dim_currency").count() === Fixtures.currency(spark).count())
  }

  test("a failed write leaves no stamp, so the next run rebuilds the output") {
    val landed = landedFixtures()
    val inner = new ParquetStore(spark, tmpDir("tj-fail"))
    new TransformJob(landed, inner).run(spark)
    assert(inner.stamp("dim_currency").isDefined)

    @volatile var fail = true
    val flaky = new TableStore {
      def exists(name: String): Boolean = inner.exists(name)
      def list(): Seq[String] = inner.list()
      def read(name: String): DataFrame = inner.read(name)
      def read(name: String, schema: StructType): DataFrame = inner.read(name, schema)
      def write(name: String, df: DataFrame): Unit =
        if (fail && name == "dim_currency") throw new RuntimeException("boom")
        else inner.write(name, df)
      def append(name: String, df: DataFrame): Unit = inner.append(name, df)
      override def version(name: String): Option[String] = inner.version(name)
      override def stamp(name: String): Option[String] = inner.stamp(name)
      override def putStamp(name: String, stamp: Option[String]): Unit =
        inner.putStamp(name, stamp)
    }
    landed.write("currency", Fixtures.currency(spark))
    intercept[RuntimeException](new TransformJob(landed, flaky).run(spark))
    assert(inner.stamp("dim_currency").isEmpty)

    fail = false
    val before = inner.version("dim_currency")
    val (_, jobs) = jobsIn(new TransformJob(landed, flaky).run(spark))
    assert(jobs > 0)
    assert(inner.version("dim_currency") !== before)
    assert(inner.stamp("dim_currency").isDefined)
  }
}
