package graft.etl

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** `ParquetStore.read(name)` resolves the schema from the parquet footer on
  * the driver. It must read exactly what `spark.read.parquet` reads, and a
  * Spark-written table must cost no Spark job. */
class ParquetStoreSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def partitionFilters(df: DataFrame, cond: Column): Seq[String] =
    df.filter(cond).queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.partitionFilters.map(_.sql)
    }.flatten

  /** Reads `name` both ways; asserts equal schema, rows and partition
    * filters under `cond`; returns the store read's job count. */
  private def sameAsSpark(root: String, name: String, cond: Column): Int = {
    val (ours, jobs) = jobsIn(new ParquetStore(spark, root).read(name))
    val theirs = spark.read.parquet(s"$root/$name.parquet")
    assert(ours.schema === theirs.schema)
    assert(rows(ours) === rows(theirs))
    assert(partitionFilters(ours, cond) === partitionFilters(theirs, cond))
    jobs
  }

  private lazy val people = spark.range(0, 40).select(
    col("id"), (col("id") % 3).cast("int").as("band"),
    col("id").cast("string").as("label"),
    lit(java.sql.Timestamp.valueOf("2023-01-01 00:00:00")).as("at"))

  test("a flat table reads as spark.read.parquet does, with no Spark job") {
    val root = tmpDir("store-flat")
    new ParquetStore(spark, root).write("people", people.repartition(3))
    assert(sameAsSpark(root, "people", col("band") === 1) === 0)
    // the count is not vacuous: inference itself starts a job
    assert(jobsIn(spark.read.parquet(s"$root/people.parquet"))._2 > 0)
  }

  test("a partitioned layout keeps its partition column and directory pruning") {
    val root = tmpDir("store-part")
    val store = new ParquetStore(spark, root)
    store.writePartitioned("people", people, Seq("band"))
    assert(sameAsSpark(root, "people", col("band") === 1) === 0)
    val read = store.read("people")
    assert(read.columns.last === "band")
    assert(partitionFilters(read, col("band") === 1).nonEmpty)
  }

  test("an empty-frame write reads back its schema with no rows") {
    val root = tmpDir("store-empty")
    new ParquetStore(spark, root).write("people", people.limit(0))
    assert(sameAsSpark(root, "people", col("band") === 1) === 0)
    assert(new ParquetStore(spark, root).read("people").schema.fieldNames ===
      people.columns)
  }

  test("a dataset without Spark's footer key falls back to inference") {
    val root = tmpDir("store-foreign")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (STRING); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter
      .builder(new Path(s"$root/foreign.parquet/part-0.parquet"))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 5).foreach(i => writer.write(groups.newGroup().append("id", i.toLong)
      .append("name", s"n$i")))
    finally writer.close()
    assert(sameAsSpark(root, "foreign", col("id") === 1) > 0)
    assert(new ParquetStore(spark, root).read("foreign").count() === 5)
  }

  test("schema merging on: the store merges the appended schemas too") {
    val root = tmpDir("store-merge")
    val store = new ParquetStore(spark, root)
    store.write("t", spark.range(3).toDF("a"))
    store.append("t", spark.range(3).select(col("id").as("a"), col("id").as("b")))
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      assert(sameAsSpark(root, "t", col("a") === 1) > 0)
      assert(store.read("t").schema === StructType(Seq(
        StructField("a", LongType), StructField("b", LongType))))
    } finally spark.conf.unset(key)
  }
}
