package graft.plans

import org.apache.spark.sql.SparkSession

/** Dev tool: dump `.explain("formatted")` for a list of registered gate
  * queries into files (`sbt "runMain graft.plans.ExplainAll <outDir>
  * <sfDir> <name>[,<name>...]"`), under the SAME session confs the bench
  * runs with (shuffle partitions = cores, AQE on, 64 MB size-gated
  * broadcast thresholds) — [[Explain]]'s local[4]/10 MB defaults can plan
  * a different join strategy than the bench session actually executes,
  * which is exactly what a committed plan excerpt must not do. One JVM
  * for the whole list; output files are `<outDir>/<name>.txt`. */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.allQueries.map(_.name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-explain-all")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    names.foreach { n =>
      byName.get(n) match {
        case Some(q) =>
          // plan-only: build the DataFrame and print its formatted plan
          // without executing (memo-building operators may still run
          // their bounded driver-side prep)
          val df = q.run(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$n.txt"),
            txt.getBytes("UTF-8"))
          println(s"[explain] wrote $outDir/$n.txt")
        case None => System.err.println(s"[explain] unknown query '$n'")
      }
    }
    spark.stop()
  }
}
