package graft.plans

/** Dev tool: dump `.explain("formatted")` for a list of registered gate
  * queries into files (`sbt "runMain graft.plans.ExplainAll <outDir>
  * <sfDir> <name>[,<name>...]"`), under the bench's own session
  * ([[graft.GraftSession]]), so a committed plan excerpt shows the join
  * strategies the bench actually executes. One JVM for the whole list;
  * output files are `<outDir>/<name>.txt`; pass one name to inspect a
  * single gate. */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val gates = args.lift(2)
      .map(names => graft.SparkEntry.gates(names.split(",").toSeq))
      .getOrElse(graft.SparkEntry.allQueries)
    val spark = graft.GraftSession("graft-explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    gates.foreach { q =>
      val n = q.name
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
    }
    spark.stop()
  }
}
