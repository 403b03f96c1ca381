package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for a DuckDB oracle compare (`tools/check.py`), and
  * verify_failures.json naming each gate that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev iteration only;
    // the driver always runs the full set); an unknown name fails the run
    val gates = args.lift(2) match {
      case Some(names) =>
        SparkEntry.gates(names.split(",").toSeq).map(q => q.name -> q.run)
      case None => SparkEntry.queries.toSeq
    }
    val spark = GraftSession("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, gates)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each gate's rows to `outDir/<name>` as one parquet file. A gate
    * that throws is logged and skipped, every other gate is still dumped,
    * and `outDir/verify_failures.json` maps each failed gate to its
    * exception's class and message (`{}` when none failed), so a failure
    * is named rather than only a missing dir. Returns the failures. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      gates: Seq[(String, (SparkSession, String) => DataFrame)]): Map[String, Throwable] = {
    new java.io.File(outDir).mkdirs()
    val failures = gates.flatMap { case (name, fn) =>
      val failed =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e)
        }
      // operators may cache intra-query-reused frames (minhash bands);
      // clearing between queries bounds storage over the whole run
      spark.catalog.clearCache()
      failed
    }.toMap
    val json = failures.toSeq.sortBy(_._1).map { case (name, e) =>
      s"${q(name)}: {${q("class")}: ${q(e.getClass.getName)}, " +
        s"${q("message")}: ${q(String.valueOf(e.getMessage))}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), json)
    failures
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in an oracle SQL string or an exception message would
  // otherwise make a reader's json.load fail.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
