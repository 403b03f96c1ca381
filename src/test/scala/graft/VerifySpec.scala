package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Verify.dump]]: a gate that throws is named in
  * `verify_failures.json` with its exception, and every other gate is
  * still dumped. */
class VerifySpec extends SparkSpec {

  private def manifest(dir: String) =
    new ObjectMapper().readTree(new java.io.File(s"$dir/verify_failures.json"))

  test("of two gates one throws: the manifest names it, the other is dumped") {
    val out = tmpDir("verify-dump")
    val gates: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "gate_throws" -> ((_, _) =>
        throw new IllegalStateException("bad \"quote\"\n\tand a tab")),
      "gate_ok" -> ((s, _) => s.range(3).toDF("id")))
    val failures = Verify.dump(spark, "/unused", out, gates)
    assert(failures.keySet === Set("gate_throws"))
    val m = manifest(out)
    assert(m.size === 1)
    assert(m.get("gate_throws").get("class").asText ===
      "java.lang.IllegalStateException")
    assert(m.get("gate_throws").get("message").asText ===
      "bad \"quote\"\n\tand a tab")
    assert(!new java.io.File(s"$out/gate_throws").exists())
    assert(spark.read.parquet(s"$out/gate_ok").count() === 3L)
  }

  test("no failure writes an empty manifest") {
    val out = tmpDir("verify-dump")
    val gates: Seq[(String, (SparkSession, String) => DataFrame)] =
      Seq("gate_ok" -> ((s, _) => s.range(1).toDF("id")))
    assert(Verify.dump(spark, "/unused", out, gates).isEmpty)
    assert(manifest(out).size === 0)
    assert(manifest(out).isObject)
  }
}
