package graft.functions

import graft.SparkSpec
import graft.operators.{Oracles, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The fused [[WinnowFingerprints]] kernel against the composed
  * column-algebra pipeline (`Oracles.winnowComposed`) — same two-
  * implementation equality discipline as the portable MinHash twins and
  * ComponentsPropertySpec. The composed form is what the DuckDB oracle
  * CTEs replay, so fused == composed certifies the kernel against the
  * correctness gate without leaving the JVM. */
class WinnowFingerprintsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  private def both(rows: Seq[Row], k: Int, w: Int): (Set[Seq[Any]], Set[Seq[Any]]) = {
    val df = mkDf(schema, rows)
    (cells(TextOps.winnow(df, "doc_id", "text", k, w)),
      cells(Oracles.winnowComposed(df, "doc_id", "text", k, w)))
  }

  test("fused == composed on the sf0.001 documents table (gate params)") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val fused = cells(TextOps.winnow(docs, "doc_id", "text", 3, 4))
    val composed = cells(Oracles.winnowComposed(docs, "doc_id", "text", 3, 4))
    assert(fused.nonEmpty)
    assert(fused === composed)
  }

  test("fused == composed across (k, w) grids on crafted edge docs") {
    val rows = Seq(
      Row(1L, "a b c d e f g h"),
      Row(2L, "a a a a a a"), // repeated token: equal hashes, pos ties
      Row(3L, "x y z"), // exactly k tokens at k=3: one gram
      Row(4L, "x y"), // shorter than k: emits nothing
      Row(5L, ""), // empty text
      Row(6L, null), // null text: row dropped by both
      Row(7L, "  leading   and   trailing  "), // whitespace runs + trim
      Row(8L, "one two three two one two three two one"),
      Row(9L, (1 to 60).map(i => s"t${i % 7}").mkString(" ")))
    for (k <- Seq(1, 2, 3, 5); w <- Seq(1, 2, 4, 9)) {
      val (fused, composed) = both(rows, k, w)
      assert(fused === composed, s"mismatch at k=$k w=$w")
    }
  }

  test("fused == composed on random token arrays (property)") {
    val docGen: Gen[String] = for {
      n <- Gen.choose(0, 30)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "aa", "bb", "zz", "q"))
    } yield toks.mkString(" ")
    val corpusGen: Gen[List[String]] = Gen.listOfN(6, docGen)
    val prop = Prop.forAll(corpusGen) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
      val (fused, composed) = both(rows, 2, 3)
      fused == composed
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("selection invariants: per-doc positions distinct (emission IS the distinct)") {
    // groupBy+collect_list does not preserve emission order, so the
    // checkable invariant is per-doc (pos) uniqueness — duplicates would
    // mean record-on-change failed to subsume the composed form's distinct
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val dupes = TextOps.winnow(docs, "doc_id", "text", 3, 4)
      .groupBy("doc_id", "pos").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    assert(dupes === 0L)
  }

  test("null token elements hash like concat_ws (skipped with separator)") {
    // split() never emits nulls, but the SQL-exposed function accepts any
    // array<string>; nulls must vanish exactly as concat_ws drops them so
    // the fused hash stays replayable by the composed/oracle form
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql(
      """SELECT s.fp FROM (SELECT explode(graft_winnow_fingerprints(
        |  array('a', CAST(NULL AS string), 'b'), 3, 1)) AS s)""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    val expect = spark.sql(
      """SELECT CAST(conv(substring(md5(concat_ws(' ', 'a', CAST(NULL AS string), 'b')),
        |  1, 15), 16, 10) AS BIGINT) AS h""".stripMargin)
      .collect()(0).getLong(0)
    assert(got === Seq(expect))
  }

  test("k/w literals accept int and long; non-integral fails with a named error") {
    graft.functions.GraftFunctions.register(spark)
    val df = mkDf(schema, Seq(Row(1L, "a b c d e")))
    df.createOrReplaceTempView("winnow_lit_docs")
    val asLong = cells(spark.sql(
      """SELECT s.pos, s.fp FROM winnow_lit_docs
        |LATERAL VIEW explode(graft_winnow_fingerprints(
        |  split(text, ' '), CAST(2 AS BIGINT), CAST(3 AS BIGINT))) t AS s""".stripMargin))
    val asInt = cells(spark.sql(
      """SELECT s.pos, s.fp FROM winnow_lit_docs
        |LATERAL VIEW explode(graft_winnow_fingerprints(
        |  split(text, ' '), 2, 3)) t AS s""".stripMargin))
    assert(asLong === asInt)
    val e = intercept[Exception] {
      spark.sql(
        """SELECT graft_winnow_fingerprints(split(text, ' '), 2.5, 3)
          |FROM winnow_lit_docs""".stripMargin).collect()
    }
    assert(e.getMessage.contains("must be an int literal")
      || Option(e.getCause).exists(_.getMessage.contains("must be an int literal")))
  }

  test("kernel survives both eval and codegen paths") {
    // an aggregation above the expression forces an eval boundary;
    // the plain projection path runs through whole-stage codegen
    val df = mkDf(schema, Seq(Row(1L, "a b c d e f g"), Row(2L, "p q r s")))
    val viaSelect = cells(TextOps.winnow(df, "doc_id", "text", 2, 3))
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("winnow_docs")
    val viaSql = cells(spark.sql(
      """SELECT doc_id, s.pos AS pos, s.fp AS fp
        |FROM winnow_docs
        |LATERAL VIEW explode(graft_winnow_fingerprints(
        |  split(trim(text), '\\s+'), 2, 3)) t AS s""".stripMargin))
    assert(viaSelect === viaSql)
  }
}
