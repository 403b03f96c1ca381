package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[MinhashBandsXX]] — the fused xxhash64-family band kernel. The
  * load-bearing test is BYTE PARITY with the definitional column form
  * it replaced (per-token `xxhash64(w, lit(i))` lane mins and
  * `xxhash64(sig_slice..., lit(b))` band hashes): the lsh/shingle gates
  * are rows-only (xxhash64 is not replayable in DuckDB), so this parity
  * pin — together with XxFamilyParitySpec's fold-rule pin — is what
  * certifies the kernel computes the SAME family the recall specs and
  * prior-round gates were graded on. */
class MinhashBandsXXSpec extends SparkSpec {

  private val (numHashes, bands) = (64, 16)

  /** The frozen reference over the same documents, built from plain
    * columns: one `min(xxhash64(w, lit(i)))` aggregate per lane, then
    * `xxhash64(lane slice :+ lit(b))` per band, in band order. */
  private def composedBands(docs: org.apache.spark.sql.DataFrame) = {
    val sets = graft.operators.Dedup.tokenSet(docs, "doc_id", "text")
    val lanes = (0 until numHashes).map(i =>
      min(xxhash64(col("w"), lit(i))).as(s"sig_$i"))
    val rows = numHashes / bands
    val bandHashes = (0 until bands).map { b =>
      xxhash64((0 until rows).map(r => col(s"sig_${b * rows + r}")) :+ lit(b): _*)
    }
    sets.groupBy("doc_id").agg(lanes.head, lanes.tail: _*)
      .select(col("doc_id"), array(bandHashes: _*).as("bhs"))
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("band hashes are byte-identical to the composed production plan") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 150)
      .select(col("doc_id"), col("text"))
    val kernel = docs.select(col("doc_id"),
      GraftFunctions.minhashBandsXX(
        sort_array(array_distinct(split(trim(col("text")), "\\s+"))),
        numHashes, bands).as("bhs"))
    val k = asMap(kernel)
    val c = asMap(composedBands(docs))
    assert(k.keySet === c.keySet)
    // every doc, every band — a single differing bit fails
    k.foreach { case (id, bhs) =>
      assert(bhs === c(id), s"band hashes diverge for doc $id")
    }
    assert(k.values.forall(_.length == bands))
  }

  test("signature is order- and duplicate-insensitive (set semantics)") {
    import spark.implicits._
    val f = GraftFunctions.minhashBandsXX(col("toks"), numHashes, bands)
    val a = Seq(Seq("x", "y", "z")).toDF("toks").select(f).collect()(0).getSeq[Long](0)
    val b = Seq(Seq("z", "x", "y", "x")).toDF("toks").select(f).collect()(0).getSeq[Long](0)
    assert(a === b)
  }

  test("null tokens are skipped; empty/all-null arrays emit no bands") {
    import spark.implicits._
    val f = GraftFunctions.minhashBandsXX(col("toks"), numHashes, bands)
    val withNull = Seq(Seq[String]("a", null, "b")).toDF("toks")
      .select(f).collect()(0).getSeq[Long](0)
    val without = Seq(Seq("a", "b")).toDF("toks")
      .select(f).collect()(0).getSeq[Long](0)
    assert(withNull === without)
    assert(Seq(Seq.empty[String]).toDF("toks")
      .select(f).collect()(0).getSeq[Long](0).isEmpty)
    assert(Seq(Seq[String](null)).toDF("toks")
      .select(f).collect()(0).getSeq[Long](0).isEmpty)
    // null ARRAY propagates null (nullSafeEval contract)
    assert(Seq((1, null: Seq[String])).toDF("i", "toks")
      .select(f).collect()(0).isNullAt(0))
  }

  test("rejects non-array input and non-literal parameters with named errors") {
    import spark.implicits._
    val df = Seq("word").toDF("s")
    val e = intercept[Exception] {
      df.select(GraftFunctions.minhashBandsXX(col("s"), 64, 16)).collect()
    }
    assert(e.getMessage.contains("graft_minhash_bands_xx"))
    val e2 = intercept[IllegalArgumentException] {
      df.selectExpr("graft_minhash_bands_xx(array('a'), length(s), 16)").collect()
    }
    assert(e2.getMessage.contains("numHashes"))
    intercept[IllegalArgumentException] {
      MinhashBandsXX(org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("a"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
        64, 7) // 7 does not divide 64
    }
  }
}
