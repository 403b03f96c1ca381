package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The grouped [[TextOps.winnowOverlap]] against its self-join form
  * (`Oracles.winnowOverlapJoin`): the same row multiset and the same
  * schema, at the gate's parameters and at the df-cut, repeat and
  * `minShared` boundaries. With `k = 1, w = 1` every token is its own
  * selected fingerprint, so a crafted corpus states each fingerprint's
  * documents directly. Ids are non-null `bigint`s: that is the operator's
  * contract, and its output is `(id1, id2, n_shared)`, all `bigint`. */
class WinnowOverlapSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** The sf0.001 `documents` table the `txt_winnow_overlap` gate reads. */
  private lazy val sf0001Docs =
    graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")

  private def grouped(df: DataFrame, k: Int, w: Int, minShared: Long,
      maxDf: Long): DataFrame =
    TextOps.winnowOverlap(df, "doc_id", "text", k, w, minShared, maxDf)

  /** The self-join's schema and rows; its cached frame is dropped after. */
  private def joined(df: DataFrame, k: Int, w: Int, minShared: Long,
      maxDf: Long): (StructType, Map[Seq[Any], Int]) = {
    val j = Oracles.winnowOverlapJoin(df, "doc_id", "text", k, w, minShared, maxDf)
    try (j.schema, multiset(j)) finally spark.catalog.clearCache()
  }

  /** Rows as a multiset (row → multiplicity), order-free. */
  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** Asserts the grouped operator and the self-join agree on `df`; returns
    * the grouped rows as `(id1, id2) -> n_shared`. */
  private def agree(df: DataFrame, k: Int, w: Int, minShared: Long,
      maxDf: Long): Map[(Long, Long), Long] = {
    val got = grouped(df, k, w, minShared, maxDf)
    val (wantSchema, wantRows) = joined(df, k, w, minShared, maxDf)
    assert(got.schema === wantSchema)
    val rows = multiset(got)
    assert(rows === wantRows)
    rows.keys.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]) ->
      r(2).asInstanceOf[Long]).toMap
  }

  private def docs(texts: (Long, String)*): DataFrame =
    mkDf(schema, texts.map { case (id, t) => Row(id, t) })

  test("same rows and schema as the self-join on sf0.001 documents (gate params)") {
    val pairs = agree(sf0001Docs, k = 3, w = 4, minShared = 3L, maxDf = 50L)
    assert(pairs.nonEmpty)
    assert(pairs.forall { case ((a, b), n) => a < b && n >= 3L })
  }

  test("df-cut: a fingerprint in exactly maxDf docs is kept, in maxDf + 1 dropped") {
    // "keep" is in docs 1-3, "drop" in docs 4-7; every other token is unique
    val d = docs(1L -> "keep u1", 2L -> "keep u2", 3L -> "keep u3",
      4L -> "drop u4", 5L -> "drop u5", 6L -> "drop u6", 7L -> "drop u7")
    val pairs = agree(d, k = 1, w = 1, minShared = 1L, maxDf = 3L)
    assert(pairs === Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
    // one more doc with "keep" pushes it past the cut as well
    val past = agree(d.union(docs(8L -> "keep u8")), k = 1, w = 1,
      minShared = 1L, maxDf = 3L)
    assert(past.isEmpty)
  }

  test("a fingerprint repeated inside one doc counts that doc once") {
    // "a" occurs 3 times in doc 1 but in 2 distinct docs: df 2, not 4
    val d = docs(1L -> "a a b a", 2L -> "a b", 3L -> "c b")
    val pairs = agree(d, k = 1, w = 1, minShared = 1L, maxDf = 2L)
    assert(pairs === Map((1L, 2L) -> 1L)) // "b" is in 3 docs: cut
    val wide = agree(d, k = 1, w = 1, minShared = 1L, maxDf = 3L)
    assert(wide === Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("minShared boundary: a pair sharing exactly minShared is kept") {
    val d = docs(1L -> "a b c x", 2L -> "a b c y", 3L -> "a b z")
    assert(agree(d, 1, 1, minShared = 2L, maxDf = 10L) ===
      Map((1L, 2L) -> 3L, (1L, 3L) -> 2L, (2L, 3L) -> 2L))
    assert(agree(d, 1, 1, minShared = 3L, maxDf = 10L) === Map((1L, 2L) -> 3L))
    assert(agree(d, 1, 1, minShared = 4L, maxDf = 10L).isEmpty)
  }

  test("partial buffers over >= 3 partitions merge to the self-join's rows") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try {
      val d = sf0001Docs
      val parts = TextOps.winnow(d, "doc_id", "text", 3, 4)
        .select(spark_partition_id()).distinct().count()
      assert(parts >= 3L, s"fingerprints span only $parts partitions")
      // a small maxDf puts the cut inside merges: most hot fingerprints'
      // docs are spread over several partial buffers
      for (maxDf <- Seq(2L, 3L, 8L))
        agree(d, k = 3, w = 4, minShared = 1L, maxDf = maxDf)
    } finally spark.conf.unset(key)
  }

  test("random corpora over 4 partitions: grouped == self-join (property)") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try {
      val docGen = for {
        n <- Gen.choose(0, 12)
        toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
      } yield toks.mkString(" ")
      // no shrinking: each shrink step would run two Spark queries
      val prop = Prop.forAllNoShrink(Gen.listOfN(12, docGen), Gen.choose(1, 5),
          Gen.choose(1L, 3L)) { (texts, maxDf, minShared) =>
        val d = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong * 7L) -> t }: _*)
          .repartition(4)
        multiset(grouped(d, 1, 2, minShared, maxDf.toLong)) ===
          joined(d, 1, 2, minShared, maxDf.toLong)._2
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
      assert(res.passed, res.status.toString)
    } finally spark.conf.unset(key)
  }

  test("ids must be bigint: an int id column fails with a named error") {
    val intIds = mkDf(StructType(Seq(
      StructField("doc_id", IntegerType, nullable = false),
      StructField("text", StringType, nullable = true))), Seq(Row(1, "a b")))
    val e = intercept[IllegalArgumentException] {
      grouped(intIds, 1, 1, 1L, 3L)
    }
    assert(e.getMessage.contains("must be bigint"))
    assert(grouped(docs(1L -> "a"), 1, 1, 1L, 3L).schema.map(f => f.name -> f.dataType) ===
      Seq("id1" -> LongType, "id2" -> LongType, "n_shared" -> LongType))
  }

  test("a null id fails the query instead of counting as a document") {
    val nullable = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("text", StringType, nullable = true)))
    val d = mkDf(nullable, Seq(Row(1L, "a b"), Row(null, "a b"), Row(2L, "a b")))
    val e = intercept[Exception](grouped(d, 1, 1, 1L, 3L).collect())
    assert(e.getMessage.contains("winnowOverlap: null id in doc_id"))
  }

  test("BoundedIdSet: reduce and merge never hold more than maxIds + 1 ids") {
    val maxIds = 3
    val agg = Aggregators.BoundedIdSet(maxIds)
    def valid(buf: Array[Long]): Boolean =
      buf.length <= maxIds + 1 && buf.toSeq == buf.distinct.sorted.toSeq
    val prop = Prop.forAll(
        Gen.listOf(Gen.listOf(Gen.choose(0L, 9L))),
        Gen.listOf(Gen.choose(0, 1000))) { (parts, order) =>
      val bufs = parts.map(_.foldLeft(agg.zero) { (b, id) =>
        val next = agg.reduce(b, id)
        assert(valid(next), s"reduce: ${next.toSeq}")
        next
      })
      // merge the partial buffers in a random tree order
      var pending = bufs.toVector
      var picks = order
      while (pending.size > 1) {
        val i = picks.headOption.getOrElse(0) % (pending.size - 1)
        picks = picks.drop(1)
        val merged = agg.merge(pending(i), pending(i + 1))
        assert(valid(merged), s"merge: ${merged.toSeq}")
        pending = pending.patch(i, Seq(merged), 2)
      }
      val all = parts.flatten.distinct.sorted
      val out = agg.finish(pending.headOption.getOrElse(agg.zero)).toSeq
      out == (if (all.size > maxIds) Nil else all)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
    // the overflow state absorbs later ids and merges unchanged
    val full = (1L to 4L).foldLeft(agg.zero)(agg.reduce)
    assert(full.toSeq === Seq(1L, 2L, 3L, 4L))
    assert(agg.reduce(full, 0L) eq full)
    assert(agg.merge(Array(0L, 9L), full) eq full)
    assert(agg.finish(full).isEmpty)
  }
}
