package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Degenerate-input behavior of the r13 fused dedup paths: the
  * MinhashBands kernel emits NO band rows for a doc with no tokens (the
  * same absent-group semantics the old explode+aggregate shape had), and
  * every pipeline built on the per-row array form must survive empty
  * frames, empty texts, and all-short shingle corpora without planning
  * errors or spurious pairs. */
class DedupEdgeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  private def docs(rows: (Long, String)*) =
    mkDf(schema, rows.map { case (i, t) => Row(i, t) })

  test("portable near-dups on an empty corpus: empty result, no failure") {
    val out = Dedup.minhashNearDupsPortable(docs(), "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.8)
    assert(out.collect().isEmpty)
  }

  test("empty/whitespace texts never pair, exact dups always do") {
    val out = Dedup.minhashNearDupsPortable(
      docs(1L -> "", 2L -> "   ", 3L -> "alpha beta gamma delta",
        4L -> "alpha beta gamma delta"),
      "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // split("", \s+) yields [""] — docs 1 and 2 share the single empty
    // token, so they form a legitimate exact pair under set semantics
    // (same behavior as the old exploded shape and the SQL oracle);
    // the real content pair must also surface at jaccard 1.0
    assert(out.toSet === Set((1L, 2L, 1.0), (3L, 4L, 1.0)))
  }

  test("shingle mode drops all-short docs entirely (no bands, no pairs)") {
    val out = Dedup.minhashNearDupsPortable(
      docs(1L -> "one", 2L -> "one", 3L -> "two"),
      "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.5,
      shingleN = 2)
    assert(out.collect().isEmpty,
      "docs shorter than the shingle width must produce no candidates")
  }

  test("incremental near-dups with an empty batch or empty corpus") {
    val corpus = docs(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta")
    assert(Oracles.incrementalNearDups(docs(), corpus, "doc_id", "text",
      64, 16, 0.8).collect().isEmpty)
    assert(Oracles.incrementalNearDups(corpus, docs(), "doc_id", "text",
      64, 16, 0.8).collect().isEmpty)
  }

  test("containment prefix over an empty array frame") {
    val empty = docs().select(col("doc_id"),
      sort_array(array_distinct(split(trim(col("text")), "\\s+"))).as("toks"))
    assert(Dedup.containmentPairsPrefixArr(empty, 0.8).collect().isEmpty)
  }

  test("containment prefix: full containment still surfaces from the array form") {
    val arr = docs(
        1L -> "alpha beta",
        2L -> "alpha beta gamma delta epsilon zeta eta theta")
      .select(col("doc_id"),
        sort_array(array_distinct(split(trim(col("text")), "\\s+"))).as("toks"))
    val out = Dedup.containmentPairsPrefixArr(arr, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 1 fully contained in doc 2 (containment 1.0 from the small
    // side); the reverse direction is 2/8 = 0.25 and must NOT appear
    assert(out.toSet === Set((1L, 2L, 1.0)))
  }
}
