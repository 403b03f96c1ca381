package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted band index: parity with the index-free incremental dedup and
  * the bucketed-scan (no corpus reshuffle) layout property. */
class BandIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = graft.core.Tables(spark, dir, "documents")

  test("index matches == index-free incremental matches; corpus scan bucketed") {
    val corpus = docs.filter(col("doc_id") < 100)
    val batch = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)

    BandIndex.build(corpus, "doc_id", "text",
      numHashes = 64, bands = 16, buckets = 8, name = "bidx")

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val viaIndex = BandIndex.matches(batch, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.8, name = "bidx")
    val direct = Oracles.incrementalNearDups(batch, corpus,
      "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.8)
    assert(rows(viaIndex) === rows(direct),
      "persisted-index matches must equal the index-free pipeline")
    assert(rows(direct).nonEmpty)

    // layout property: the candidate join reads the corpus bands as a
    // BUCKETED scan (no exchange rebuilding the corpus partitioning)
    viaIndex.collect()
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      "corpus band scan must be bucketed:\n" + plan.take(3000))

    // survivors partition the batch exactly as the index-free form does
    var sIdx = Set.empty[Long]
    BandIndex.dedupAgainstEphemeral(batch, "doc_id", "text",
        64, 16, 0.8, "bidx") { kept =>
      sIdx = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val sDirect = Oracles.dedupAgainstCorpus(batch, corpus,
        "doc_id", "text", 64, 16, 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sIdx === sDirect)
  }

  private def tableFiles(base: String): Set[String] = {
    // the index name is a view over the current physical version — list
    // the files of the table actually behind it
    val loc = spark.sql(
        s"DESCRIBE FORMATTED ${BandIndex.physicalTable(spark, base)}")
      .filter(col("col_name") === "Location").head.getString(1)
    val d = new java.io.File(new java.net.URI(loc))
    Option(d.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
  }

  test("append == build over the union; corpus files untouched; compact folds files") {
    val c1 = docs.filter(col("doc_id") < 80)
    val c2 = docs.filter(col("doc_id") >= 80 && col("doc_id") < 130)
    val probe = docs.filter(col("doc_id") >= 130 && col("doc_id") < 180)

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // reference: one-shot build over the full corpus
    BandIndex.build(c1.unionByName(c2), "doc_id", "text",
      numHashes = 64, bands = 16, buckets = 8, name = "uidx")
    val expected = rows(BandIndex.matches(probe, "doc_id", "text",
      64, 16, 0.8, "uidx"))
    assert(expected.nonEmpty)

    // incremental: build(c1) then append(c2)
    BandIndex.build(c1, "doc_id", "text",
      numHashes = 64, bands = 16, buckets = 8, name = "aidx")
    val before = tableFiles("aidx_bands")
    BandIndex.append(c2, "doc_id", "text",
      numHashes = 64, bands = 16, buckets = 8, name = "aidx")
    val after = tableFiles("aidx_bands")

    // append only ADDS files — the corpus side is never rewritten or
    // reshuffled, so nightly cost stays O(|batch|) at any index size
    assert(before.subsetOf(after) && after.size > before.size,
      s"append must add files without touching existing ones: " +
        s"before=$before after=$after")
    assert(rows(BandIndex.matches(probe, "doc_id", "text",
      64, 16, 0.8, "aidx")) === expected,
      "build(c1) + append(c2) must match build(c1 union c2)")

    // compact folds the per-append file-sets to one file per bucket and
    // preserves both content and the bucketed layout
    val nBands = spark.table("aidx_bands").count()
    val nToks = spark.table("aidx_toks").count()
    BandIndex.compact(spark, buckets = 8, name = "aidx")
    assert(tableFiles("aidx_bands").size <= 8 &&
      tableFiles("aidx_bands").size < after.size,
      "compact must fold append file-sets to at most one file per bucket")
    assert(spark.table("aidx_bands").count() === nBands)
    assert(spark.table("aidx_toks").count() === nToks)
    val viaCompacted = BandIndex.matches(probe, "doc_id", "text",
      64, 16, 0.8, "aidx")
    assert(rows(viaCompacted) === expected)
    viaCompacted.collect()
    assert(viaCompacted.queryExecution.executedPlan.toString
      .contains("Bucketed: true"),
      "compacted index must still serve bucketed scans")

    // the swap retargeted the view to a NEW physical version and dropped
    // the superseded one — readers never saw a missing table
    assert(BandIndex.physicalTable(spark, "aidx_bands") === "aidx_bands_v2",
      "compact must land in the next version and retarget the view")
    assert(!spark.catalog.tableExists("aidx_bands_v1"),
      "the superseded version must be dropped after the swap")

    // crash-orphan semantics: a half-written v(N+1) left by a failed
    // compact is INVISIBLE — the view defines the current version, so
    // reads and appends ignore the orphan rather than adopting it
    spark.table("aidx_bands").limit(1).write
      .bucketBy(8, "band_idx", "band_hash").sortBy("band_idx", "band_hash")
      .saveAsTable("aidx_bands_v3")
    assert(BandIndex.physicalTable(spark, "aidx_bands") === "aidx_bands_v2",
      "an orphan next-version table must not capture reads/appends")
    assert(rows(BandIndex.matches(probe, "doc_id", "text",
      64, 16, 0.8, "aidx")) === expected)
    // ...and the next successful compact overwrites + supersedes it
    BandIndex.compact(spark, buckets = 8, name = "aidx")
    assert(BandIndex.physicalTable(spark, "aidx_bands") === "aidx_bands_v3")
    assert(rows(BandIndex.matches(probe, "doc_id", "text",
      64, 16, 0.8, "aidx")) === expected)
  }
}
