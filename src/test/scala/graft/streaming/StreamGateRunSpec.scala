package graft.streaming

import graft.SparkSpec
import graft.core.{StreamGates, VersionedTable}
import org.apache.spark.sql.functions._

/** Each gate that keeps persisted state (the streaming replay gates and
  * `dedup_incremental`) is one self-contained run: it resets its state
  * through the operator's own cold path (a seed or an index build), then
  * drives its triggers or probes, so its rows never depend on what an
  * earlier run left behind. Every such gate must give the same rows when
  * run twice in one session, after its state is dropped, and after a
  * stray row lands in its state table; the stray row is chosen so that a
  * gate that read stale state would change its output. No gate persists
  * a delivery ledger (`*_dlv`). */
class StreamGateRunSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): Seq[Seq[Any]] =
    sortedCells(graft.SparkEntry.queries(name)(spark, dir))

  private def warehouse: java.io.File =
    new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  private def warehouseEntries: Seq[java.io.File] =
    Option(warehouse.listFiles()).toSeq.flatten

  /** Drops every catalog table or view whose name starts with `stem`
    * (views first) and deletes every warehouse entry with that prefix. */
  private def dropState(stem: String): Unit = {
    val (views, tables) = spark.catalog.listTables().collect()
      .filter(_.name.startsWith(stem)).partition(_.tableType == "VIEW")
    views.foreach(v => spark.sql(s"DROP VIEW IF EXISTS `${v.name}`"))
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    warehouseEntries.filter(_.getName.startsWith(stem))
      .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
    assert(!warehouseEntries.exists(_.getName.startsWith(stem)))
  }

  private def assertNoLedger(): Unit = {
    assert(!spark.catalog.listTables().collect().exists(_.name.endsWith("_dlv")),
      "no gate may register a delivery-ledger table")
    assert(!warehouseEntries.exists(_.getName.contains("_dlv")),
      "no gate may write a delivery-ledger directory")
  }

  /** The three runs after a first one; `stray` appends one row to the
    * gate's live state table. */
  private def checkSelfContained(gate: String, stem: String)(
      stray: => Unit): Unit = {
    val first = run(gate)
    assert(first.nonEmpty)
    assert(run(gate) === first, "a second run in the same session")
    dropState(stem)
    assert(run(gate) === first, "a run after the state was dropped")
    stray
    assert(run(gate) === first, "a run over a stray state row")
    assertNoLedger()
  }

  test("stream_bloom_replay: rerun, dropped state, stray row agree") {
    val t = StreamGates.table("graft_bloom_stream_", dir)
    checkSelfContained("stream_bloom_replay", t) {
      // a seed-class key for batch 0's doc 150: read as state, it would
      // reject 150 and drop its two deliveries
      spark.sql(s"INSERT INTO $t VALUES (150, ${BloomStream.NoBatch})")
    }
  }

  test("stream_cms_replay: rerun, dropped state, stray row agree") {
    val t = StreamGates.table("graft_cms_stream_", dir)
    checkSelfContained("stream_cms_replay", t) {
      // a large negative count in the row-0 cell of the probed term
      // "window" (the sketch of that one token): read as state, its
      // min-estimate would go negative
      import spark.implicits._
      val cell = graft.operators.CountMin.buildTokens(
          Seq("window").toDF("text"), "text", depth = 4, width = 256)
        .filter(col("row") === 0).head()
      spark.sql(s"INSERT INTO ${VersionedTable.physicalTable(spark, t)} " +
        s"VALUES (0, ${cell.getAs[Any]("bucket")}, -1000000000, " +
        s"${CmsStream.NoBatch})")
    }
  }

  test("stream_banddedup_replay: rerun, dropped state, stray row agree") {
    val idx = StreamGates.table("gbsr_", dir)
    checkSelfContained("stream_banddedup_replay", idx) {
      // a token-set row for batch 0's doc 300 tagged batch 1: read as
      // state, doc 300 would count one index row too many
      val toks = VersionedTable.physicalTable(spark, s"${idx}_toks")
      spark.table(toks).limit(1)
        .withColumn("doc_id", lit(300L).cast(spark.table(toks).schema("doc_id").dataType))
        .withColumn("src_batch", lit(1L))
        .write.mode("append").insertInto(toks)
    }
  }

  test("dedup_incremental: rerun, dropped state, stray row agree") {
    val idx = "gidx_" + dir.toLowerCase.replaceAll("[^a-z0-9]", "_")
    checkSelfContained("dedup_incremental", idx) {
      // a second token-set row for the corpus doc of the first match:
      // read as state, that pair would be verified, and emitted, twice
      val idRef = run("dedup_incremental").head(1)
      val toks = VersionedTable.physicalTable(spark, s"${idx}_toks")
      spark.table(toks).filter(col("doc_id") === idRef)
        .write.mode("append").insertInto(toks)
    }
  }

  test("stream_ann_append_replay: rerun, dropped state, stray row agree") {
    val root = StreamGates.table("gais_", dir)
    checkSelfContained("stream_ann_append_replay", root) {
      // a cells row for batch 0's vector 300 tagged batch 1: read as
      // state, vector 300 would count one index row too many
      val store = new graft.etl.ParquetStore(spark,
        new java.io.File(warehouse, root).toString)
      val cells = store.read("idx_cells")
      store.appendPartitioned("idx_cells",
        cells.limit(1)
          .withColumn("cand_id", lit(300L).cast(cells.schema("cand_id").dataType))
          .withColumn("src_batch", lit(1L)),
        Seq("cell"))
    }
  }
}
