package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.CountMin

/** Streaming Count-Min: heavy-hitter token counts maintained across
  * micro-batches — the frequency sibling of [[BloomStream]] (exact
  * membership) and the band-index stream (near-dup candidates).
  *
  * State is a persisted cells table `(row, bucket, cnt, src_batch)`:
  * each trigger aggregates ITS OWN batch into ≤ depth·width delta rows
  * (one corpus pass, the bounded-key shuffle of
  * [[CountMin.buildTokens]]) and appends them tagged with the
  * micro-batch id. The served sketch is the SUM over all landed
  * batches — cell merge is additive, which is exactly why replay needs
  * a guard where Bloom's idempotent OR did not: a re-fired trigger
  * whose id already landed must SKIP the append or every replay would
  * double-count. The table grows by ≤ d·w rows per trigger regardless
  * of batch size; [[compact]] folds history back to one row set
  * (same lifecycle as the BandIndex append/compact contract).
  *
  * No driver-resident state at all: estimates probe the summed view
  * with [[CountMin.estimateTerms]] (broadcast-sized), so driver restart
  * needs no recovery step — the table IS the state.
  */
object CmsStream {
  val NoBatch: Long = -1L

  /** Seed the cells table from an existing corpus (src_batch = NoBatch
    * so no real trigger's replay guard can ever collide with it). Lands
    * in the next physical version and retargets the view — same atomic
    * lifecycle as [[compact]], so a re-seed over a live table never has
    * a window where the state name resolves to a half-written copy. */
  def seed(corpus: DataFrame, textCol: String, table: String,
      depth: Int, width: Int): Unit =
    writeVersion(corpus.sparkSession,
      CountMin.buildTokens(corpus, textCol, depth, width)
        .withColumn("src_batch", lit(NoBatch)), table)

  /** Land `cells` as the table's next physical version, then retarget
    * the redirect view (one atomic metadata op — VersionedTable). */
  private def writeVersion(spark: SparkSession, cells: DataFrame,
      table: String): Unit = {
    val next = graft.core.VersionedTable.versionOf(spark, table) + 1
    // a previous JVM's managed location may survive its (in-memory)
    // catalog entry and block re-creation — reclaim it first
    graft.core.Warehouse.reclaimOrphan(spark, s"${table}_v$next")
    cells.write.mode("overwrite").saveAsTable(s"${table}_v$next")
    graft.core.VersionedTable.retarget(spark, table, next)
  }

  /** One aggregate→guard→append trigger: the `foreachBatch` body of a
    * streaming Count-Min, callable directly so the gate and the replay
    * spec can run the exact production body twice with the same
    * batchId. */
  private[graft] def trigger(batch: DataFrame, batchId: Long,
      textCol: String, table: String, depth: Int, width: Int): Unit = {
    val spark = batch.sparkSession
    val exists = spark.catalog.tableExists(table)
    if (exists) {
      // replay guard: a batch id that already landed must not re-sum
      if (!graft.core.VersionedTable.refreshed(spark, table)
            .filter(col("src_batch") === batchId).isEmpty) return
    }
    val cells = CountMin.buildTokens(batch, textCol, depth, width)
      .withColumn("src_batch", lit(batchId))
    if (exists)
      cells.write.mode("append").saveAsTable(
        graft.core.VersionedTable.physicalTable(spark, table))
    else writeVersion(spark, cells, table)
  }

  /** The served sketch: cells summed across every landed batch. */
  def sketch(spark: SparkSession, table: String): DataFrame =
    graft.core.VersionedTable.refreshed(spark, table)
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))

  /** Point estimates against the current table state. */
  def estimate(spark: SparkSession, table: String, terms: Seq[String],
      depth: Int, width: Int): DataFrame =
    CountMin.estimateTerms(sketch(spark, table), terms, depth, width)

  /** Fold the per-batch history back to one row set (≤ d·w rows,
    * src_batch = NoBatch). Estimates are unchanged by construction —
    * sum is associative — and later replays of already-landed ids are
    * no longer detectable, so compact only between (not during)
    * streaming queries, the same operational contract as BandIndex
    * compact. Crash-safe via the shared versioned layout: the folded
    * rows land fully in the NEXT physical version before one CREATE OR
    * REPLACE VIEW retargets readers — a crash mid-write leaves the
    * current version untouched (the orphan stays invisible and is
    * overwritten by the re-run), never the zero-copy window an in-place
    * overwrite of the single copy would have. */
  def compact(spark: SparkSession, table: String): Unit = {
    val folded = sketch(spark, table)
      .withColumn("src_batch", lit(NoBatch))
      .collect() // ≤ d·w rows — bounded by the sketch shape, not data
    val schema = graft.core.VersionedTable.refreshed(spark, table).schema
    writeVersion(spark, spark.createDataFrame(
      java.util.Arrays.asList(folded: _*), schema), table)
  }
}
