package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Driver-resident Bloom bitmap for the streaming exact-dedup path.
  *
  * The bitmap is a `long[mBits/64]` held on the driver — bounded by the
  * filter's m (128 KB at m = 2^20), NEVER by the data, which is the same
  * justification as holding an HLL sketch or an accumulator driver-side.
  * It is a pure cache: the persisted keys table written by
  * [[BloomStream.dedupExactStream]] is the source of truth, and
  * [[BloomStream.recover]] rebuilds the bitmap from it after a driver
  * restart (Bloom OR is associative/idempotent, so rebuild order is
  * irrelevant). Owned by ONE streaming query at a time — foreachBatch
  * triggers are sequential within a query, so no internal locking.
  */
final class BloomState(val mBits: Int, val k: Int) {
  require(mBits > 0 && mBits % 64 == 0, s"mBits ($mBits) must be a positive multiple of 64")
  private val words = new Array[Long](mBits / 64)

  /** OR pre-reduced (word, bits) rows — [[Dedup.bloomWords]] output —
    * into the bitmap. Idempotent: replaying a batch re-ORs set bits. */
  private[streaming] def or(wordBits: Array[(Long, Long)]): Unit =
    wordBits.foreach { case (w, b) => words(w.toInt) |= b }

  /** The bitmap as the one-row DENSE `bloom: array<bigint>` frame
    * [[Dedup.bloomProbe]] consumes with O(1) lookups (the driver state is
    * already the dense long[] — no conversion; cloned so the frame is a
    * stable snapshot if the state is OR'd after plan construction). */
  private[streaming] def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(words.clone().toSeq).toDF("bloom")
  }
}

/** Streaming EXACT dedup behind a Bloom prefilter: the unbounded-key
  * streaming complement of [[graft.operators.Dedup.bloomNewKeys]], and
  * the exact-dedup sibling of [[EventStreams.dedupGrowIndexStream]]'s
  * near-dup index.
  *
  * Per trigger: probe the batch against the driver bitmap (per-row
  * column algebra — a batch of entirely-new keys touches NO state at
  * all), deliver Bloom rejects directly (no false negatives), verify
  * only the pass-set — true members plus the ~fpp sliver — with a
  * left-anti join against the persisted keys table, then append the
  * survivors' keys and OR their positions into the bitmap. Per-trigger
  * cost is O(|batch| + |pass-set|): the keys table is read only by the
  * verification join's anti side and never reshuffled.
  *
  * REPLAY-SAFE under foreachBatch's at-least-once contract, by the same
  * construction as the band index stream: key rows carry the micro-batch
  * id, verification excludes same-batch rows (a retried trigger must not
  * anti-join against its own survivors), the key append skips ids the
  * batch already landed, and the bitmap OR is idempotent by algebra.
  * Replays therefore re-deliver the SAME survivors (at-least-once
  * delivery, the sink's contract) and the keys table converges to one
  * row per survivor.
  */
object BloomStream {
  val NoBatch: Long = -1L

  /** Seed the keys table from an existing corpus (src_batch = NoBatch so
    * no real trigger's replay guard can ever exclude corpus rows). */
  def seed(corpus: DataFrame, keyCol: String, keysTable: String): Unit = {
    // a previous JVM's managed location may survive its (in-memory)
    // catalog entry and block re-creation — reclaim it first
    graft.core.Warehouse.reclaimOrphan(corpus.sparkSession, keysTable)
    corpus.select(col(keyCol)).distinct()
      .withColumn("src_batch", lit(NoBatch))
      .write.mode("overwrite").saveAsTable(keysTable)
  }

  /** Rebuild the driver bitmap from the keys table — the bounded collect
    * is of [[Dedup.bloomWords]]'s ≤ m/64-row frame, never of keys. */
  def recover(spark: SparkSession, keysTable: String, keyCol: String,
      mBits: Int, k: Int): BloomState = {
    val st = new BloomState(mBits, k)
    if (spark.catalog.tableExists(keysTable)) {
      spark.catalog.refreshTable(keysTable)
      st.or(Dedup.bloomWords(spark.table(keysTable), keyCol, mBits, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))))
    }
    st
  }

  /** Start the stream. `state` should come from [[recover]] (empty table
    * → empty bitmap) so bitmap and table always agree. Intra-batch
    * duplicates keep one arbitrary row (`dropDuplicates` on the key) —
    * same contract as the batch operator's distinct corpus side. */
  def dedupExactStream(docs: DataFrame, keyCol: String, keysTable: String,
      state: BloomState, sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        trigger(batch, batchId, keyCol, keysTable, state, sink)
      }
      .start()

  /** One probe→verify→deliver→append→OR trigger, split out so the
    * replay-safety spec can run the exact production body twice with the
    * same batchId. Per-trigger caches are unpersisted in finally — a
    * stream never reaches the batch harness's clearCache() (same
    * lifecycle rule as [[graft.operators.BandIndex.dedupAgainstEphemeral]]). */
  private[graft] def trigger(batch: DataFrame, batchId: Long, keyCol: String,
      keysTable: String, state: BloomState, sink: DataFrame => Unit): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val probed = Dedup.bloomProbe(batch.dropDuplicates(keyCol), keyCol,
      state.frame(spark), state.mBits, state.k).cache()
    try {
      val definitelyNew = probed.filter(!col("bloom_pass")).drop("bloom_pass")
      val needVerify = probed.filter(col("bloom_pass")).drop("bloom_pass")
      val verifiedNew =
        if (!spark.catalog.tableExists(keysTable)) needVerify
        else {
          spark.catalog.refreshTable(keysTable)
          needVerify.join(
            spark.table(keysTable)
              .filter(col("src_batch") =!= batchId) // replay guard
              .select(col(keyCol)),
            Seq(keyCol), "left_anti")
        }
      val survivors = definitelyNew.unionByName(verifiedNew).cache()
      try {
        sink(survivors)
        val keyRows = survivors.select(col(keyCol))
          .withColumn("src_batch", lit(batchId))
        val unseen = // per-batch idempotent append (BandIndex pattern):
          if (!spark.catalog.tableExists(keysTable)) keyRows
          else keyRows.join(
            spark.table(keysTable).filter(col("src_batch") === batchId)
              .select(col(keyCol)),
            Seq(keyCol), "left_anti")
        unseen.write.mode("append").saveAsTable(keysTable)
        state.or(Dedup.bloomWords(survivors, keyCol, state.mBits, state.k)
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      } finally survivors.unpersist()
    } finally probed.unpersist()
  }
}
