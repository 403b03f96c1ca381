package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-streaming surface over the events schema ([EXT] per
  * SURVEY.md §2.5 — the reference's only "streaming" is EventBridge
  * micro-batch; this is the Spark-native unbounded version of the same
  * dataflow, sharing semantics with the batch Analytics queries).
  *
  * Scale: watermarks bound state; windowed aggs shuffle once on
  * (window, key); sessionization keeps one small state object per user key
  * and emits on event-time timeout — the standard mapGroupsWithState
  * pattern for out-of-order streams.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** One closed (or final) session per user: [start, end] + event count. */
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Internal per-user session state (public: the state encoder's codegen
    * needs constructor/accessor visibility). */
  final case class SessionState(start: Long, last: Long, n: Long)

  /** Tumbling-window counts with a watermark for late data. Works on a
    * streaming OR batch frame (same plan — Spark unifies them). */
  def windowedCounts(events: DataFrame, windowDur: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Gap-based sessionization with custom state: a session closes after
    * `gapMinutes` of inactivity (tracked by event-time timeout against the
    * watermark). Emits each closed session exactly once. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
      gapMinutes: Int, watermarkDelay: String): Dataset[Session] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, batch: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      val events = batch.toSeq.sortBy(_.ts.getTime)
      var closed = List.empty[Session]
      if (state.hasTimedOut) {
        val s = state.get
        closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
        state.remove()
      } else if (events.nonEmpty) {
        var cur = state.getOption.orNull
        events.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case null => cur = SessionState(t, t, 1)
            case s if t - s.last > gapMs =>
              closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
              cur = SessionState(t, t, 1)
            case s => cur = SessionState(s.start, math.max(s.last, t), s.n + 1)
          }
        }
        state.update(cur)
        state.setTimeoutTimestamp(cur.last + gapMs)
      }
      closed.reverseIterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream-stream interval join: purchases matched to the same user's
    * clicks within the preceding `windowMinutes`. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * state on both sides is bounded and purged as the watermark advances —
    * the canonical streaming enrichment join. */
  def purchasesWithRecentClicks(purchases: DataFrame, clicks: DataFrame,
      windowMinutes: Int, watermarkDelay: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val p = purchases.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("purchase_ts"))
    val c = clicks.withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    p.join(c,
      col("user_id") === col("click_user")
        && col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES")
        && col("click_ts") <= col("purchase_ts"),
      "inner")
      .select("purchase_id", "user_id", "purchase_ts", "click_ts", "click_value")
  }

  /** Streaming exact dedup: watermarked dropDuplicates on a content key —
    * the unbounded version of Dedup.exactGroups. State is bounded by the
    * watermark (a duplicate arriving later than `watermarkDelay` past the
    * original is emitted again, the standard at-scale tradeoff). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates(keyCols :+ "ts")

  /** Stream-static enrichment join: the unbounded event stream joined to
    * a bounded dimension frame. The static side needs no watermark and no
    * streaming state — each micro-batch plans a fresh broadcast-hash join
    * against it (dimension updates between batches are picked up on
    * re-read), the streaming mirror of the batch star join. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      joinCol: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(joinCol))

  /** Streaming NEAR-dup dedup against a persisted corpus index
    * ([[graft.operators.BandIndex]]): each micro-batch of incoming
    * documents is sketched and checked via `foreachBatch`, and only the
    * surviving (non-near-dup) docs reach `sink` — the streaming form of
    * the nightly incremental dedup. foreachBatch is the right tool, not a
    * stateful streaming agg: the MinHash signature is a per-doc
    * aggregation over exploded tokens and the verification is a batch
    * join against the index — both batch-shaped — while the stream only
    * provides arrival batching. The corpus index stays bucketed on disk,
    * so per-trigger cost is proportional to the batch, independent of
    * corpus size (same property as the batch path, spec-pinned there).
    * Per-batch sketch caches are unpersisted after each trigger
    * ([[graft.operators.BandIndex.dedupAgainstEphemeral]]) — a stream
    * never reaches the batch harness's per-query `clearCache()`, so the
    * bounded-lifecycle variant is mandatory here, not an optimization.
    * Returns the started query; caller owns its lifecycle. */
  def dedupAgainstIndexStream(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double, indexName: String,
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.operators.BandIndex.dedupAgainstEphemeral(
            batch, idCol, textCol, numHashes, bands, threshold, indexName)(sink)
      }
      .start()

  /** Streaming near-dup dedup against a GROWING index: like
    * [[dedupAgainstIndexStream]], but each trigger's survivors are
    * appended to the persisted index ([[graft.operators.BandIndex.append]])
    * before the next trigger runs — so batch N is deduped against the
    * original corpus AND every earlier batch's survivors, which is the
    * semantics a continuous ingest pipeline actually needs (the static
    * variant lets a doc arriving twice in different triggers through).
    * Order inside the trigger matters and is single-threaded by
    * foreachBatch's sequential guarantee: check, deliver, then append —
    * a doc never dedups against its own batch (intra-batch dups are
    * [[graft.operators.Dedup.minhashNearDups]] on the batch, composable
    * upstream). Cost per trigger stays O(|batch| + collisions): the
    * check join reads corpus buckets in place and the append shuffles
    * only the batch into the bucket layout; run
    * [[graft.operators.BandIndex.compact]] on a maintenance schedule to
    * fold the accumulated per-trigger file-sets. `buckets` must match
    * the index's build-time bucket count.
    *
    * REPLAY-SAFE under foreachBatch's at-least-once contract: index rows
    * carry the micro-batch id, the check excludes same-batch rows (a
    * trigger retried after a successful append must not anti-join
    * against its own survivors — they'd silently vanish from the sink),
    * and the append is per-batch idempotent (a replay re-appends
    * nothing; a crash mid-append completes the missing table). Net
    * effect: replays re-deliver the SAME survivors to `sink`
    * (at-least-once delivery, the sink's contract) and the index
    * converges to exactly one copy of each survivor. Spec-pinned by
    * replaying [[growIndexTrigger]] in EventStreamsSpec. */
  def dedupGrowIndexStream(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double, indexName: String,
      buckets: Int, sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        growIndexTrigger(batch, batchId, idCol, textCol, numHashes, bands,
          threshold, indexName, buckets, sink)
      }
      .start()

  /** One check→deliver→append trigger of [[dedupGrowIndexStream]], split
    * out so the replay-safety spec can invoke the exact production body
    * twice with the same batchId. */
  private[graft] def growIndexTrigger(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, numHashes: Int, bands: Int,
      threshold: Double, indexName: String, buckets: Int,
      sink: DataFrame => Unit): Unit =
    if (!batch.isEmpty)
      graft.operators.BandIndex.dedupAgainstEphemeral(
        batch, idCol, textCol, numHashes, bands, threshold, indexName,
        excludeBatch = Some(batchId)) { survivors =>
        sink(survivors)
        graft.operators.BandIndex.append(survivors, idCol, textCol,
          numHashes, bands, buckets, indexName, batchId = batchId)
      }

  /** Micro-batch file ingestion: the streaming analogue of the reference's
    * timer-driven extract — new parquet files under `dir` are picked up
    * `maxFilesPerTrigger` at a time with exactly-once tracking in the
    * checkpoint (replaces the hand-rolled timestamp watermark for
    * file-landed data). */
  def fileStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
}
