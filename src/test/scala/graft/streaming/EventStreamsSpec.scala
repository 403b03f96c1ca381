package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import EventStreams.{Event, Session}

/** Streaming semantics driven through MemoryStream micro-batches:
  * watermark advancement, late-data handling, session closure on
  * event-time timeout. */
class EventStreamsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long,
      typ: String = "click", v: Double = 1.0) = Event(id, ts(t), user, typ, v)

  test("windowed counts over a bounded stream (append after watermark)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedCounts(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Append)
      .start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:10:00", 1), ev(2, "2024-01-01 00:20:00", 2),
        ev(3, "2024-01-01 01:05:00", 1))
      q.processAllAvailable()
      // advance the watermark far enough to close both windows
      mem.addData(ev(4, "2024-01-01 03:00:00", 3))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(3))).toMap
      assert(rows("2024-01-01 00:00:00.0") === 2L)
      assert(rows("2024-01-01 01:00:00.0") === 1L)
    } finally q.stop()
  }

  test("windowedCounts is stream/batch unified (same plan on a batch frame)") {
    import spark.implicits._
    val batch = Seq(
      ev(1, "2024-01-01 00:10:00", 1), ev(2, "2024-01-01 00:20:00", 2),
      ev(3, "2024-01-01 01:05:00", 1)).toDF()
    val out = EventStreams.windowedCounts(batch, "1 hour", "10 minutes")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(3))).toMap
    assert(out("2024-01-01 00:00:00.0") === 2L)
    assert(out("2024-01-01 01:00:00.0") === 1L)
  }

  test("windowedCounts on the real corpus reconciles with the evt_hourly_rollup gate") {
    // correctness hook beyond unit fixtures: the streaming aggregation,
    // run over the bounded events table, must reproduce the batch gate's
    // hourly totals (counts exactly; value sums within the per-event-type
    // rounding tolerance, since the streaming agg rounds per (window,
    // type) and the gate rounds the per-hour total)
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val events = graft.core.Tables(spark, dir, "events")
    val streamed = EventStreams.windowedCounts(events, "1 hour", "30 minutes")
      .groupBy(col("window_start"))
      .agg(sum(col("n_events")).as("n"), sum(col("total_value")).as("v"))
      .collect()
      .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val gate = graft.SparkEntry.allQueries.find(_.name == "evt_hourly_rollup")
      .get.run(spark, dir)
      .collect()
      .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet === gate.keySet)
    gate.foreach { case (bucket, (n, v)) =>
      val (sn, sv) = streamed(bucket)
      assert(sn === n, s"count mismatch in $bucket")
      assert(math.abs(sv - v) < 0.05, s"value drift in $bucket: $sv vs $v")
    }
  }

  test("stream-static enrichment join: events pick up dimension attributes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    val q = EventStreams.enrichWithDim(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:10:00", 1), ev(2, "2024-01-01 00:20:00", 2),
        ev(3, "2024-01-01 00:30:00", 9)) // user 9 not in the dim
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tier")).toMap
      assert(rows === Map(1L -> "gold", 2L -> "basic")) // inner join drops 9
    } finally q.stop()
  }

  test("sessionize: 30-min gap closes a session; timeout emits it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(spark, mem.toDS(), 30, "5 minutes")
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append)
      .start()
    try {
      // user 1: two events 10 min apart (one session), then a 2-hour gap
      mem.addData(
        ev(1, "2024-01-01 00:00:00", 1), ev(2, "2024-01-01 00:10:00", 1))
      q.processAllAvailable()
      // new event after the gap starts session 2 AND (after watermark
      // advances past last+gap) times out session 1
      mem.addData(ev(3, "2024-01-01 02:00:00", 1))
      q.processAllAvailable()
      mem.addData(ev(4, "2024-01-01 06:00:00", 2))
      q.processAllAvailable()
      val sessions = spark.table("sess").as[Session].collect()
        .filter(_.user_id == 1)
      assert(sessions.exists(s =>
        s.session_start == ts("2024-01-01 00:00:00")
          && s.session_end == ts("2024-01-01 00:10:00") && s.n_events == 2),
        s"got ${sessions.mkString(", ")}")
    } finally q.stop()
  }

  test("streaming dedup: watermarked dropDuplicates emits each key once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupStream(mem.toDF(), Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append)
      .start()
    try {
      // same event_id+ts delivered twice in-batch and again across batches
      mem.addData(ev(1, "2024-01-01 00:00:00", 1), ev(1, "2024-01-01 00:00:00", 1))
      q.processAllAvailable()
      mem.addData(ev(1, "2024-01-01 00:00:00", 1), ev(2, "2024-01-01 00:01:00", 2))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-stream interval join: purchase enriched by recent clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStreams.purchasesWithRecentClicks(
        purchases.toDF(), clicks.toDF(), windowMinutes = 30, "10 minutes")
      .writeStream.format("memory").queryName("ssj").outputMode(OutputMode.Append)
      .start()
    try {
      clicks.addData(
        ev(10, "2024-01-01 00:00:00", 1, "click", 2.5),
        ev(11, "2024-01-01 02:00:00", 1, "click", 9.9)) // too old for the purchase below? no: later
      purchases.addData(ev(20, "2024-01-01 00:20:00", 1, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getTimestamp(3).toString, r.getDouble(4)))
      // only the click 20 min before the purchase joins; the 02:00 click is
      // after the purchase, and nothing else is in-window
      assert(rows.toSeq === Seq((20L, "2024-01-01 00:00:00.0", 2.5)))
    } finally q.stop()
  }

  test("file stream picks up newly landed parquet micro-batches") {
    import spark.implicits._
    val dir = tmpDir("stream-src")
    val out = tmpDir("stream-out")
    val ckpt = tmpDir("stream-ckpt")
    Seq(ev(1, "2024-01-01 00:00:00", 1)).toDF()
      .write.mode("append").parquet(dir)
    val stream = EventStreams.fileStream(spark, dir,
      Seq.empty[Event].toDF().schema, maxFilesPerTrigger = 2)
    val q = stream.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      Seq(ev(2, "2024-01-01 00:05:00", 2), ev(3, "2024-01-01 00:06:00", 3)).toDF()
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 3)
    } finally q.stop()
  }

  test("streaming near-dup dedup against the persisted index == batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 100)
    graft.operators.BandIndex.build(corpus, "doc_id", "text",
      numHashes = 64, bands = 16, buckets = 8, name = "sidx")

    val batch1 = docs.filter(org.apache.spark.sql.functions.col("doc_id")
        .between(100, 124))
      .select("doc_id", "text").as[(Long, String)].collect()
    val batch2 = docs.filter(org.apache.spark.sql.functions.col("doc_id")
        .between(125, 149))
      .select("doc_id", "text").as[(Long, String)].collect()

    val survivors = scala.collection.mutable.Set.empty[Long]
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.dedupAgainstIndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.8, indexName = "sidx",
      sink = kept => survivors.synchronized {
        survivors ++= kept.select("doc_id").collect().map(_.getLong(0))
      })
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    try {
      mem.addData(batch1.toSeq); q.processAllAvailable()
      mem.addData(batch2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // lifecycle pin: each trigger sketches the batch through cached
    // frames (portableSketch), and the ephemeral path must unpersist
    // them — a long-running stream must not grow the CacheManager by
    // one-plus entries per trigger
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore,
      "per-batch sketch caches must be unpersisted after each trigger")

    val expected = graft.operators.Oracles.dedupAgainstCorpus(
        docs.filter(org.apache.spark.sql.functions.col("doc_id")
          .between(100, 149)),
        corpus, "doc_id", "text", 64, 16, 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors.toSet === expected,
      "per-micro-batch dedup must equal the one-shot batch dedup " +
        "(batch boundaries cannot change corpus-side matches)")
  }

  test("growing-index stream dedups later batches against earlier survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def doc(tokens: Seq[String]) = tokens.mkString(" ")
    val base = (0 until 20).map(i => s"c$i")
    val fresh1 = (0 until 20).map(i => s"y$i")
    val fresh2 = (0 until 20).map(i => s"z$i")
    // corpus doc C; X1 is a near-dup of C (19/21 Jaccard ~ 0.90)
    val corpus = Seq((1L, doc(base))).toDF("doc_id", "text")
    graft.operators.BandIndex.build(corpus, "doc_id", "text",
      numHashes = 64, bands = 16, buckets = 8, name = "gidx")

    val x1 = doc(base.updated(7, "changed"))       // near-dup of corpus C
    val y1 = doc(fresh1)                           // fresh -> survives b1
    val y2 = doc(fresh1.updated(3, "mutated"))     // near-dup of y1!
    val z = doc(fresh2)                            // fresh -> survives b2

    val survivors = scala.collection.mutable.Set.empty[Long]
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.dedupGrowIndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.8, indexName = "gidx",
      buckets = 8,
      sink = kept => survivors.synchronized {
        survivors ++= kept.select("doc_id").collect().map(_.getLong(0))
      })
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    try {
      mem.addData(Seq((10L, x1), (11L, y1))); q.processAllAvailable()
      mem.addData(Seq((20L, y2), (21L, z))); q.processAllAvailable()
    } finally q.stop()

    // x1 dropped vs the built corpus; y2 dropped vs batch-1 survivor y1 —
    // the growing index is exactly what the static variant cannot do
    assert(survivors.toSet === Set(11L, 21L),
      s"expected y1+z to survive, got ${survivors.toSet}")
    // same no-leak lifecycle pin as the static stream (checked BEFORE the
    // batch-path call below, which caches legitimately under the batch
    // harness's clearCache lifecycle)
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore,
      "per-trigger sketch caches must be unpersisted")
    // the appended survivors are queryable index content for later
    // callers too (batch path sees them)
    val late = Seq((30L, doc(fresh2.updated(5, "edited")))).toDF("doc_id", "text")
    var lateKept = -1L
    graft.operators.BandIndex.dedupAgainstEphemeral(late, "doc_id", "text",
        64, 16, 0.8, "gidx") { kept => lateKept = kept.count() }
    assert(lateKept === 0L,
      "a near-dup of an appended survivor must be caught by the batch path")
    spark.catalog.clearCache()
  }

  test("replayed growing-index trigger re-delivers survivors and appends nothing") {
    import spark.implicits._
    def doc(tokens: Seq[String]) = tokens.mkString(" ")
    val base = (0 until 20).map(i => s"rc$i")
    val fresh = (0 until 20).map(i => s"rf$i")
    val corpus = Seq((1L, doc(base))).toDF("doc_id", "text")
    graft.operators.BandIndex.build(corpus, "doc_id", "text",
      numHashes = 64, bands = 16, buckets = 8, name = "ridx")

    // batch 0: doc 10 is fresh (survives), doc 11 near-dups the corpus
    val batch = Seq(
      (10L, doc(fresh)),
      (11L, doc(base.updated(2, "tweaked")))).toDF("doc_id", "text")
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def fire(): Unit = EventStreams.growIndexTrigger(
      batch, batchId = 0L, "doc_id", "text", numHashes = 64, bands = 16,
      threshold = 0.8, indexName = "ridx", buckets = 8,
      sink = kept => delivered +=
        kept.select("doc_id").collect().map(_.getLong(0)).toSet)

    fire()
    // at-least-once replay: crash landed between the successful append
    // and the checkpoint commit, so the SAME batch id fires again
    fire()

    // the retried trigger must re-deliver the same survivors — without
    // the same-batch exclusion it would anti-join against its own
    // appended rows and deliver nothing (the silent-loss hazard)
    assert(delivered.toSeq === Seq(Set(10L), Set(10L)),
      s"replay must re-deliver identical survivors, got $delivered")
    // ...and append nothing: exactly one token-set row and one band set
    // for doc 10 across both firings
    assert(spark.table("ridx_toks")
      .filter($"doc_id" === 10L).count() === 1L,
      "replayed append must not duplicate token-set rows")
    assert(spark.table("ridx_bands")
      .filter($"doc_id" === 10L).count() === 16L,
      "replayed append must not duplicate band rows")
    // a later batch still dedups against the survivor appended in batch 0
    val late = Seq((30L, doc(fresh.updated(4, "edited")))).toDF("doc_id", "text")
    EventStreams.growIndexTrigger(late, batchId = 1L, "doc_id", "text",
      64, 16, 0.8, "ridx", 8,
      sink = kept => delivered +=
        kept.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(delivered.last === Set.empty[Long],
      "a near-dup of a batch-0 survivor must be dropped in batch 1")
    spark.catalog.clearCache()
  }
}
