package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted dedup band index — the corpus side of incremental near-dup
  * dedup (a NEW batch against an EXISTING corpus, the nightly-ingest case)
  * stored ONCE so nightly batches re-sketch only themselves. Candidates
  * come from the band equi-join of NEW bands against CORPUS bands only, so
  * per-batch cost is O(|new| + collisions) regardless of corpus size. Doc
  * ids must be unique ACROSS batch and corpus (a shared id means "the same
  * document"); intra-batch duplicates are [[Dedup.minhashNearDups]]' job
  * on the batch alone.
  *
  * Two bucketed+sorted tables per index:
  *  - `<name>_bands` (doc_id, n_toks, band_idx, band_hash), bucketed on
  *    the candidate-join keys (band_idx, band_hash): each batch's
  *    candidate join reads corpus buckets IN PLACE — the only exchange is
  *    the (batch-sized) new side being hashed to the bucket layout. The
  *    corpus, which is orders of magnitude larger than a nightly batch,
  *    never reshuffles after index build.
  *  - `<name>_toks` (doc_id, toks, n_toks), bucketed on doc_id, serving
  *    the verification join the same way.
  *
  * This is the batch analogue of [[IvfIndex]]'s persisted-cells layout
  * (there: hive-partitioned for partition pruning; here: bucketed for
  * exchange-free equi-joins — the join key is high-cardinality, so
  * bucketing, not partitioning, is the right layout). Nightly
  * maintenance: [[append]] hashes just the new batch into the bucket
  * layout (corpus files untouched), and [[compact]] periodically folds
  * the accumulated file-sets back to one sorted file per bucket with a
  * shuffle-free rewrite.
  *
  * BandIndexSpec pins (a) result parity with an index-free oracle that
  * sketches the raw corpus each time and (b) that the corpus band scan is
  * bucketed in the executed plan.
  */
object BandIndex {

  /** Sentinel `src_batch` for rows written outside a streaming trigger
    * (build / manual append): never matches a real foreachBatch id, so
    * the replay-exclusion filter leaves them alone. */
  val NoBatch: Long = -1L

  // ------------------------------------------------------------------
  // Versioned physical layout — the shared [[graft.core.VersionedTable]]
  // view-redirect scheme (each index table is a VIEW over the current
  // `<name>_vN`; a compact lands fully in v(N+1) then one CREATE OR
  // REPLACE VIEW retargets readers, so the swap is atomic and a crash
  // mid-rewrite leaves only an invisible orphan). Thin local aliases
  // keep the call sites and the spec's `physicalTable` probe unchanged.

  private def versionOf(spark: org.apache.spark.sql.SparkSession,
      base: String): Int = graft.core.VersionedTable.versionOf(spark, base)

  /** The physical table currently behind `base` — what appends write to
    * and what the spec's file-listing inspects. */
  private[operators] def physicalTable(
      spark: org.apache.spark.sql.SparkSession, base: String): String =
    graft.core.VersionedTable.physicalTable(spark, base)

  /** Read `base` with a fresh file listing (see
    * [[graft.core.VersionedTable.refreshed]] for why the refresh is a
    * correctness requirement under cross-session appends). */
  private def refreshed(spark: org.apache.spark.sql.SparkSession,
      base: String): DataFrame = graft.core.VersionedTable.refreshed(spark, base)

  private def retarget(spark: org.apache.spark.sql.SparkSession,
      base: String, v: Int): Unit =
    graft.core.VersionedTable.retarget(spark, base, v)

  /** Sketch `corpus` with the portable family and persist the two index
    * tables under `name` (`spark.sql.warehouse.dir` / session catalog). */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, buckets: Int, name: String): Unit =
    writeIndex(corpus, idCol, textCol, numHashes, bands, buckets, name,
      mode = "overwrite", batchId = NoBatch)

  /** Incremental index maintenance: sketch ONLY `batch` and append its
    * bands/token-sets to the existing index tables. The write hashes the
    * batch into the tables' bucket layout — the corpus files are never
    * read, rewritten, or reshuffled (spec-pinned via the file listing),
    * so nightly cost is O(|batch|) regardless of index size. `buckets`
    * must match the build-time value (Spark rejects a mismatched bucket
    * spec on append). Each append lands one file-set per bucket; run
    * [[compact]] periodically to fold them back to one file per bucket
    * and restore the per-file sort.
    *
    * CONTRACT: batch doc ids must be disjoint from ids already in the
    * index — a re-appended id would leave two token-set rows and make
    * [[matches]] emit duplicate verification rows for it. With the
    * default `batchId = NoBatch` the contract is the caller's to uphold
    * (cheapest; documented here). Passing a real `batchId` makes the
    * append IDEMPOTENT per batch instead: each table's write anti-joins
    * the batch against ids already present FROM THE SAME BATCH, so a
    * replayed trigger (streaming at-least-once) re-appends nothing and a
    * crash mid-append (one table written, the other not) completes the
    * missing table on retry. The guard reads only same-batch index rows:
    * `src_batch` is constant within every appended file, so parquet
    * row-group stats prune all other files and the guard stays
    * O(batch) IO. */
  def append(batch: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, buckets: Int, name: String,
      batchId: Long = NoBatch): Unit =
    writeIndex(batch, idCol, textCol, numHashes, bands, buckets, name,
      mode = "append", batchId = batchId)

  private def writeIndex(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, buckets: Int, name: String,
      mode: String, batchId: Long): Unit = {
    val spark = docs.sparkSession
    val (bandsDf, tokArr) = Dedup.portableSketch(docs, idCol, textCol,
      numHashes, bands)
    // per-batch idempotency guard (see append scaladoc): drop ids this
    // batch already landed in the target table during a replayed trigger
    def unseen(df: DataFrame, base: String): DataFrame =
      if (batchId == NoBatch || !spark.catalog.tableExists(base)) df
      else df.join(
        refreshed(spark, base).filter(col("src_batch") === batchId)
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    // build: land the full rewrite in the NEXT physical version, then
    // retarget the view; append: write straight into the current one
    def target(base: String): String =
      if (mode == "overwrite") s"${base}_v${versionOf(spark, base) + 1}"
      else physicalTable(spark, base)
    def write(df: DataFrame, base: String, keys: Seq[String]): Unit = {
      val t = target(base)
      // a previous JVM's managed location may survive its (in-memory)
      // catalog entry and block re-creation — reclaim it first
      if (mode == "overwrite") graft.core.Warehouse.reclaimOrphan(spark, t)
      df.write.mode(mode)
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(t)
      if (mode == "overwrite")
        retarget(spark, base, versionOf(spark, base) + 1)
    }
    try {
      write(
        unseen(bandsDf, s"${name}_bands").withColumn("src_batch", lit(batchId)),
        s"${name}_bands", Seq("band_idx", "band_hash"))
      write(
        unseen(
          // the sketch's per-doc arrays are ALREADY sorted — part of the
          // index FORMAT contract: matches() verifies with the merge-walk
          // kernel (IntersectCountSortedBounded), which under-counts on
          // unsorted arrays. An index persisted by a pre-sort build must be
          // rebuilt (build() or compact-as-rebuild) before this version
          // reads it.
          tokArr.select(col("doc_id"), col("toks"),
            size(col("toks")).cast("long").as("n_toks")),
          s"${name}_toks").withColumn("src_batch", lit(batchId)),
        s"${name}_toks", Seq("doc_id"))
    } finally {
      // deployment lifecycle: build/append run outside the query
      // harness, so the sketch caches must not outlive the write
      bandsDf.unpersist(); tokArr.unpersist()
    }
  }

  /** Fold the file-sets accumulated by [[append]] back to one file per
    * bucket. The rewrite is shuffle-free: a bucketed scan already yields
    * exactly one partition per bucket (all of a bucket's files coalesced),
    * and the bucketed write assigns each row back to that same bucket —
    * so each task streams one bucket to one file, with only the per-file
    * sort in between. The corpus passes through executors once; nothing
    * is collected. The rewrite lands fully in the NEXT physical version,
    * then one `CREATE OR REPLACE VIEW` retargets readers — an atomic
    * swap with no window in which the index name fails to resolve. A
    * crash before the swap leaves an orphan v(N+1) that stays invisible
    * (the view still defines the current version) and is overwritten by
    * the re-run; a crash after the swap leaves the superseded version on
    * disk, dropped by the next successful maintenance pass. Run inside
    * the maintenance window — appends concurrent with the rewrite would
    * land in the version being superseded. */
  def compact(spark: org.apache.spark.sql.SparkSession, buckets: Int,
      name: String): Unit = {
    rewriteOneTable(spark, s"${name}_bands", buckets,
      Seq("band_idx", "band_hash"))
    rewriteOneTable(spark, s"${name}_toks", buckets, Seq("doc_id"))
  }

  private def rewriteOneTable(spark: org.apache.spark.sql.SparkSession,
      base: String, buckets: Int, keys: Seq[String]): Unit = {
    val next = versionOf(spark, base) + 1
    // Force the bucketed scan for the rewrite: with auto-bucketed-scan
    // (the default) Spark drops bucketing when no operator consumes the
    // partitioning — a scan→write has none — and the resulting
    // split-based tasks each hold rows of MANY buckets, writing one file
    // per (task, bucket) and defeating the compaction. The bucketed scan
    // yields exactly one partition per bucket, so each task streams its
    // bucket to a single file with no exchange.
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "false")
    try
      refreshed(spark, base).write
        .mode("overwrite") // a crashed pass may have left an orphan here
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(s"${base}_v$next")
    finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
    retarget(spark, base, next)
  }

  /** Verified near-dup matches of a new batch against the persisted
    * index: (id_new, id_ref, jaccard). Identical output to sketching the
    * raw corpus afresh (same sketch family, same [[Dedup.crossMatches]]
    * tail — spec-pinned against the index-free oracle). */
  def matches(newDocs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double, name: String,
      excludeBatch: Option[Long] = None): DataFrame = {
    val (newBands, newToks) = Dedup.portableSketch(newDocs, idCol, textCol,
      numHashes, bands)
    matchesFrom(newBands, newToks, threshold, name, excludeBatch)
  }

  /** The index-join tail of [[matches]], split out so callers that own the
    * sketch-frame lifecycle (the streaming path, which must unpersist per
    * micro-batch) can pass pre-sketched frames. `excludeBatch` drops index
    * rows appended BY THE SAME micro-batch from the reference side — on an
    * at-least-once replay (crash between append and checkpoint commit)
    * the retried batch must not anti-join against its own previously
    * appended survivors, or they would silently vanish from the sink.
    * The filter is a cheap column predicate on the bucketed scans (and
    * file-prunable via parquet stats, src_batch being constant per file);
    * bucketing is unaffected. */
  private def matchesFrom(newBands: DataFrame, newToks: DataFrame,
      threshold: Double, name: String,
      excludeBatch: Option[Long] = None): DataFrame = {
    val spark = newBands.sparkSession
    def notOwn(df: DataFrame): DataFrame = excludeBatch match {
      case Some(b) => df.filter(col("src_batch") =!= b)
      case None => df
    }
    Dedup.crossMatches(newBands, newToks,
      notOwn(refreshed(spark, s"${name}_bands")),
      notOwn(refreshed(spark, s"${name}_toks")), threshold)
  }

  /** New docs that survive the index check (left-anti on matched ids),
    * with a bounded lifecycle for long-running callers (streaming
    * foreachBatch): runs `use` on the surviving docs, then
    * unpersists the per-batch sketch frames that
    * [[Dedup.portableSketch]] cached. A batch caller relies on the
    * harness-scoped `clearCache()`; a stream has no such scope, so
    * without this every trigger would leak one band + one token-set
    * cache entry into the CacheManager for the life of the query. The
    * corpus side needs no eviction — it lives in the on-disk bucketed
    * index tables, never the cache. */
  def dedupAgainstEphemeral(newDocs: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int, threshold: Double,
      name: String, excludeBatch: Option[Long] = None)
      (use: DataFrame => Unit): Unit = {
    val (newBands, newToks) = Dedup.portableSketch(newDocs, idCol, textCol,
      numHashes, bands)
    val survivors = newDocs.join(
      matchesFrom(newBands, newToks, threshold, name, excludeBatch)
        .select(col("id_new").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
    try use(survivors)
    finally { newBands.unpersist(); newToks.unpersist() }
  }
}
