package graft.operators

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.core.SourceFingerprint

/** Scale-safe total-order primitives: global row numbers and global
  * running sums WITHOUT the single-partition window collapse.
  *
  * `Window.orderBy(k)` with no partition spec moves the whole dataset to
  * one partition (Spark warns "No Partition Defined for Window
  * operation") — correct at toy scale, dead at 100 TB. The classic
  * two-pass partition-offset form used here produces identical output:
  *
  *  1. Bucket rows so buckets are globally ordered (every value in bucket
  *     i sorts before every value in bucket i+1): a global order = bucket
  *     order + order within the bucket.
  *  2. Per-bucket totals (count / sum of the weight) are aggregated to
  *     one row per bucket — at most `spark.sql.shuffle.partitions` rows,
  *     i.e. metadata-sized at any data scale.
  *  3. Each bucket's PREFIX offset (total over all lower buckets) comes
  *     from a triangular self-join over that tiny totals frame, and is
  *     broadcast back onto the data.
  *  4. The global value = prefix offset + an intra-bucket window
  *     (hash-partitioned on the bucket id — linear, parallel).
  *
  * Two bucketing strategies, picked by the order column's type:
  *
  *  - ORDERED-NUMERIC (ints, floats, decimals, dates, timestamps — every
  *    caller in this library): bucket boundaries are approximate
  *    quantiles of the order column, and the bucket id is a pure,
  *    deterministic function of (row value, boundaries). The only
  *    materialized state is the boundary array, collected once into the
  *    session memo so every consumer — across queries and cache clears —
  *    reads a single sketch draw (approx-quantile merge order is
  *    scheduling-dependent, so two draws could give the totals branch
  *    and the data branch different buckets). The full
  *    data is NEVER cached and is shuffled exactly once (the window's
  *    hash exchange on the bucket id). Compare the alternative below,
  *    which samples the input on the driver, range-shuffles the data,
  *    caches the whole frame, and THEN hash-shuffles it again for the
  *    window — at 100 TB that cache is the difference between a
  *    metadata-sized footprint and spilling the corpus to executor disk.
  *    Monotone NON-strict double images are sufficient: a long→double
  *    cast can collapse two adjacent keys to one double (≥2^53) but can
  *    never invert their order, so a collision only merges their buckets
  *    and the intra-bucket sort (on the original column) still orders
  *    them exactly.
  *
  *  - ANY ORDERABLE TYPE (strings, structs): fall back to
  *    `repartitionByRange(orderKey)` with the ranged frame MATERIALIZED
  *    ONCE (`.cache()`) so the totals branch and the data branch read the
  *    same physical partitioning. Correctness requires this cache:
  *    RangePartitioner draws its reservoir-sample boundaries with a seed
  *    derived from the runtime RDD id, so two separate range exchanges
  *    over the same input can draw DIFFERENT boundaries whenever the
  *    sampler actually subsamples — exactly the regime this operator
  *    exists for. (Quantile bucketing cannot serve strings:
  *    percentile_approx has no order-preserving image for them, and a
  *    byte-prefix image degenerates to one bucket on common-prefix keys.)
  *
  * The offsets are computed in-plan (no driver `collect`); caches are
  * bounded by the harness's per-query `spark.catalog.clearCache()` and
  * [[CacheOnce]] keeps either path idempotent across gates that share a
  * canonical plan. A ScaleSpec property test pins that both paths'
  * output is invariant to the partition count, matches the
  * single-partition-window ground truth under adversarial skew, and that
  * the string fallback stays live.
  *
  * State: one session memo of order statistics (boundaries, and for a
  * bounded cum-sum the exact per-bucket totals of its weight), built on
  * the query path and never written anywhere.
  *
  * Determinism: `orderCol` must be a total order (unique per row) for the
  * running values to be well-defined — the same requirement the
  * single-partition form and any SQL `OVER (ORDER BY k)` oracle already
  * have under ties.
  */
object TotalOrder {

  private val log =
    org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** Order-preserving (monotone non-strict) double image of the order
    * column, or None when the type has no such image and the caller must
    * take the range-partitioner fallback. */
  private def doubleImage(dt: DataType, c: Column): Option[Column] = dt match {
    case _: NumericType => Some(c.cast("double"))
    case DateType | TimestampType | TimestampNTZType =>
      Some(c.cast("timestamp").cast("double"))
    case _ => None
  }

  /** Attach `_pid` (globally-ordered bucket id) and `_prefix` (sum of
    * `weight` over all lower buckets). Internal: callers drop both. */
  private def withPrefixOffsets(df: DataFrame, orderCol: String,
      weight: Column): DataFrame =
    doubleImage(df.schema(orderCol).dataType, col(orderCol)) match {
      case Some(img) => quantilePrefixOffsets(df, img, weight)
      case None      => rangePrefixOffsets(df, orderCol, weight)
    }

  /** (input plan semantic hash, order image, nb, weight column); the
    * weight is None for a boundaries-only entry. */
  private type StatsKey = (Int, String, Int, Option[String])

  /** One memo entry: the sorted boundary array of ONE sketch draw (None:
    * the input is empty) and, for a weighted entry, the exact totals of
    * that weight per bucket id (nb longs) under those boundaries, with
    * the fingerprint of the files they were aggregated from. */
  private final case class OrderStats(bnds: Option[IndexedSeq[Double]],
      totals: Option[(Long, IndexedSeq[Long])])

  /** The session memo of order statistics, TotalOrder's only build-path
    * state. The sketch pass is a full input scan, and a `.cache()`d
    * frame does not survive a `clearCache()`, so the VALUES live on the
    * driver (same lifecycle as Dedup's bloom bitmap memo).
    *
    * Boundaries are correctness-neutral: ANY sorted array yields the
    * same output (bucket ids only partition the order; in-plan prefix
    * offsets aggregate from the actually-bucketed totals), so any entry
    * of the same (input, image, nb) serves them, and a stale or
    * colliding draw can only skew bucket balance. Totals are not — a
    * stale total is a silently wrong prefix — so a weighted entry serves
    * only while its fingerprint equals the input's current
    * [[SourceFingerprint]] (a driver-side fold over already-listed
    * files). Weak session keys; bounded by the keys a session touches. */
  private val memo =
    new java.util.WeakHashMap[SparkSession, TrieMap[StatsKey, OrderStats]]()

  private def memoFor(spark: SparkSession): TrieMap[StatsKey, OrderStats] =
    memo.synchronized {
      val existing = memo.get(spark)
      if (existing != null) existing
      else {
        val m = TrieMap.empty[StatsKey, OrderStats]
        memo.put(spark, m)
        m
      }
    }

  /** Drop the session's memoized order statistics. Correctness never
    * needs this (stale boundaries only skew bucket balance; stale totals
    * are refused by fingerprint); [[graft.GraftSession.resetGateState]]
    * calls it per measured gate so timed TotalOrder consumers pay the
    * sketch and totals passes their oracle SQL implies rather than an
    * amortized number. */
  def invalidateBoundaryMemo(spark: SparkSession): Unit =
    memo.synchronized(Option(memo.get(spark)).foreach(_.clear()))

  /** Drop every `graft_ordstats_*` table in the session catalog; nothing
    * in the program writes one. Kept only because the benchmark
    * harness's per-gate reset (`perfbench` `Gates.reset`) calls it: the
    * next change to the benchmark removes that call, and then this def. */
  def dropPersistedStats(spark: SparkSession): Unit =
    try spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_ordstats_")).foreach { name =>
        try spark.sql(s"DROP TABLE IF EXISTS $name")
        catch {
          case NonFatal(e) => log.warn(s"dropPersistedStats($name) failed: $e")
        }
      }
    catch {
      case NonFatal(e) => log.warn(s"dropPersistedStats failed: $e")
    }

  private def statsKey(df: DataFrame, img: Column, nb: Int,
      weightCol: String): StatsKey =
    (df.semanticHash(), img.toString, nb, Some(weightCol))

  /** The boundary array for (df, img, nb): any memo entry of the same
    * input, image and nb, else one approximate-quantile pass (collected
    * and memoized). Every consumer in the session thus reads a single
    * draw — approx-quantile merge order is scheduling-dependent, so two
    * draws could give the totals and the data different buckets. */
  private def boundariesFor(df: DataFrame, img: Column,
      nb: Int): Option[IndexedSeq[Double]] = {
    val m = memoFor(df.sparkSession)
    val (h, i) = (df.semanticHash(), img.toString)
    m.collectFirst { case ((`h`, `i`, `nb`, _), s) => s.bnds }.getOrElse(
      m.getOrElseUpdate((h, i, nb, None), OrderStats(sketch(df, img, nb), None)).bnds)
  }

  /** The nb−1 quantile boundaries of `img` (nulls skipped), None on an
    * empty input: the summary `percentile_approx(img, _, 10000)` keeps,
    * folded as one RDD tree aggregate — a single job, where the Dataset
    * aggregate runs a map stage and a result stage. */
  private def sketch(df: DataFrame, img: Column,
      nb: Int): Option[IndexedSeq[Double]] = {
    val empty = new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, 1.0 / 10000)
    val summary = df.select(img).queryExecution.toRdd.treeAggregate(empty)(
      (q, row) => if (row.isNullAt(0)) q else q.insert(row.getDouble(0)),
      (a, b) => a.compress().merge(b.compress())).compress()
    if (summary.count == 0) None
    else summary.query((1 until nb).map(_.toDouble / nb)).map(_.toIndexedSeq)
  }

  /** The one-row `_bnds` frame for the bucketing cross-join: a local
    * literal of the memoized draw, so the totals branch and the data
    * branch read ONE boundary draw by construction, and the plan shape
    * is the same whether the memo was warm or not. */
  private def boundariesFrame(df: DataFrame, img: Column, nb: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq(boundariesFor(df, img, nb).map(_.toSeq)).toDF("_bnds")
  }

  /** Weighted order statistics: the shared boundary draw plus the exact
    * per-bucket totals, folded per partition into nb longs and summed on
    * the driver (one job, no shuffle). None, logged at DEBUG, when the
    * weight does not sum to BIGINT (float prefix sums are
    * order-sensitive, so literal prefixes could drift from in-plan ones)
    * or the input is empty. */
  private def buildOrderStats(df: DataFrame, img: Column, nb: Int,
      weightCol: String, fp: Long): Option[OrderStats] = {
    if (df.select(sum(col(weightCol))).schema.head.dataType != LongType) {
      log.debug(s"order stats of $weightCol not built: its sum is not " +
        "BIGINT (float prefix sums are order-sensitive)")
      None
    } else boundariesFor(df, img, nb) match {
      case None =>
        log.debug(s"order stats of $weightCol not built: empty input")
        None
      case Some(bnds) =>
        // addExact: an overflowing sum fails, as ANSI sum(BIGINT) does
        val totals = df
          .select(bucketIdForLit(img, bnds), col(weightCol).cast("long"))
          .queryExecution.toRdd.mapPartitions { rows =>
            val t = new Array[Long](nb)
            rows.foreach { r =>
              if (!r.isNullAt(1))
                t(r.getInt(0)) = Math.addExact(t(r.getInt(0)), r.getLong(1))
            }
            Iterator(t)
          }.fold(new Array[Long](nb))((a, b) =>
            a.zip(b).map { case (x, y) => Math.addExact(x, y) })
        Some(OrderStats(Some(bnds), Some((fp, totals.toIndexedSeq))))
    }
  }

  /** The fingerprint-checked (boundaries, per-bucket totals) for
    * (df, img, nb, weightCol): the memo entry while its fingerprint
    * equals the input's current one. None when the input has no
    * fingerprintable file leaf or no current entry exists; never builds,
    * so a cut whose stats were not ensured stays in-plan. */
  private def servedOrderStats(df: DataFrame, img: Column, nb: Int,
      weightCol: String): Option[(IndexedSeq[Double], IndexedSeq[Long])] =
    SourceFingerprint.ofCovered(df).flatMap { fp =>
      memoFor(df.sparkSession).get(statsKey(df, img, nb, weightCol))
        .filter(_.totals.exists(_._1 == fp))
        .collect { case OrderStats(Some(bnds), Some((_, totals))) => (bnds, totals) }
    }

  /** Fill the session memo with the weighted order statistics of
    * `weightCol` over `orderCol` order for `df`: boundaries plus exact
    * per-bucket totals, fingerprinted on the input's files. A later
    * bounded [[globalCumSum]] over the same input then prunes the SCAN to
    * the buckets that can land under its bound and adds prefix offsets
    * as literals: zero aggregates, zero joins, one window exchange over
    * ~⌈bound/bucket⌉ buckets. Served from the memo when a current entry
    * exists, else built (one sketch pass and one totals pass, one job
    * each). Writes nothing.
    * A no-op when the order type has no numeric image; logged at DEBUG
    * when the input has no fingerprintable file leaf (staleness could
    * not be witnessed), the weight does not sum to BIGINT, or the input
    * is empty. */
  def ensureOrderStats(df: DataFrame, orderCol: String,
      weightCol: String): Unit =
    doubleImage(df.schema(orderCol).dataType, col(orderCol)).foreach { img =>
      val nb = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      if (nb > 1 && servedOrderStats(df, img, nb, weightCol).isEmpty)
        SourceFingerprint.ofCovered(df) match {
          case None =>
            log.debug(s"order stats of $weightCol not built: the input " +
              "has no fingerprintable file leaf, staleness could not be " +
              "witnessed")
          case Some(fp) =>
            buildOrderStats(df, img, nb, weightCol, fp).foreach(s =>
              memoFor(df.sparkSession).put(statsKey(df, img, nb, weightCol), s))
        }
    }

  /** Bucket id of `img` against the broadcast `_bnds` array: count of
    * boundaries strictly below the value, as a static binary-search
    * when-tree (log2(nb) codegen'd comparisons per row — an `aggregate`
    * fold over _bnds evaluates its lambda interpreted, measured 2.2x on
    * the per-pass cost at 15M rows). Monotone non-decreasing in the
    * total order, so bucket i < bucket i+1 holds. Upper-bound search is
    * duplicate-safe: at each node, if img > bnds[mid+1] then every
    * boundary at index <= mid+1 is < img (sorted), so the count is
    * >= mid+1; otherwise none above mid is. A null img fails every
    * comparison and descends to bucket 0 — the same place the range
    * path puts null-first keys. Shared by the shared-exchange and
    * bounded-prune bucketing paths (the subtle tie-safety argument must
    * live exactly once). */
  private def bucketIdFor(img: Column, nb: Int): Column = {
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(img > element_at(col("_bnds"), mid + 1), search(mid + 1, hi))
          .otherwise(search(lo, mid))
      }
    search(0, nb - 1)
  }

  /** [[bucketIdFor]] against a driver-resident boundary array (the
    * served-stats path): the same duplicate-safe upper-bound when-tree
    * with the boundary VALUES folded in as literals — no `_bnds` column,
    * no broadcast, pure codegen'd comparisons. Identical bucket function
    * by construction (same search over the same sorted values). */
  private def bucketIdForLit(img: Column, bnds: IndexedSeq[Double]): Column = {
    val nb = bnds.length + 1
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(img > lit(bnds(mid)), search(mid + 1, hi))
          .otherwise(search(lo, mid))
      }
    search(0, nb - 1)
  }

  /** Ordered-numeric path: deterministic quantile-boundary bucketing.
    * The one-row boundary frame is the ONLY materialized state — served
    * from [[memo]] after the session's first sketch pass. */
  private def quantilePrefixOffsets(df: DataFrame, img: Column,
      weight: Column): DataFrame = {
    val spark = df.sparkSession
    val nb = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (nb <= 1)
      // degenerate single bucket: the window itself is the whole order
      return df.withColumn("_pid", lit(0)).withColumn("_prefix", lit(0L))
    // one row, nb-1 doubles — a local literal of the memoized draw, so
    // both branches read ONE boundary draw and repeat consumers pay zero
    // input I/O
    val bnds = boundariesFrame(df, img, nb)
    // One explicit slim exchange on _pid, SHARED by the totals branch and
    // the data branch via ReuseExchange: without it each branch re-runs
    // the full input projection (for the token gates that is a per-doc
    // regex tokenize — measured 0.46 s/pass at 10× bench sf, paid twice).
    // With it the projection evaluates once map-side; the downstream
    // window needs exactly this partitioning, so no second data exchange
    // appears, and the totals aggregation runs in place on the shuffled
    // slim rows.
    val bucketed = df.crossJoin(broadcast(bnds))
      .withColumn("_pid", bucketIdFor(img, nb))
      .drop("_bnds")
      .repartition(col("_pid"))
    val totals = bucketed.groupBy(col("_pid")).agg(sum(weight).as("_ptot"))
    bucketed.join(broadcast(prefixOf(totals)), Seq("_pid"))
  }

  /** Bounded-output variant of [[quantilePrefixOffsets]] for the
    * global-LIMIT case (`out <= bound` downstream, unit weights): with a
    * bound in hand, the shared-exchange shape is the WRONG trade — it
    * ships the whole input through the `_pid` exchange before a filter
    * that then discards all but ~⌈bound/bucket⌉ buckets. Here the
    * totals branch aggregates the UNSHUFFLED frame (map-side partial
    * counts; the exchange carries nb partials per task, not rows), the
    * prefix frame broadcasts back onto a second map-side pass, the
    * bound prunes BEFORE any data exchange, and only surviving-bucket
    * rows are repartitioned for the window. Costs one extra scan of the
    * input projection (the two branches no longer share an exchange) —
    * the right trade exactly when the projection is cheap relative to
    * shuffling the corpus, which unit-weight row numbering is; weighted
    * cum-sums (whose projection is a per-doc tokenize) keep the shared
    * exchange and filter after.
    *
    * PRECONDITION the shared-exchange path does not have: because the
    * two branches scan `df` independently, the input plan must be
    * DETERMINISTIC (no rand()/sample()/unordered limit upstream) — a
    * plan that realizes different rows per scan would count one
    * realization and number another. The same class of requirement as
    * the operator's existing total-order contract on `orderCol`; the
    * unbounded path additionally tolerates non-deterministic inputs
    * only because its branches share one exchange. */
  private def boundedCountPrefixOffsets(df: DataFrame, img: Column,
      bound: Long): DataFrame = {
    val spark = df.sparkSession
    val nb = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (nb <= 1)
      return df.withColumn("_pid", lit(0)).withColumn("_prefix", lit(0L))
    val bnds = boundariesFrame(df, img, nb)
    def bucketed = df.crossJoin(broadcast(bnds))
      .withColumn("_pid", bucketIdFor(img, nb))
      .drop("_bnds")
    val totals = bucketed.groupBy(col("_pid")).agg(count(lit(1)).as("_ptot"))
    bucketed.join(broadcast(prefixOf(totals)), Seq("_pid"))
      .filter(col("_prefix") < bound)
      .repartition(col("_pid"))
  }

  /** Fallback for types without a numeric image: range partitioning with
    * a single cached materialization (see scaladoc for why the cache is a
    * correctness requirement here, not an optimization). */
  private def rangePrefixOffsets(df: DataFrame, orderCol: String,
      weight: Column): DataFrame = {
    val parted = CacheOnce(df.repartitionByRange(col(orderCol))
      .withColumn("_pid", spark_partition_id()))
    val totals = parted.groupBy(col("_pid")).agg(sum(weight).as("_ptot"))
    parted.join(broadcast(prefixOf(totals)), Seq("_pid"))
  }

  /** Prefix sum over a ≤numPartitions-row totals frame: a triangular join
    * on this metadata-sized frame beats a window (which would itself be a
    * single-partition WindowExec and trip the gate-wide plan audit). */
  private def prefixOf(totals: DataFrame): DataFrame =
    totals.as("a")
      .join(totals.as("b"), col("b._pid") < col("a._pid"), "left")
      .groupBy(col("a._pid").as("_pid"))
      .agg(coalesce(sum(col("b._ptot")), lit(0L)).as("_prefix"))

  /** Global `row_number() OVER (ORDER BY orderCol)` as `out` (LongType),
    * identical to the single-partition window on a unique key.
    *
    * NOTE eager materialization: for ordered-numeric order columns, the
    * FIRST call per (input, order) pair in a session runs the boundary
    * sketch scan at plan-BUILD time (a full input pass), even if the
    * returned frame is never executed — the boundary values are memoized
    * driver-side so every consumer reads one sketch draw (see
    * [[memo]]). Later calls build lazily from the memo. */
  def globalRowNumber(df: DataFrame, orderCol: String, out: String): DataFrame =
    globalRowNumber(df, orderCol, out, None)

  /** [[globalRowNumber]] with an optional bucket-pruning upper bound:
    * when the caller will keep only `out <= bound` (a global-order
    * LIMIT), every bucket whose row-count PREFIX is already >= bound
    * can be dropped BEFORE the intra-bucket window — its rows all
    * number past the bound (out = prefix + rn >= prefix + 1). The
    * numbering of surviving rows is untouched (prefixes aggregate from
    * the totals branch over ALL buckets), so this is output-equivalent
    * to filtering after, but the window sorts ~⌈bound/bucket⌉ buckets
    * instead of the whole input — the difference between "number the
    * corpus, keep 100" and "number one bucket". */
  /** Bounds under which the bounded row-number path is served as a
    * TakeOrdered top-k instead of the two-pass prune. TakeOrdered holds
    * up to `bound` rows per task heap and merges ≤ bound rows on the
    * driver — constant-bounded memory for a query-constant bound, the
    * same class as the LIMIT the caller is about to apply anyway. Past
    * this the two-pass prune wins (nothing driver-resident). */
  val TopKLimitMax: Long = 1L << 20

  def globalRowNumber(df: DataFrame, orderCol: String, out: String,
      upperBound: Option[Long]): DataFrame = {
    upperBound.foreach(b => require(b >= 1,
      s"globalRowNumber upper bound must be >= 1, got $b (an empty " +
        "result wants limit(0) at the call site, not a rank bound)"))
    upperBound match {
    case Some(b) if b <= TopKLimitMax =>
      // Rank-with-LIMIT is a top-k: ONE scan with a per-partition heap
      // (TakeOrderedAndProject) instead of the two-pass prune's two
      // scans + totals aggregation + slim exchange — at any corpus size
      // the data never shuffles at all. Works for every orderable type
      // (no numeric image needed). The trailing rank window is
      // unpartitioned but BOUNDED: its input is the ≤ b-row TakeOrdered
      // output — the plan audit admits unpartitioned windows only above
      // a literal global LIMIT, so an unbounded regression still flags.
      // Ranks are exact for 1..min(b, n) (TakeOrdered returns the
      // globally smallest b keys; orderCol is unique per the operator's
      // total-order contract), which is the entire contract: the caller
      // keeps only out <= b.
      df.orderBy(col(orderCol)).limit(b.toInt)
        .withColumn(out,
          row_number().over(Window.orderBy(col(orderCol))).cast("long"))
    case _ =>
      val w = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
      val offsets = upperBound match {
        case Some(b) =>
          doubleImage(df.schema(orderCol).dataType, col(orderCol)) match {
            // numeric order: prune BEFORE any data exchange (see
            // boundedCountPrefixOffsets for the trade)
            case Some(img) => boundedCountPrefixOffsets(df, img, b)
            // range fallback (strings): the ranged frame is cached, so
            // the post-join filter still prunes the window for free
            case None =>
              rangePrefixOffsets(df, orderCol, lit(1L))
                .filter(col("_prefix") < b)
          }
        case None => withPrefixOffsets(df, orderCol, lit(1L))
      }
      offsets
        .withColumn(out, (col("_prefix") + row_number().over(w)).cast("long"))
        .drop("_pid", "_prefix")
  }}

  /** Global running sum of `valueCol` over `orderCol` order as `out`.
    * `inclusive = true` is `ROWS UNBOUNDED PRECEDING AND CURRENT ROW`;
    * `false` is `... AND 1 PRECEDING` (0 for the first row).
    * Same eager-materialization note as [[globalRowNumber]]: the first
    * call per (input, order) pair runs the boundary sketch scan at
    * plan-build time. */
  def globalCumSum(df: DataFrame, orderCol: String, valueCol: String,
      out: String, inclusive: Boolean = true): DataFrame =
    globalCumSum(df, orderCol, valueCol, out, inclusive, None)

  /** [[globalCumSum]] with an optional bucket-pruning upper bound: when
    * the caller will keep only rows with `out <= bound` (the token-budget
    * shard cut), every bucket whose PREFIX offset already exceeds the
    * bound can be dropped BEFORE the intra-bucket window — its rows all
    * have running sums past the bound. Output-equivalent to filtering
    * after, but the window sorts ~one bucket instead of the corpus: the
    * running sum is the prefix (untouched by the prune — it aggregates
    * from the totals branch over ALL buckets) plus an intra-bucket term
    * over the bucket's own rows, also untouched. A timing run
    * measured the unpruned window + downstream materialization as the
    * dominant term of the budget gate at 10× bench sf.
    *
    * PRECONDITION: `valueCol` must be NON-NEGATIVE when `upperBound` is
    * set — the prune reasons "prefix already past the bound ⇒ every
    * later running sum is too", which negative values (signed
    * deltas/adjustments) break by bringing the sum back under the
    * bound. Token/row counts satisfy it; pass None for signed values. */
  def globalCumSum(df: DataFrame, orderCol: String, valueCol: String,
      out: String, inclusive: Boolean, upperBound: Option[Long]): DataFrame = {
    val upper = if (inclusive) 0L else -1L
    val w = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, upper)
    // served-stats fast path (bounded cut over an ordered-numeric key
    // with valid [[ensureOrderStats]] state): prune the SCAN to the
    // buckets whose served prefix can still land under the bound, attach
    // bucket ids and prefix offsets as literals, window the survivors.
    // Output-identical to the in-plan path: the served totals carry the
    // same bucket function over the same boundary draw, and the
    // fingerprint check guarantees they were aggregated from exactly the
    // bytes this plan will scan.
    val served = upperBound.flatMap { b =>
      doubleImage(df.schema(orderCol).dataType, col(orderCol)).flatMap { img =>
        val nb = df.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt
        if (nb <= 1) None
        else servedOrderStats(df, img, nb, valueCol).map {
          case (bnds, totals) =>
            val prefixes = totals.scanLeft(0L)(_ + _).take(nb)
            // kept: every bucket whose PREFIX is within the bound (its
            // first row may still land under it) — same predicate the
            // in-plan path applies post-aggregation
            val lastKept = prefixes.lastIndexWhere(_ <= b)
            val prunedDf =
              if (lastKept >= nb - 1) df // all buckets survive
              else if (lastKept < 0) df.filter(lit(false)) // b < 0: none
              else df.filter(col(orderCol).isNull ||
                img <= lit(bnds(lastKept))) // nulls bucket to 0, always kept
            prunedDf
              .withColumn("_pid", bucketIdForLit(img, bnds))
              .withColumn("_prefix",
                element_at(typedLit(prefixes), col("_pid") + 1))
              .withColumn(out,
                col("_prefix") + coalesce(sum(col(valueCol)).over(w), lit(0L)))
              .drop("_pid", "_prefix")
        }
      }
    }
    served.getOrElse {
      val withOffsets = withPrefixOffsets(df, orderCol, col(valueCol))
      val pruned = upperBound match {
        case Some(b) => withOffsets.filter(col("_prefix") <= b)
        case None    => withOffsets
      }
      pruned
        .withColumn(out,
          col("_prefix") + coalesce(sum(col(valueCol)).over(w), lit(0L)))
        .drop("_pid", "_prefix")
    }
  }
}
