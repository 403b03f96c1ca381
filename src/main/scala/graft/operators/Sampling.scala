package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting / budgeting for a training-data
  * pipeline. Randomized `df.sample` is irreproducible across runs and
  * engines; everything here derives its "randomness" from a content hash,
  * so splits are stable under re-runs, retries, and engine swaps — the
  * property a 100 TB corpus build actually needs (and what makes every op
  * oracle-checkable in SQL).
  *
  * The uniform variate: u(key) = first 15 md5 hex chars of the key as a
  * 60-bit integer, scaled to [0, 1). Pure column algebra — per-row, no
  * shuffle, fully pushdown-friendly.
  */
object Sampling {

  /** 60-bit portable content hash: the first 15 hex chars of md5 as a
    * long — the base hash of the portable MinHash, Bloom and CountMin
    * families, reproducible in any engine with md5. */
  def hash60(key: Column): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast("long")

  /** Deterministic uniform [0,1) variate from a key column. */
  def uniform(key: Column): Column =
    hash60(key).cast("double") / lit((1L << 60).toDouble)

  /** Deterministic global training-order shuffle key: a salted portable
    * content hash to sort by. Reproducible across runs, engines, and
    * cluster sizes (unlike orderBy(rand())), and re-keyable per epoch. At
    * scale, materialize with repartitionByRange(shuffle_key) +
    * sortWithinPartitions — one range-partitioned sort, never a global
    * single-partition window. */
  def shuffleKey(df: DataFrame, keyCol: String, epoch: Int): DataFrame =
    df.withColumn("shuffle_key",
      hash60(concat_ws("|", lit("shuf"), lit(epoch), col(keyCol))))

  /** Leakage-safe train/test split: the split is keyed on CONTENT, so
    * exact duplicates always land on the same side (an id-keyed split
    * leaks dup text across the boundary). Returns df + `split` column. */
  def trainTestSplit(df: DataFrame, keyCol: String, testFraction: Double): DataFrame =
    df.withColumn("split",
      when(uniform(col(keyCol)) < testFraction, "test").otherwise("train"))

  /** Deterministic stratified sampling: per-stratum keep fractions (e.g.
    * up-/down-weighting sources in a data mix). Unlisted strata are
    * dropped. One scan, no shuffle; the keep decision is a pure function
    * of (stratum, key). */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
      fractions: Map[String, Double]): DataFrame = {
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (s, f)) =>
      when(col(stratumCol) === s, lit(f)).otherwise(acc)
    }
    df.filter(uniform(concat(col(stratumCol), lit("|"), col(keyCol))) < frac)
  }

  /** Token-budget shard: rows in `orderCol` order until the running token
    * total exceeds `budget` (the "build a shard of N tokens" primitive).
    * The global running sum runs in [[TotalOrder.globalCumSum]]'s two-pass
    * range-partition + prefix-offset form — never a single-partition
    * window, so the plan survives corpus scale. */
  def tokenBudget(df: DataFrame, orderCol: String, tokenCol: String,
      budget: Long): DataFrame =
    // the budget doubles as TotalOrder's bucket-pruning bound: buckets
    // whose prefix offset already exceeds it can't contribute kept rows
    TotalOrder.globalCumSum(df, orderCol, tokenCol, "cum_tokens",
        inclusive = true, upperBound = Some(budget))
      .filter(col("cum_tokens") <= budget)

  /** Shard the WHOLE corpus into consecutive ~`budget`-token chunks (the
    * generalization of [[tokenBudget]] from "first shard" to "all
    * shards"): shard_id = floor of the preceding-rows token total over the
    * budget, so a shard never starts past the boundary and every doc gets
    * exactly one shard. Deterministic given the total order; same
    * scale-safe [[TotalOrder]] dataflow as [[tokenBudget]]. */
  def tokenShards(df: DataFrame, orderCol: String, tokenCol: String,
      budget: Long): DataFrame =
    TotalOrder.globalCumSum(df, orderCol, tokenCol, "cum_prev", inclusive = false)
      .withColumn("shard_id", floor(col("cum_prev") / budget))
      .drop("cum_prev")

  /** Deterministic weighted source interleaving — the "data mixing"
    * primitive (e.g. 50% web / 25% code / 25% books): the k-th document
    * of source s takes global position k / weight(s), so sorting by
    * `interleave_pos` yields a stable round-robin-by-weight order in
    * which each source appears at a rate proportional to its weight.
    * Sources absent from `weights` are dropped. One partitioned window
    * (rank within source) — linear, no global window; ties across
    * sources break on the caller's sort (pos, key). Weights MUST be
    * positive powers of two (1/2, 1/4, 2, ...): only then is every
    * position k/weight exact in binary, keeping the op bit-reproducible
    * across engines — any other weight (say 1/3) would float-round the
    * interleave order silently, so it fails fast instead (same contract
    * style as [[packSequences]]'s integral-key guard). */
  def interleaveBySource(df: DataFrame, sourceCol: String, keyCol: String,
      weights: Map[String, Double]): DataFrame = {
    weights.foreach { case (s, wt) =>
      require(wt > 0 && !wt.isInfinity &&
        (java.lang.Double.doubleToLongBits(wt) & 0x000fffffffffffffL) == 0L,
        s"interleaveBySource weight for source '$s' must be a positive " +
          s"power of two (got $wt): positions are k/weight, exact in " +
          "binary only for power-of-two weights")
    }
    val w = weights.foldLeft(lit(0.0)) { case (acc, (s, wt)) =>
      when(col(sourceCol) === s, lit(wt)).otherwise(acc)
    }
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col(keyCol))
    // no rounding: k/w is exact for power-of-two w (guarded above), and
    // a round-to-decimals would re-break exactness past 2^6
    df.filter(w > 0)
      .withColumn("interleave_pos", (row_number().over(win) / w) + lit(0.0))
  }

  /** Budget-constrained source mixture — the "mix sources to target token
    * proportions" primitive (e.g. 50% web / 25% code / 25% books of a
    * 10 B-token run): source s is allotted floor(totalBudget·w_s/Σw)
    * tokens and fills it with its own docs in salted-portable-hash order
    * (a reproducible uniform sample of the source, same family as
    * [[shuffleKey]]) — docs whose inclusive running token total fits the
    * allotment are kept, prefix semantics exactly like [[tokenBudget]].
    * Composes the two existing primitives ([[stratifiedSample]] mixes by
    * ROW fraction, [[tokenBudget]] caps GLOBAL tokens); training mixes
    * are specified in tokens per source, which is this op. Sources
    * absent from `weights` are dropped ([[interleaveBySource]]'s
    * contract). Allotments are computed driver-side in exact integer
    * arithmetic and emitted as literals, so any engine replays the
    * decision. One window partitioned by source — linear, no global
    * window; a source holding most of the corpus concentrates its
    * partition (if that bites, pre-aggregate per (source, hash-bucket)
    * prefix sums the way [[TotalOrder.globalCumSum]] does globally). */
  def sourceMixture(df: DataFrame, sourceCol: String, keyCol: String,
      tokenCol: String, totalBudget: Long,
      weights: Map[String, Double]): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive (got $totalBudget)")
    require(weights.nonEmpty, "sourceMixture needs at least one source weight")
    weights.foreach { case (s, wt) =>
      require(wt > 0 && !wt.isInfinity && !wt.isNaN,
        s"sourceMixture weight for source '$s' must be positive finite (got $wt)")
    }
    val wsum = weights.values.sum
    val allot = weights.foldLeft(lit(null).cast("long")) { case (acc, (s, wt)) =>
      when(col(sourceCol) === s,
        lit(math.floor(totalBudget * wt / wsum).toLong)).otherwise(acc)
    }
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(hash60(concat(lit("mix|"), col(keyCol).cast("string"))),
        col(keyCol))
    df.withColumn("_allot", allot)
      .filter(col("_allot").isNotNull)
      .withColumn("cum_tokens", sum(col(tokenCol).cast("long")).over(win))
      .filter(col("cum_tokens") <= col("_allot"))
      .drop("_allot")
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES, IPL 2006): each row draws u = [[uniform]](key) and
    * competes with sample key u^(1/w) — the top-k by key is a weighted
    * random sample without replacement, inclusion probability
    * proportional to weight. The hash-derived u makes the draw
    * reproducible across runs, engines, and cluster sizes (the property
    * `df.sample` lacks), which is what a training-mix needs for
    * re-runnable corpus builds. Selection is a top-k
    * (TakeOrderedAndProject) over one scan — never a global sort or a
    * single-partition window; rows with weight <= 0 are excluded,
    * matching the estimator's domain. Returns the k sampled rows
    * (set semantics — re-sort by any key downstream). */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
      k: Int): DataFrame =
    df.withColumn("_w", weight.cast("double"))
      .filter(col("_w") > 0)
      .withColumn("_sk", pow(uniform(col(keyCol)), lit(1.0) / col("_w")))
      .orderBy(col("_sk").desc, col(keyCol))
      .limit(k)
      .drop("_w", "_sk")

  /** Temperature-flattened stratum sampling — the multilingual mixing
    * rule from the mBERT/XLM line of work: a stratum (language, source)
    * holding share p of the corpus is sampled proportionally to p^alpha,
    * flattening the head and boosting the tail (alpha = 1 reproduces the
    * natural mix; alpha → 0 approaches uniform-over-strata). Keep-rate
    * per stratum: r = min(1, targetFraction · N · w / n) with
    * w = n^alpha / Σ n^alpha, so the expected sample size is
    * targetFraction · N (up to rate clipping at 1). The keep decision is
    * the same deterministic content-hash Bernoulli as
    * [[stratifiedSample]] — reproducible across runs and engines.
    *
    * Scale shape: the rate table is one row per stratum (an aggregate of
    * the stratum column only, column-pruned at the scan) broadcast back
    * onto the corpus — no collect, no driver loop, and the filter pass
    * never shuffles. Two scans total; the first reads a single column. */
  def temperatureSample(df: DataFrame, stratumCol: String, keyCol: String,
      alpha: Double, targetFraction: Double): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction must be in (0, 1], got $targetFraction")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_l"))
    val totals = counts.agg(sum(col("n_l")).as("n_total"),
      sum(pow(col("n_l").cast("double"), lit(alpha))).as("z"))
    val rates = counts.crossJoin(broadcast(totals)) // 1 row — scalar-subquery pattern
      .select(col(stratumCol),
        least(lit(1.0),
          lit(targetFraction) * col("n_total").cast("double")
            * pow(col("n_l").cast("double"), lit(alpha)) / col("z")
            / col("n_l").cast("double")).as("keep_rate"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(uniform(concat(col(stratumCol), lit("|"), col(keyCol)))
        < col("keep_rate"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much its hashed-n-gram profile looks drawn from a target subset
    * rather than from the raw corpus — the published recipe for "select
    * web docs that look like the curated domain". Features are unigram +
    * bigram OCCURRENCES (a bag-of-features model, not a distinct set)
    * hashed into a fixed `buckets`-cell space; both feature distributions
    * are Laplace(+1)-smoothed bucket marginals, and a doc's weight is the
    * sum over its gram occurrences of the per-bucket log-likelihood ratio
    * log p_target(b) − log p_raw(b).
    *
    * Scale shape: estimate-then-score, two corpus SCANS and zero corpus
    * shuffles. Pass 1 aggregates the gram stream straight into the
    * ≤ buckets-row marginals (partial aggregation collapses to the
    * bucket grid per upstream task); the totals are a one-row scalar
    * cross-join (the [[temperatureSample]] pattern). Pass 2 broadcasts
    * the ratio table onto the gram stream and partial-sums per document
    * map-side, so the only exchange anywhere carries ≤ one row per doc.
    * Bounded state everywhere: the bucket space caps the model at
    * `buckets` cells no matter the vocabulary, which is the point of
    * hashed DSIR at corpus scale. Deterministic: the md5 bucket hash
    * makes weights reproducible across runs and engines, so the whole
    * scorer replays in SQL.
    *
    * Returns (doc_id, is_tgt, dsir_weight) for every doc with ≥1 token;
    * rank non-target rows by weight descending to select. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    graft.functions.GraftFunctions.register(df.sparkSession)
    // fused kernel: one md5 pass per doc over the token bytes — no gram
    // strings, no hex round-trip (measured ~8 s/pass composed vs ~1 s
    // fused at 10× bench sf, and this stream is scanned twice below)
    val grams = df
      .select(col(idCol).as("doc_id"), isTarget.as("is_tgt"),
        TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("is_tgt"),
        explode(graft.functions.GraftFunctions.gramBuckets(
          col("toks"), buckets)).as("b"))
    // Model build: ONE bounded aggregate straight off the gram stream —
    // partial aggregation collapses to ≤ buckets rows per upstream task,
    // so the exchange carries O(buckets × tasks) rows, never the corpus.
    // (The r11 shape first aggregated per-(doc, bucket) counts — a
    // corpus-scale shuffle of ~#grams rows paid TWICE, once into the
    // marginals and once into the per-doc weights; measured 20.2 s at
    // 10× bench sf against 4.6 s for this two-scan shape.)
    val marg = grams.groupBy("b").agg(
      count(lit(1)).as("raw_n"),
      sum(when(col("is_tgt"), lit(1L)).otherwise(lit(0L))).as("tgt_n"))
    val tot = marg.agg(sum(col("raw_n")).as("raw_tot"),
      sum(col("tgt_n")).as("tgt_tot"))
    val lam = marg.crossJoin(broadcast(tot)) // 1 row — scalar-subquery pattern
      .select(col("b"),
        (log((col("tgt_n") + lit(1)).cast("double")
            / (col("tgt_tot") + lit(buckets)).cast("double"))
          - log((col("raw_n") + lit(1)).cast("double")
            / (col("raw_tot") + lit(buckets)).cast("double"))).as("lam"))
    // Rescore: broadcast the ≤ buckets-row model onto a second pass of
    // the gram stream; the per-doc partial sum collapses map-side to one
    // row per document, so the only remaining exchange is ≤ 1 row/doc.
    // Two corpus SCANS and zero corpus shuffles — the DSIR paper's own
    // estimate-then-score shape, and scans parallelize where shuffles
    // serialize through disk at 100 TB.
    grams.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"), col("is_tgt"))
      .agg(sum(col("lam")).as("dsir_weight"))
  }

  /** Greedy sequence packing — the "pack documents into ≤ maxLen-token
    * training sequences" primitive. Docs are taken in `orderCol` order; a
    * doc joins the current sequence unless it would push the token total
    * past `maxLen`, in which case it starts the next one (a doc longer
    * than maxLen therefore occupies a sequence alone). Returns
    * (orderCol, shard_id, seq_idx) with seq_idx counted within the shard.
    *
    * Greedy packing is inherently sequential (each decision depends on
    * the running total after all previous decisions), so the scale shape
    * is hierarchical: [[tokenShards]] first cuts the corpus into
    * ~`shardTokens`-token shards (two-pass range-partition form, never a
    * global window), then each shard packs independently with bounded
    * per-group state — sequences never cross a shard boundary, the
    * standard parallelism/packing-quality trade of distributed packing
    * (at most one under-filled sequence per shard). The per-group sort
    * buffers one shard (~shardTokens tokens) — bounded by construction,
    * which is what makes the flatMapGroups admissible. Deterministic:
    * pure function of (orderCol order, token counts), replayed exactly by
    * a recursive-CTE oracle. */
  def packSequences(df: DataFrame, orderCol: String, tokenCol: String,
      maxLen: Long, shardTokens: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the typed (Long, Long, Long) row encoding below casts both columns
    // to long; a non-integral key (e.g. a string id) would cast to null
    // and silently corrupt shard sort order — fail fast instead
    def requireIntegral(c: String): Unit = df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"packSequences requires an integral column '$c', got $other " +
          "(hash non-integral keys first, e.g. Sampling.hash60)")
    }
    requireIntegral(orderCol)
    requireIntegral(tokenCol)
    val sharded = tokenShards(df, orderCol, tokenCol, shardTokens)
      .select(col(orderCol).cast("long"), col(tokenCol).cast("long"),
        col("shard_id"))
      .as[(Long, Long, Long)]
    sharded.groupByKey(_._3)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
        val rows = it.toArray.sortBy(_._1)
        var seq = 0L
        var cum = 0L
        rows.iterator.map { case (k, n, _) =>
          if (cum > 0 && cum + n > maxLen) { seq += 1; cum = 0L }
          cum += n
          (k, shard, seq)
        }
      }
      .toDF(orderCol, "shard_id", "seq_idx")
  }
}
