package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{GQuery, Tables}
import graft.operators.{Sampling, TextOps}

/** Deterministic sampling / splitting / budgeting through the driver gate.
  * Every op derives its "randomness" from a 60-bit md5 content hash
  * ([[Sampling.uniform]]), so DuckDB replays each decision exactly —
  * full hash-checked oracles for what `df.sample` could only rows-check. */
object SamplingQueries {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables(s, dir, n)

  /** 2^60 as a double literal, the uniform-variate denominator. */
  private val denom = "1152921504606846976.0"

  private def uniformSql(keyExpr: String): String =
    s"(('0x' || substring(md5($keyExpr), 1, 15))::BIGINT / $denom)"

  val defs: Seq[GQuery] = Seq(

    // ---- Leakage-safe train/test split: keyed on CONTENT so exact
    // duplicate docs always land on the same side (an id-keyed split
    // would leak duplicated text across the boundary).
    GQuery(
      "smp_train_test",
      s"""SELECT doc_id,
         |  CASE WHEN ${uniformSql("text")} < 0.2
         |       THEN 'test' ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.trainTestSplit(t(s, dir, "documents"), "text", 0.2)
        .select("doc_id", "split")
        .orderBy("doc_id")
    },

    // ---- Deterministic global training-order shuffle: salted portable
    // hash as the sort key — reproducible across runs/engines/cluster
    // sizes, re-keyable per epoch (epoch 0 here).
    GQuery(
      "smp_shuffle",
      """SELECT doc_id,
        |  ('0x' || substring(md5('shuf|0|' || doc_id), 1, 15))::BIGINT
        |    AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key, doc_id""".stripMargin) { (s, dir) =>
      Sampling.shuffleKey(t(s, dir, "documents"), "doc_id", epoch = 0)
        .select("doc_id", "shuffle_key")
        .orderBy("shuffle_key", "doc_id")
    },

    // ---- Deterministic stratified sampling (source mixing): per-language
    // keep fractions, decision a pure function of (stratum, key).
    GQuery(
      "smp_stratified",
      s"""SELECT doc_id, lang
         |FROM documents
         |WHERE ${uniformSql("lang || '|' || doc_id")} <
         |  CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
         |            WHEN 'fr' THEN 0.25 ELSE 0.0 END
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ---- Temperature-flattened language mix (the mBERT/XLM p^alpha
    // rule): per-language keep-rates derived in-plan from the language
    // histogram (alpha 0.5, target 30% of the corpus), head language
    // down-sampled, tail boosted. The oracle rebuilds the same rate
    // table from the same counts and replays the hash Bernoulli.
    GQuery(
      "smp_temperature",
      s"""WITH c AS (
         |  SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
         |tot AS (
         |  SELECT sum(n_l) AS n_total, sum(pow(n_l, 0.5)) AS z FROM c),
         |r AS (
         |  SELECT lang,
         |    least(1.0, 0.3 * n_total * pow(n_l, 0.5) / z / n_l)
         |      AS keep_rate
         |  FROM c, tot)
         |SELECT d.doc_id, d.lang, round(r.keep_rate, 4) AS keep_rate
         |FROM documents d JOIN r USING (lang)
         |WHERE ${uniformSql("d.lang || '|' || d.doc_id")} < r.keep_rate
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, targetFraction = 0.3)
        .select(col("doc_id"), col("lang"),
          round(col("keep_rate"), 4).as("keep_rate"))
        .orderBy("doc_id")
    },

    // ---- Token-budget shard: docs in id order until the running token
    // total passes the budget (the "build a shard of N tokens" primitive).
    GQuery(
      "smp_token_budget",
      """SELECT doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens FROM (
        |  SELECT doc_id,
        |    sum(len(string_split_regex(trim(text), '\s+')))
        |      OVER (ORDER BY doc_id) AS cum_tokens
        |  FROM documents) b
        |WHERE cum_tokens <= 5000
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the narrow (id, n_toks) frame is cached (r16): a cold run —
      // production first call, and every bench-timed run under the
      // pay-the-build posture — otherwise tokenizes the corpus once for
      // the boundary sketch and again for the per-bucket totals; the
      // cache holds two longs per doc, never the text
      val base = graft.operators.CacheOnce(t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_toks")))
      // build the order STATS (boundaries + per-bucket token totals,
      // fingerprinted on the corpus files) into the session memo; writes
      // nothing. The cut then prunes the SCAN to the buckets that can
      // land under the budget and adds prefix offsets as literals: no
      // totals aggregation in its plan, one window exchange over ~1
      // bucket. A data rewrite flips the fingerprint and the next ensure
      // rebuilds.
      graft.operators.TotalOrder.ensureOrderStats(base, "doc_id", "n_toks")
      Sampling.tokenBudget(base, "doc_id", "n_toks", budget = 5000L)
        .select("doc_id", "cum_tokens")
        .orderBy("doc_id")
    },

    // ---- Token-budget shard in SUBWORD tokens: the budget primitive
    // real pretraining runs use — a shard of N TOKENIZER tokens, not N
    // whitespace words (fertility makes the two budgets diverge per-doc,
    // so the kept set genuinely differs from smp_token_budget's). Per-doc
    // counts come from the native greedy longest-match kernel
    // (SubwordTokenize — the same piece stream txt_subword_fertility
    // md5-certifies); the budget cut is the same scale-safe TotalOrder
    // cum-sum. The oracle replays segmentation with the recursive CTE
    // and the cut with a window. Pure per-row counting + the budget's
    // bucket-pruned window — no new shuffle vs the whitespace gate.
    GQuery(
      "smp_token_budget_subword",
      TextDedup.subwordBudgetOracle(TextOps.demoSubwordVocab,
        budget = 12000L)) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      // count-only kernel: one call per doc, no piece materialization —
      // equal by construction to summing subwordTokenize piece counts
      // (spec-pinned in SubwordTokenizeSpec)
      val nSub = graft.functions.GraftFunctions.subwordCount(
        TextOps.tokens(col("text")), TextOps.demoSubwordVocab)
      // cached for the same cold-run reason as smp_token_budget — and
      // the subword count kernel is the most expensive per-doc term in
      // the family, so re-running it per TotalOrder branch costs most
      val base = graft.operators.CacheOnce(t(s, dir, "documents")
        .select(col("doc_id"), nSub.as("n_toks")))
      // build the order stats into the session memo, as the whitespace
      // budget gate does (the per-bucket totals here are SUBWORD totals:
      // the memo key carries the weight column, and the base plan's
      // semantic hash differs, so the two gates' entries never collide)
      graft.operators.TotalOrder.ensureOrderStats(base, "doc_id", "n_toks")
      Sampling.tokenBudget(base, "doc_id", "n_toks", budget = 12000L)
        .select("doc_id", "cum_tokens")
        .orderBy("doc_id")
    },

    // ---- Full-corpus sharding into consecutive ~5k-token chunks: every
    // doc gets exactly one shard id (floor of preceding token total /
    // budget) — the "cut the corpus into training shards" primitive.
    GQuery(
      "smp_token_shards",
      """SELECT doc_id,
        |  CAST(floor(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 5000) AS BIGINT) AS shard_id
        |FROM (
        |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
        |  FROM documents) d
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = graft.operators.CacheOnce(t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_toks")))
      // same base plan as smp_token_budget → the same memoized boundary
      // draw when both run in one session (and the CacheOnce hits the
      // same cache entry)
      Sampling.tokenShards(base, "doc_id", "n_toks", budget = 5000L)
        .select("doc_id", "shard_id")
        .orderBy("doc_id")
    },

    // ---- Deterministic weighted source interleaving (data mixing): the
    // k-th doc of source s lands at position k/weight(s); sorting by the
    // position round-robins sources proportionally to their weights.
    // Power-of-two weights keep every position exact in binary, so the
    // double compares bit-identically across engines.
    GQuery(
      "smp_interleave",
      """SELECT doc_id, lang,
        |  (row_number() OVER (PARTITION BY lang ORDER BY doc_id))
        |    / CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
        |                WHEN 'fr' THEN 0.25 END + 0.0 AS interleave_pos
        |FROM documents
        |WHERE lang IN ('en', 'de', 'fr')
        |ORDER BY interleave_pos, doc_id""".stripMargin) { (s, dir) =>
      Sampling.interleaveBySource(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25))
        .select("doc_id", "lang", "interleave_pos")
        .orderBy("interleave_pos", "doc_id")
    },

    // ---- Budget-constrained source mixture: each source gets its
    // weight's share of a 2000-token budget (src0 1000 / src1 500 /
    // src2 500 — exact driver-side integers), filled by that source's
    // docs in salted-hash order. The decision — hash order, running sum,
    // allotment compare — is a pure function of the data, so DuckDB
    // replays every kept doc and running total exactly.
    GQuery(
      "smp_source_mixture",
      """SELECT doc_id, source, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM (
        |  SELECT doc_id, source,
        |    sum(len(string_split_regex(trim(text), '\s+'))) OVER (
        |      PARTITION BY source
        |      ORDER BY ('0x' || substring(md5('mix|' || doc_id), 1, 15))::BIGINT,
        |               doc_id) AS cum_tokens
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')) x
        |WHERE cum_tokens <= CASE source WHEN 'src0' THEN 1000
        |                                WHEN 'src1' THEN 500
        |                                WHEN 'src2' THEN 500 END
        |ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
      Sampling.sourceMixture(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              TextOps.tokenCount(col("text")).as("n_toks")),
          "source", "doc_id", "n_toks", totalBudget = 2000L,
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .select("doc_id", "source", "cum_tokens")
        .orderBy("source", "doc_id")
    },

    // ---- Greedy sequence packing: docs in id order packed into
    // <= 512-token training sequences, never splitting a doc and never
    // letting one straddle the limit (long docs sit alone). Sequential by
    // nature, so the engine shards first (5000-token shards, scale-safe
    // TotalOrder form) and packs within shards; the oracle replays the
    // same greedy recurrence with a recursive CTE.
    GQuery(
      "smp_pack_sequences",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, n,
        |    CAST(floor(coalesce(sum(n) OVER (ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      / 5000) AS BIGINT) AS shard_id
        |  FROM toks),
        |r AS MATERIALIZED (
        |  SELECT doc_id, n, shard_id,
        |    row_number() OVER (PARTITION BY shard_id ORDER BY doc_id) AS rn
        |  FROM sh),
        |pack AS (
        |  SELECT doc_id, shard_id, rn, n,
        |    CAST(0 AS BIGINT) AS seq_idx, n AS cum
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.doc_id, r.shard_id, r.rn, r.n,
        |    CASE WHEN pack.cum + r.n > 512
        |         THEN pack.seq_idx + 1 ELSE pack.seq_idx END,
        |    CASE WHEN pack.cum + r.n > 512
        |         THEN r.n ELSE pack.cum + r.n END
        |  FROM r JOIN pack
        |    ON r.shard_id = pack.shard_id AND r.rn = pack.rn + 1)
        |SELECT doc_id, shard_id, seq_idx
        |FROM pack
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.packSequences(
          t(s, dir, "documents")
            .select(col("doc_id"),
              TextOps.tokenCount(col("text")).as("n_toks")),
          "doc_id", "n_toks", maxLen = 512L, shardTokens = 5000L)
        .orderBy("doc_id")
    },

    // ---- Deterministic weighted sampling WITHOUT replacement
    // (Efraimidis–Spirakis A-ES): top-50 by u^(1/w) with u a salted
    // content hash — inclusion probability proportional to weight
    // (length here), reproducible across runs/engines/cluster sizes.
    // The oracle replays the draw and the top-k; output is the sampled
    // SET (id order), so the check pins exactly which docs were drawn.
    GQuery(
      "smp_weighted_sample",
      s"""WITH wdoc AS (
         |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
         |    ${uniformSql("'ws|' || doc_id")} AS u
         |  FROM documents),
         |top AS (
         |  SELECT doc_id, w FROM wdoc
         |  WHERE w > 0
         |  ORDER BY pow(u, 1.0 / w) DESC, 'ws|' || doc_id
         |  LIMIT 50)
         |SELECT doc_id, CAST(w AS BIGINT) AS weight
         |FROM top ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("skey", concat(lit("ws|"), col("doc_id")))
      Sampling.weightedSample(docs, "skey", length(col("text")), 50)
        .select(col("doc_id"), length(col("text")).cast("long").as("weight"))
        .orderBy("doc_id")
    },

    // ---- DSIR importance scoring (Xie et al. 2023): rank non-target
    // docs by how src0-like their hashed unigram+bigram profile is —
    // the published "select raw docs resembling the curated domain"
    // recipe. The md5 bucket hash and Laplace-smoothed log-ratio replay
    // exactly in SQL; ranking uses the ROUNDED weight with a doc_id
    // tiebreak so the top-k cut is engine-stable.
    GQuery(
      "smp_dsir",
      """WITH toks AS (
        |  SELECT doc_id, source = 'src0' AS is_tgt,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 1),
        |grams AS (
        |  SELECT doc_id, is_tgt, unnest(t) AS w FROM toks
        |  UNION ALL
        |  SELECT doc_id, is_tgt, t[i] || ' ' || t[i+1] AS w
        |  FROM (SELECT doc_id, is_tgt, t,
        |          unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks WHERE len(t) >= 2) x),
        |gb AS (
        |  SELECT doc_id, is_tgt,
        |    ('0x' || substring(md5(w), 1, 15))::BIGINT % 256 AS b
        |  FROM grams),
        |marg AS (
        |  SELECT b, count(*) AS raw_n,
        |    sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_n
        |  FROM gb GROUP BY b),
        |tot AS (SELECT sum(raw_n) AS raw_tot, sum(tgt_n) AS tgt_tot FROM marg),
        |lam AS (
        |  SELECT b,
        |    ln((tgt_n + 1) / (tgt_tot + 256.0))
        |      - ln((raw_n + 1) / (raw_tot + 256.0)) AS lam
        |  FROM marg, tot)
        |SELECT doc_id, round(sum(lam), 4) AS dsir_w
        |FROM gb JOIN lam USING (b)
        |WHERE NOT is_tgt
        |GROUP BY doc_id
        |ORDER BY dsir_w DESC, doc_id
        |LIMIT 50""".stripMargin) { (s, dir) =>
      Sampling.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
          col("source") === "src0", buckets = 256)
        .filter(!col("is_tgt"))
        .select(col("doc_id"), round(col("dsir_weight"), 4).as("dsir_w"))
        .orderBy(col("dsir_w").desc, col("doc_id"))
        .limit(50)
    }
  )
}
