package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{GQuery, Tables}
import graft.operators.{Dedup, TextOps}

/** Text-analysis + dedup capabilities over the `documents` table, exposed
  * through the driver gate. SQL-expressible ops carry DuckDB oracles
  * (token stats, quality, fingerprints, exact dedup, all-pairs Jaccard);
  * the sketch-based scale paths (MinHash-LSH, SimHash) are rows-only and
  * cross-verified against the exact variants in OperatorsSpec. */
object TextDedup {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables(s, dir, n)

  private val stopwords = Seq("the", "a")

  val defs: Seq[GQuery] = Seq(

    // ---- Token counting + quality scoring (length/stopword/punct ratios).
    GQuery(
      "txt_quality",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  round((CAST(length(text) AS DOUBLE)
        |    - (len(string_split_regex(trim(text), '\s+')) - 1))
        |    / len(string_split_regex(trim(text), '\s+')), 4) AS avg_token_len,
        |  round(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      tok -> tok IN ('the', 'a'))) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')), 4) AS stopword_ratio,
        |  round((CAST(length(text) AS DOUBLE)
        |    - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
        |    / CAST(length(text) AS DOUBLE), 4) AS punct_ratio
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(Seq(col("doc_id")) ++
          TextOps.qualityColumns(col("text"), stopwords): _*)
        .orderBy("doc_id")
    },

    // ---- Gopher quality rules (Rae et al. 2021 §A1.1): the published
    // pretraining document filter — per-rule metrics + the pass
    // conjunction. The required-stopword list is the corpus-appropriate
    // ('the', 'a') (the synthetic vocabulary contains no other Gopher
    // stopword — measured: the paper's own list passes 0 of 500 docs);
    // the operator defaults to the paper's list. Both pass branches
    // carry data at every sf (277/500 clear the 50-word floor at sf0.01).
    GQuery(
      "txt_gopher_rules",
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |      / len(toks) AS mwl,
        |    CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
        |      / len(toks) AS hsh,
        |    (CAST((length(text) - length(replace(text, '...', ''))) // 3
        |        AS DOUBLE)
        |      + (length(text) - length(replace(text, '…', ''))))
        |      / len(toks) AS ell_sym,
        |    CAST(len(list_filter(lines,
        |        l -> substring(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
        |      / len(lines) AS bul,
        |    CAST(len(list_filter(lines,
        |        l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
        |      AS DOUBLE) / len(lines) AS ell,
        |    CAST(len(list_filter(toks,
        |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |      / len(toks) AS alpha,
        |    CAST(len(list_filter(['the', 'a'],
        |        w -> list_contains(toks, w))) AS BIGINT) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words,
        |  round(mwl, 4) AS mean_word_len,
        |  round(hsh, 4) AS hash_ratio,
        |  round(ell_sym, 4) AS ellipsis_ratio,
        |  round(bul, 4) AS bullet_line_ratio,
        |  round(ell, 4) AS ellipsis_line_ratio,
        |  round(alpha, 4) AS alpha_word_ratio,
        |  n_stopwords,
        |  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND hsh <= 0.1 AND ell_sym <= 0.1
        |    AND bul <= 0.9 AND ell <= 0.3 AND alpha >= 0.8
        |    AND n_stopwords >= 2) AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(Seq(col("doc_id")) ++
          TextOps.gopherColumns(col("text"), Seq("the", "a")): _*)
        .orderBy("doc_id")
    },

    // ---- Document fingerprinting: content md5 (cross-engine stable).
    GQuery(
      "txt_fingerprint",
      """SELECT doc_id, md5(text) AS content_md5,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("content_md5"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- Language profile aggregation over the labeled lang column.
    GQuery(
      "txt_lang_profile",
      """SELECT lang, count(*) AS n_docs,
        |  round(avg(n_chars), 2) AS avg_chars,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          min(col("doc_id")).cast("long").as("first_doc"))
        .orderBy("lang")
    },

    // ---- Heuristic n-gram/stopword language ID + BPE-ish token count +
    // rolling hash. The oracle rebuilds the per-language scores as CASE
    // argmax (alphabetical-first tie-break = the fold order in
    // TextOps.langId), the bpe-ish count as alnum-runs + non-alnum chars
    // (equivalent to the lookaround split, which RE2 can't express), and
    // the rolling hash via list_reduce (same fold: acc*P+c mod M).
    GQuery(
      "txt_langid",
      """WITH scored AS (
        |  SELECT doc_id, lang AS labeled_lang, text,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('der','die','das','und','ist','ein'))) AS DOUBLE) AS s_de,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS s_en,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('el','la','los','y','es','un'))) AS DOUBLE) AS s_es,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('le','la','les','et','est','un'))) AS DOUBLE) AS s_fr,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('的','是','了','在','和'))) AS DOUBLE) AS s_zh
        |  FROM documents)
        |SELECT doc_id, labeled_lang,
        |  CASE
        |    WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) AND s_de > 0 THEN 'de'
        |    WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) AND s_en > 0 THEN 'en'
        |    WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) AND s_es > 0 THEN 'es'
        |    WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) AND s_fr > 0 THEN 'fr'
        |    WHEN s_zh = greatest(s_de,s_en,s_es,s_fr,s_zh) AND s_zh > 0 THEN 'zh'
        |    ELSE 'und' END AS predicted_lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
        |    + (length(text) - length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')))
        |    AS BIGINT) AS n_bpeish_tokens,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE
        |    list_reduce(list_transform(string_split(text, ''),
        |      ch -> CAST(ascii(ch) AS BIGINT)),
        |      (acc, c) -> (acc * 1000003 + c) % 1000000007) END AS rolling_hash
        |FROM scored ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TextOps.langId(col("text")).as("predicted_lang"),
          TextOps.bpeishTokenCount(col("text")).as("n_bpeish_tokens"),
          TextOps.rollingHash(col("text")).as("rolling_hash"))
        .orderBy("doc_id")
    },

    // ---- Canonical normalization (lower/trim/collapse-whitespace) — the
    // pre-dedup cleanup stage; md5 of the result pins every byte.
    GQuery(
      "txt_normalize",
      """SELECT doc_id,
        |  regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm_text,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS norm_md5
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.normalize(col("text")).as("norm_text"),
          md5(TextOps.normalize(col("text"))).as("norm_md5"))
        .orderBy("doc_id")
    },

    // ---- PII redaction (emails, long digit runs) over text with
    // synthesized PII appended so matches exist at every sf. RE2-safe
    // patterns behave identically in Spark (Java regex) and DuckDB (RE2).
    GQuery(
      "txt_redact",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || doc_id || '@example.com ref 1234567890',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.redact(concat(col("text"), lit(" contact user"),
            col("doc_id"), lit("@example.com ref 1234567890"))).as("redacted"))
        .orderBy("doc_id")
    },

    // ---- Vocabulary extraction: top-50 bigrams by document frequency
    // (the n-gram vocab-building primitive; one explode + one groupBy).
    GQuery(
      "txt_vocab_bigrams",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |w AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS w
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks) x)
        |SELECT w AS ngram, count(*) AS df
        |FROM w GROUP BY w
        |ORDER BY df DESC, ngram LIMIT 50""".stripMargin) { (s, dir) =>
      Dedup.shingleSet(t(s, dir, "documents"), "doc_id", "text", 2)
        .groupBy(col("w").as("ngram"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram"))
        .limit(50)
    },

    // ---- Count-Min frequency sketch (Cormode/Muthukrishnan): token
    // counts into a FIXED 4×256 cell grid — the bounded-key alternative
    // to the exact distinct-token groupBy at corpus scale. Output pairs
    // each probe term's exact count with its sketch estimate, so the
    // hash certifies cells AND the overcount-only estimate contract; the
    // 'zzz_absent' probe pins behavior on a never-seen key. Same
    // md5+Carter–Wegman portable family as portable MinHash.
    GQuery(
      "txt_cms_counts",
      cmsOracle(depth = 4, width = 256,
        terms = Seq("spark", "customer", "the", "window", "merge",
          "zzz_absent"))) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sketch = graft.operators.CountMin.buildTokens(docs, "text", 4, 256)
      val terms = Seq("spark", "customer", "the", "window", "merge",
        "zzz_absent")
      val exact = docs
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isInCollection(terms))
        .groupBy(col("tok").as("term"))
        .agg(count(lit(1)).as("exact_cnt"))
      graft.operators.CountMin.estimateTerms(sketch, terms, 4, 256)
        .join(exact, Seq("term"), "left")
        .select(col("term"),
          coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"),
          col("cms_est"))
        .orderBy("term")
    },

    // ---- Tokenizer-aware token accounting: whitespace words segmented
    // into subword pieces by the native greedy longest-match kernel
    // (MaxMatch — WordPiece inference minus the ## marking; single-char
    // OOV fallback) against a fixed literal vocab. Per-doc fertility
    // (subwords/word) is the tokenizer-efficiency metric pretraining
    // budgets care about; pieces_md5 certifies EVERY piece cross-engine,
    // not just counts. The oracle replays the greedy rule with a
    // recursive CTE. Pure per-row algebra, zero shuffle.
    GQuery(
      "txt_subword_fertility",
      subwordOracle(TextOps.demoSubwordVocab)) { (s, dir) =>
      TextOps.subwordStats(t(s, dir, "documents"), "doc_id", "text",
        TextOps.demoSubwordVocab).orderBy("doc_id")
    },

    // ---- True-BPE merge application: the next tokenizer-realism step
    // past the greedy MaxMatch gates — repeatedly merge all occurrences
    // of the lowest-rank adjacent pair in one left-to-right pass until
    // none applies (the reference BPE inference loop), certified
    // piece-for-piece: the oracle replays the loop as maxLen−1 unrolled
    // sticky-pick leftmost-single-merge steps (fixpoint-equivalent to
    // the pass — argument on the kernel's scaladoc) and the md5 covers
    // every piece boundary of every word. Words are scoped to
    // engine-portable [a-z]{1,12} (bounds the unrolling; char-splitting
    // is identical across engines). Pure per-row algebra, zero shuffle;
    // one kernel call per document.
    GQuery(
      "txt_bpe_apply",
      bpeApplyOracle(TextOps.demoBpeMerges, maxLen = 12, scopeLim = 500)) {
      (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val ws = filter(TextOps.tokens(col("text")),
        w => w.rlike("^[a-z]{1,12}$"))
      t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
          graft.functions.GraftFunctions.bpeApply(col("ws"),
            TextOps.demoBpeMerges).as("r"))
        .select(col("doc_id"), col("n_words"),
          col("r.n_pieces").as("n_pieces"), md5(col("r.enc")).as("pieces_md5"))
        .orderBy("doc_id")
    },

    // ---- Full-corpus BPE accounting: the PRODUCTION shape of the merge
    // loop — one kernel call per document over the WHOLE corpus (no
    // doc_id scope), zero shuffle before the final presentation sort —
    // gated on per-doc word/piece totals (the SubwordCount pattern: the
    // counts certify every word's fixpoint piece count; the piece
    // strings themselves are certified at gate scope by txt_bpe_apply).
    // Words widen txt_bpe_apply's scope to [a-z]{1,12}(~[0-9]{1,2})? —
    // still all-ASCII (engine-portable char split), and the optional ~N
    // suffix is what the scaled corpora stamp on replicated docs' words,
    // so the gate does real kernel work on EVERY doc at x2/x5/x10, not
    // just the originals. 15 chars max bounds the oracle's unrolling.
    GQuery(
      "txt_bpe_corpus",
      bpeCorpusOracle(TextOps.demoBpeMerges, maxLen = 15,
        wordRe = "[a-z]{1,12}(~[0-9]{1,2})?")) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val ws = filter(TextOps.tokens(col("text")),
        w => w.rlike("^[a-z]{1,12}(~[0-9]{1,2})?$"))
      t(s, dir, "documents")
        .select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
          graft.functions.GraftFunctions.bpeApply(col("ws"),
            TextOps.demoBpeMerges).as("r"))
        .select(col("doc_id"), col("n_words"),
          col("r.n_pieces").as("n_pieces"))
        .orderBy("doc_id")
    },

    // ---- BPE merge TRAINING (Sennrich et al. 2016) — learn the merge
    // table from the corpus itself, completing the tokenizer story
    // train -> apply (txt_bpe_apply) -> count (txt_bpe_corpus): 6 rounds
    // of max-frequency pair selection over the word-TYPE vocabulary
    // (ties lexicographic) with the reference left-to-right merge pass
    // between rounds. The oracle replays all 6 rounds — pair counting,
    // argmax, and the merge pass as iterated leftmost regexp_replace —
    // so the hash certifies the exact learned table AND every
    // intermediate vocabulary state that produced it. Corpus cost is ONE
    // scan + one word shuffle; each round then touches only the
    // word-type vocab (Sennrich's own formulation).
    GQuery(
      "txt_bpe_train",
      bpeTrainOracle(steps = 6, maxLen = 15,
        wordRe = "[a-z]{1,12}(~[0-9]{1,2})?")) { (s, dir) =>
      TextOps.bpeTrain(t(s, dir, "documents"), "text",
          wordRe = "[a-z]{1,12}(~[0-9]{1,2})?", steps = 6)
        .orderBy("step")
    },

    // ---- Streaming Count-Min, replayed: the first CORRECTNESS gate
    // over the streaming family. Seeds the persisted cells table from a
    // base corpus slice, lands two micro-batches through the EXACT
    // production trigger body (CmsStream.trigger — what foreachBatch
    // invokes), then REPLAYS batch 0 (the at-least-once delivery case:
    // the replay guard must skip it or every seen term double-counts and
    // the hash breaks). Because cell merge is additive, the final table
    // state equals the batch sketch over the union slice — which is what
    // the oracle replays as batch SQL (same md5+Carter–Wegman family,
    // WHERE doc_id < 300). Every run re-seeds first (a new physical
    // version through the versioned write-then-retarget lifecycle), so
    // the triggers always land on the seed alone and no run reads state
    // an earlier run left.
    GQuery(
      "stream_cms_replay",
      cmsOracle(depth = 4, width = 256,
        terms = Seq("spark", "customer", "the", "window", "merge",
          "zzz_absent"),
        where = "WHERE doc_id < 300")) { (s, dir) =>
      import graft.streaming.CmsStream
      val (depth, width) = (4, 256)
      val docs = t(s, dir, "documents")
      val table = graft.core.StreamGates.table("graft_cms_stream_", dir)
      CmsStream.seed(docs.filter(col("doc_id") < 100), "text", table,
        depth, width)
      def slice(lo: Int, hi: Int) =
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      CmsStream.trigger(slice(100, 200), 0L, "text", table, depth, width)
      CmsStream.trigger(slice(200, 300), 1L, "text", table, depth, width)
      // at-least-once replay of batch 0 — the guard must skip it
      CmsStream.trigger(slice(100, 200), 0L, "text", table, depth, width)
      val terms = Seq("spark", "customer", "the", "window", "merge",
        "zzz_absent")
      val exact = docs.filter(col("doc_id") < 300)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isInCollection(terms))
        .groupBy(col("tok").as("term"))
        .agg(count(lit(1)).as("exact_cnt"))
      CmsStream.estimate(s, table, terms, depth, width)
        .join(exact, Seq("term"), "left")
        .select(col("term"),
          coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"),
          col("cms_est"))
        .orderBy("term")
    },

    // ---- Streaming exact dedup, replayed: the BloomStream twin of
    // stream_cms_replay. Seeds the persisted keys table from a base
    // corpus slice, runs two micro-batches through the EXACT production
    // trigger body (BloomStream.trigger — what foreachBatch invokes),
    // then REPLAYS batch 0 under the at-least-once contract. Batches are
    // built to exercise every verdict class: batch 0 carries seed
    // duplicates (must be rejected by the seed rows, whose src_batch of
    // -1 no replay guard can exclude) plus new keys; batch 1 carries
    // seed duplicates, duplicates of batch 0's SURVIVORS (proves batch
    // 0's append is visible to later verification), and new keys. The
    // replay certifies BOTH guards at once: verification must exclude
    // src_batch = 0 rows (else the replayed batch anti-joins against its
    // own survivors and delivers nothing → n_deliveries 1 ≠ 2 → hash
    // break) while the key append must skip them (else the keys table
    // gains duplicate rows → n_key_rows 2 ≠ 1 → hash break). Deliveries
    // are frozen at delivery time (localCheckpoint — the sink's
    // at-least-once view), counted distributedly; no driver collect.
    // Every run re-seeds the keys table and recovers the bitmap from it
    // before the triggers, so n_deliveries counts this run's deliveries
    // and n_key_rows reads the LIVE keys table they left.
    GQuery(
      "stream_bloom_replay",
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id < 100 THEN 0
        |            WHEN doc_id < 200 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_deliveries,
        |  CAST(1 AS BIGINT) AS n_key_rows
        |FROM documents WHERE doc_id < 300
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.streaming.BloomStream
      val (mBits, k) = (131072, 5)
      val keys = t(s, dir, "documents").select(col("doc_id"))
      def slice(lo: Int, hi: Int) =
        keys.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val table = graft.core.StreamGates.table("graft_bloom_stream_", dir)
      BloomStream.seed(slice(0, 100), "doc_id", table)
      val state = BloomStream.recover(s, table, "doc_id", mBits, k)
      val dlv = new graft.core.StreamGates.DeliveryLedger
      val b0 = slice(100, 200).unionByName(slice(0, 20))
      val b1 = slice(200, 300).unionByName(slice(120, 140))
        .unionByName(slice(20, 40))
      BloomStream.trigger(b0, 0L, "doc_id", table, state, dlv.sink)
      BloomStream.trigger(b1, 1L, "doc_id", table, state, dlv.sink)
      // at-least-once replay of batch 0 — same survivors, no new keys
      BloomStream.trigger(b0, 0L, "doc_id", table, state, dlv.sink)
      s.catalog.refreshTable(table)
      val keyRows = s.table(table)
        .groupBy("doc_id").agg(count(lit(1)).as("n_key_rows"))
      keys.filter(col("doc_id") < 300)
        .join(dlv.counts(keys.limit(0), Seq("doc_id")), Seq("doc_id"), "left")
        .join(keyRows, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_deliveries"), lit(0L)).as("n_deliveries"),
          coalesce(col("n_key_rows"), lit(0L)).as("n_key_rows"))
        .orderBy("doc_id")
    },

    // ---- Streaming near-dup dedup against a GROWING band index,
    // replayed: the most production-like streaming path (check →
    // deliver → append per trigger, batch N deduped against the corpus
    // AND every earlier batch's survivors). Runs two micro-batches plus
    // an at-least-once replay of batch 0 through the EXACT production
    // trigger body (EventStreams.growIndexTrigger). The index uses the
    // portable MinHash family, so the oracle replays the full story in
    // SQL: batch-0 survivors = docs with no band-collision pair at
    // jaccard >= 0.8 vs the corpus; batch-1 survivors check against
    // corpus ∪ batch-0 survivors. The replay certifies both guards:
    // the check must exclude same-batch index rows (else the replayed
    // batch anti-joins its own appended survivors → n_deliveries 1 ≠ 2)
    // and the append must skip them (else duplicate token-set rows →
    // n_index_rows 2 ≠ 1). Every run is deterministic BY RESET: the
    // grown index is the stream's OUTPUT, so build() re-lands the
    // corpus-only index as the next physical version (atomic retarget
    // supersedes any previous appends) before the triggers run;
    // n_deliveries counts this run's deliveries and n_index_rows reads
    // the LIVE index they grew.
    GQuery(
      "stream_banddedup_replay",
      s"""WITH corp AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 300),
         |b0d AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id >= 300 AND doc_id < 350),
         |b1d AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id >= 350 AND doc_id < 400),
         |${sketchCoreCtes("corp", "_c", 64, 16)},
         |${sketchCoreCtes("b0d", "_0", 64, 16)},
         |${sketchCoreCtes("b1d", "_1", 64, 16)},
         |mwc AS MATERIALIZED (SELECT * FROM w_c),
         |mw0 AS MATERIALIZED (SELECT * FROM w_0),
         |mw1 AS MATERIALIZED (SELECT * FROM w_1),
         |mbc AS MATERIALIZED (SELECT * FROM bands_c),
         |mb0 AS MATERIALIZED (SELECT * FROM bands_0),
         |mb1 AS MATERIALIZED (SELECT * FROM bands_1),
         |szc AS (SELECT doc_id, count(*) AS n FROM mwc GROUP BY doc_id),
         |sz0 AS (SELECT doc_id, count(*) AS n FROM mw0 GROUP BY doc_id),
         |sz1 AS (SELECT doc_id, count(*) AS n FROM mw1 GROUP BY doc_id),
         |c0 AS (
         |  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_ref
         |  FROM mb0 a JOIN mbc b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
         |i0 AS (
         |  SELECT c.id_new, c.id_ref, count(*) AS c
         |  FROM c0 c
         |  JOIN mw0 a ON a.doc_id = c.id_new
         |  JOIN mwc b ON b.doc_id = c.id_ref AND a.w = b.w
         |  GROUP BY c.id_new, c.id_ref),
         |rej0 AS (
         |  SELECT DISTINCT id_new FROM i0
         |  JOIN sz0 s1 ON s1.doc_id = id_new
         |  JOIN szc s2 ON s2.doc_id = id_ref
         |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8),
         |surv0 AS MATERIALIZED (
         |  SELECT doc_id FROM b0d
         |  WHERE doc_id NOT IN (SELECT id_new FROM rej0)),
         |refb AS (
         |  SELECT doc_id, band_idx, band_hash FROM mbc
         |  UNION ALL
         |  SELECT doc_id, band_idx, band_hash FROM mb0
         |  WHERE doc_id IN (SELECT doc_id FROM surv0)),
         |refw AS (
         |  SELECT doc_id, w FROM mwc
         |  UNION ALL
         |  SELECT doc_id, w FROM mw0
         |  WHERE doc_id IN (SELECT doc_id FROM surv0)),
         |refsz AS (
         |  SELECT doc_id, n FROM szc
         |  UNION ALL
         |  SELECT doc_id, n FROM sz0
         |  WHERE doc_id IN (SELECT doc_id FROM surv0)),
         |c1 AS (
         |  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_ref
         |  FROM mb1 a JOIN refb b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
         |i1 AS (
         |  SELECT c.id_new, c.id_ref, count(*) AS c
         |  FROM c1 c
         |  JOIN mw1 a ON a.doc_id = c.id_new
         |  JOIN refw b ON b.doc_id = c.id_ref AND a.w = b.w
         |  GROUP BY c.id_new, c.id_ref),
         |rej1 AS (
         |  SELECT DISTINCT id_new FROM i1
         |  JOIN sz1 s1 ON s1.doc_id = id_new
         |  JOIN refsz s2 ON s2.doc_id = id_ref
         |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8),
         |surv1 AS MATERIALIZED (
         |  SELECT doc_id FROM b1d
         |  WHERE doc_id NOT IN (SELECT id_new FROM rej1))
         |SELECT d.doc_id,
         |  CAST(CASE
         |    WHEN d.doc_id IN (SELECT doc_id FROM surv0) THEN 2
         |    WHEN d.doc_id IN (SELECT doc_id FROM surv1) THEN 1
         |    ELSE 0 END AS BIGINT) AS n_deliveries,
         |  CAST(CASE
         |    WHEN d.doc_id IN (SELECT doc_id FROM surv0)
         |      OR d.doc_id IN (SELECT doc_id FROM surv1) THEN 1
         |    ELSE 0 END AS BIGINT) AS n_index_rows
         |FROM documents d WHERE d.doc_id >= 300 AND d.doc_id < 400
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      import graft.streaming.EventStreams
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def slice(lo: Int, hi: Int) =
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val idx = graft.core.StreamGates.table("gbsr_", dir)
      graft.operators.BandIndex.build(slice(0, 300), "doc_id", "text",
        numHashes = 64, bands = 16, buckets = 8, idx)
      val dlv = new graft.core.StreamGates.DeliveryLedger
      val sink = (df: org.apache.spark.sql.DataFrame) =>
        dlv.sink(df.select("doc_id"))
      val (b0, b1) = (slice(300, 350), slice(350, 400))
      EventStreams.growIndexTrigger(b0, 0L, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.8, idx, buckets = 8, sink)
      // at-least-once replay of batch 0 before the next batch lands —
      // the trigger-retry case foreachBatch actually produces
      EventStreams.growIndexTrigger(b0, 0L, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.8, idx, buckets = 8, sink)
      EventStreams.growIndexTrigger(b1, 1L, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.8, idx, buckets = 8, sink)
      val idxRows = graft.core.VersionedTable.refreshed(s, s"${idx}_toks")
        .groupBy("doc_id").agg(count(lit(1)).as("n_index_rows"))
      slice(300, 400).select("doc_id")
        .join(dlv.counts(docs.select("doc_id").limit(0), Seq("doc_id")),
          Seq("doc_id"), "left")
        .join(idxRows, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_deliveries"), lit(0L)).as("n_deliveries"),
          coalesce(col("n_index_rows"), lit(0L)).as("n_index_rows"))
        .orderBy("doc_id")
    },

    // ---- Benchmark-contamination detection: corpus docs sharing any
    // 3-gram with the benchmark slice (semi-join on the shingle key — at
    // scale this is the standard n-gram-overlap decontamination pass,
    // an equi-join, never all-pairs).
    GQuery(
      "txt_contamination",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS w
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM toks) x),
        |bench AS (SELECT DISTINCT w FROM sh WHERE doc_id < 20)
        |SELECT DISTINCT doc_id FROM sh
        |WHERE doc_id >= 20 AND w IN (SELECT w FROM bench)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sh = Dedup.shingleSet(t(s, dir, "documents"), "doc_id", "text", 3)
      sh.filter(col("doc_id") >= 20)
        .join(sh.filter(col("doc_id") < 20).select("w").distinct(),
          Seq("w"), "left_semi")
        .select("doc_id").distinct()
        .orderBy("doc_id")
    },

    // ---- Intra-document repetition signals (Gopher/C4-style):
    // distinct-token ratio + most-frequent-token share.
    GQuery(
      "txt_repetition",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |per AS (
        |  SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
        |agg AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct, max(cnt) AS top_cnt
        |  FROM per GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS distinct_ratio,
        |  round(CAST(top_cnt AS DOUBLE) / n_tokens, 4) AS top_token_ratio
        |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- Per-document Shannon token entropy (bits/token): the
    // low-entropy-equals-boilerplate quality signal. Same two-level
    // aggregation as txt_repetition; the oracle replays
    // log2(n) - sum(c*log2(c))/n over the per-(doc, token) counts.
    GQuery(
      "txt_entropy",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |per AS (
        |  SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  round(log2(CAST(sum(cnt) AS DOUBLE))
        |    - sum(cnt * log2(CAST(cnt AS DOUBLE))) / sum(cnt), 4) + 0.0
        |    AS token_entropy
        |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.entropyStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- Overlapping token chunks (window 32, stride 24 → 8-token
    // overlap): the RAG-indexing / context-window prep step. Pure
    // per-row generate + slice, no shuffle; the oracle unnests the same
    // start sequence and slices the same token list.
    GQuery(
      "txt_chunks",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, len(toks), 24)) AS s
        |  FROM t)
        |SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
        |  CAST(s AS BIGINT) AS start_tok,
        |  CAST(least(32, n - s) AS BIGINT) AS n_chunk_toks,
        |  array_to_string(list_slice(toks, s + 1, s + 32), ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      TextOps.chunk(t(s, dir, "documents"), "doc_id", "text",
          window = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    },

    // ---- Gopher-style quality-rule filter: token-count bounds, mean
    // token length band, stopword presence, repetition cut — the standard
    // pretraining curation pass, emitted as the kept subset. Ratio
    // comparisons use the same unrounded doubles on both engines.
    GQuery(
      "txt_quality_filter",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |per AS (
        |  SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
        |rep AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct
        |  FROM per GROUP BY doc_id),
        |q AS (
        |  SELECT d.doc_id, d.lang, r.n_tokens,
        |    (CAST(length(d.text) AS DOUBLE) - (r.n_tokens - 1)) / r.n_tokens
        |      AS avg_tok_len,
        |    CAST(r.n_distinct AS DOUBLE) / r.n_tokens AS distinct_ratio,
        |    len(list_filter(string_split_regex(trim(d.text), '\s+'),
        |      x -> x IN ('the', 'a'))) AS n_stop
        |  FROM documents d JOIN rep r ON d.doc_id = r.doc_id)
        |SELECT doc_id, lang, n_tokens
        |FROM q
        |WHERE n_tokens BETWEEN 15 AND 10000
        |  AND avg_tok_len BETWEEN 2 AND 12
        |  AND distinct_ratio >= 0.3
        |  AND n_stop > 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val rep = TextOps.repetitionStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"))
      val nStop = size(filter(TextOps.tokens(col("text")),
        x => x.isInCollection(stopwords)))
      docs.join(rep, Seq("doc_id"))
        .withColumn("avg_tok_len",
          (length(col("text")).cast("double") - (col("n_tokens") - lit(1)))
            / col("n_tokens").cast("double"))
        .withColumn("distinct_ratio",
          col("n_distinct").cast("double") / col("n_tokens").cast("double"))
        .filter(col("n_tokens").between(15, 10000)
          && col("avg_tok_len").between(2, 12)
          && col("distinct_ratio") >= 0.3
          && nStop > 0)
        .select("doc_id", "lang", "n_tokens")
        .orderBy("doc_id")
    },

    // ---- Exact dedup: group by content, keep min id.
    GQuery(
      "dedup_exact",
      """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  count(*) AS n_copies,
        |  md5(text) AS content_md5
        |FROM documents
        |GROUP BY text
        |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .select(col("keep_id").cast("long").as("keep_id"), col("n_copies"),
          md5(col("text")).as("content_md5"))
        .orderBy("keep_id")
    },

    // ---- All-pairs word-set Jaccard (the exact verifier; scoped input —
    // the scale path is dedup_minhash_lsh below).
    GQuery(
      "dedup_jaccard_pairs",
      """WITH w AS (
        |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE doc_id < 200),
        |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2,
        |  round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 4) AS jaccard
        |FROM inter
        |JOIN sz s1 ON s1.doc_id = id1
        |JOIN sz s2 ON s2.doc_id = id2
        |WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      nearDupPairs(nearDupScope(s, dir))
        .orderBy("id1", "id2")
    },

    // ---- Bigram (2-shingle) Jaccard: stricter notion of near-dup.
    GQuery(
      "dedup_bigram_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id < 500),
        |w AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS w
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks) x),
        |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2,
        |  round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 4) AS jaccard
        |FROM inter
        |JOIN sz s1 ON s1.doc_id = id1
        |JOIN sz s2 ON s2.doc_id = id2
        |WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.2
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      // doc_id < 500 (vs < 100 for the word-set verifier): the bigram
      // notion is strict enough that a narrower scope has no qualifying
      // pairs at some sfs — a 0-row gate proves only the empty case
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      Dedup.jaccardPairs(Dedup.shingleSet(docs, "doc_id", "text", 2), 0.2)
        .orderBy("id1", "id2")
    },

    // ---- MinHash + LSH banding near-dup (the O(n) scale path; candidates
    // verified with exact Jaccard — OperatorsSpec asserts recall vs the
    // all-pairs verifier).
    GQuery.noOracle("dedup_minhash_lsh") { (s, dir) =>
      // no orderBy: the pair list is tens of millions of rows on a dense
      // corpus and this gate's check is rows-only — a global sort of the
      // full result is a range exchange + sort that buys nothing (the
      // hash-checked portable twin keeps its sort; ITS oracle compare
      // needs deterministic order)
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 64, bands = 16, threshold = 0.8)
    },

    // ---- Shingle-mode MinHash: the shingle→minhash→band→bucket-join
    // pipeline over 2-word shingles (stricter near-dup notion).
    GQuery.noOracle("dedup_minhash_shingle") { (s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 64, bands = 16, threshold = 0.25, shingleN = 2)
        .orderBy("id1", "id2")
    },

    // ---- Engine-portable MinHash+LSH (md5 hash family): the ENTIRE
    // sketch pipeline — signatures, banding, candidate equi-join, exact
    // Jaccard verification — is replayed by the DuckDB oracle, so a
    // hash-match proves the banding generated exactly the right candidate
    // set and verification kept exactly the right pairs. The xxhash64
    // production path above stays rows-only (xxhash64 has no SQL
    // equivalent); both share the identical dataflow.
    GQuery("dedup_minhash_portable",
      minhashPortableOracle(scopeLim = 300, numHashes = 64, bands = 16,
        threshold = 0.8)) { (s, dir) =>
      Dedup.minhashNearDupsPortable(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.8)
        .orderBy("id1", "id2")
    },

    // ---- Engine-portable SHINGLE-mode MinHash+LSH: the twin that puts
    // the shingle→minhash→band→bucket-join pipeline (dedup_minhash_shingle
    // above, rows-only by xxhash64) under a hash-checked oracle — same
    // 2-word shingles, same affine family, same banding and verification,
    // all replayed in SQL.
    GQuery("dedup_shingle_portable",
      minhashPortableOracle(scopeLim = 300, numHashes = 64, bands = 16,
        threshold = 0.25, shingleN = 2)) { (s, dir) =>
      Dedup.minhashNearDupsPortable(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.25,
          shingleN = 2)
        .orderBy("id1", "id2")
    },

    // ---- Keep-list resolution: which docs survive near-dup removal
    // (greedy min-id representative over word-set Jaccard >= 0.8 pairs).
    GQuery(
      "dedup_keep_list",
      """WITH w AS (
        |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE doc_id < 200),
        |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dropped AS (
        |  SELECT DISTINCT id2 FROM inter
        |  JOIN sz s1 ON s1.doc_id = id1
        |  JOIN sz s2 ON s2.doc_id = id2
        |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id < 200 AND doc_id NOT IN (SELECT id2 FROM dropped)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = nearDupScope(s, dir)
      val pairs = nearDupPairs(docs)
      Dedup.keepList(docs, "doc_id", pairs)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ---- Connected-components dedup resolution: transitive closure over
    // the near-dup pair graph, one representative (min id) per component.
    // The oracle walks the closure with a recursive CTE, so a hash-match
    // proves chains a~b~c collapse even when a,c never paired directly.
    GQuery(
      "dedup_keep_best",
      s"""WITH RECURSIVE $closureCtes,
        |comp AS (
        |  SELECT s AS doc_id, least(s, min(d)) AS comp
        |  FROM walk GROUP BY s),
        |reps AS (
        |  SELECT doc_id FROM (
        |    SELECT c.doc_id, row_number() OVER (PARTITION BY c.comp
        |      ORDER BY d.n_chars DESC NULLS LAST, c.doc_id) AS rn
        |    FROM comp c JOIN documents d USING (doc_id))
        |  WHERE rn = 1)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE d.doc_id < 200
        |  AND (d.doc_id NOT IN (SELECT doc_id FROM comp)
        |    OR d.doc_id IN (SELECT doc_id FROM reps))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = nearDupScope(s, dir)
      val pairs = nearDupPairs(docs)
      Dedup.keepBest(docs, "doc_id", col("n_chars"), pairs)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },

    // ---- Quality-aware keep above; min-id transitive closure below.
    GQuery(
      "dedup_components",
      s"""WITH RECURSIVE $closureCtes
        |SELECT s AS doc_id, least(s, min(d)) AS comp
        |FROM walk GROUP BY s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.connectedComponents(nearDupPairs(nearDupScope(s, dir))).orderBy("doc_id")
    },

    // ---- Star-contraction components twin: same pair graph, same
    // recursive-CTE oracle, but resolved by the large-star/small-star
    // edge-contraction variant (the edge-heavy-graph form, SURVEY §2.5).
    // A hash match against the SAME closure proves the two algorithms
    // agree on every chain — the star form's driver-gated correctness
    // evidence beyond its unit spec.
    GQuery(
      "dedup_components_star",
      s"""WITH RECURSIVE $closureCtes
        |SELECT s AS doc_id, least(s, min(d)) AS comp
        |FROM walk GROUP BY s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.connectedComponentsStar(nearDupPairs(nearDupScope(s, dir))).orderBy("doc_id")
    },

    // ---- Dedup diagnostic: cluster-size histogram over the near-dup
    // graph ("how much of the corpus is duplicated, in what size
    // clusters?"). Docs in no pair count as size-1 clusters; the oracle
    // extends the recursive-CTE components replay with the same two
    // aggregations.
    GQuery(
      "dedup_cluster_stats",
      s"""WITH RECURSIVE $closureCtes,
        |comp AS (
        |  SELECT s AS doc_id, least(s, min(d)) AS comp FROM walk GROUP BY s),
        |hist AS (
        |  SELECT cluster_size, count(*) AS n_clusters FROM (
        |    SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp)
        |  GROUP BY cluster_size
        |  UNION ALL
        |  SELECT 1 AS cluster_size,
        |    (SELECT count(*) FROM documents WHERE doc_id < 200)
        |      - (SELECT count(*) FROM comp) AS n_clusters)
        |SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
        |FROM hist GROUP BY cluster_size
        |HAVING sum(n_clusters) > 0
        |ORDER BY cluster_size""".stripMargin) { (s, dir) =>
      val docs = nearDupScope(s, dir)
      val pairs = nearDupPairs(docs)
      Dedup.clusterSizeHistogram(docs, "doc_id", pairs)
        .orderBy("cluster_size")
    },

    // ---- Edit-distance fuzzy dedup over the CANONICALIZED text (tokens
    // sorted, prefix-80): canonicalization makes word-order-shuffled
    // near-dups low-distance, which raw text hides. Scoped all-pairs
    // verifier like the other exact dedup paths — the scale path for
    // edit-similarity is the n-gram/LSH family above.
    GQuery(
      "dedup_edit_distance",
      """WITH c AS (
        |  SELECT doc_id,
        |    substring(array_to_string(
        |      list_sort(string_split_regex(trim(text), '\s+')), ' '), 1, 80)
        |      AS canon
        |  FROM documents WHERE doc_id < 80)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(levenshtein(a.canon, b.canon) AS BIGINT) AS edit_dist
        |FROM c a JOIN c b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.canon, b.canon) <= 10
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      val canon = substring(
        concat_ws(" ", array_sort(TextOps.tokens(col("text")))), 1, 80)
      val c = t(s, dir, "documents").filter(col("doc_id") < 80)
        .select(col("doc_id"), canon.as("canon"))
      c.as("a").join(c.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
          levenshtein(col("a.canon"), col("b.canon")).cast("long").as("edit_dist"))
        .filter(col("edit_dist") <= 10)
        .orderBy("id1", "id2")
    },

    // ---- SimHash signatures (md5-keyed 60-bit variant so the oracle can
    // reproduce the token hash; bit-vote logic identical to the xxhash64
    // production variant, spec-asserted in OperatorsSpec).
    GQuery("dedup_simhash", simhashOracle(
      "SELECT doc_id, CAST(%SIG% AS BIGINT) AS simhash FROM sums ORDER BY doc_id")) {
      (s, dir) =>
        Dedup.simhashMd5(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")
    },

    // ---- SimHash pigeonhole near-dup pairs: the oracle computes ALL pairs
    // within Hamming 3 by brute force (xor + bit_count), so a hash-match
    // proves the chunk-join candidate generation is COMPLETE (pigeonhole
    // guarantee d < chunks), not just plausible.
    GQuery("dedup_simhash_pairs", simhashOracle(
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id1, id2""".stripMargin,
      withSigCte = true)) { (s, dir) =>
      Dedup.simhashNearDups(
          Dedup.simhashMd5(t(s, dir, "documents"), "doc_id", "text"),
          maxHamming = 3, chunks = 4, bits = 60)
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
        .orderBy("id1", "id2")
    },

    // ---- Segment-level exact dedup (the C4/RefinedWeb "line dedup" pass
    // over fixed 8-word chunks): keep only the globally-FIRST occurrence
    // of each distinct segment (ordered by doc_id, then position) and
    // reassemble each doc from its surviving segments. The oracle replays
    // the same plan in DuckDB: list_slice chunking, a first-occurrence
    // window on segment text, ordered string_agg reassembly.
    GQuery(
      "dedup_segments",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0,
        |      CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) AS seg_idx
        |  FROM toks),
        |segs AS (
        |  SELECT doc_id, seg_idx,
        |    array_to_string(
        |      list_slice(toks, seg_idx * 8 + 1, seg_idx * 8 + 8), ' ') AS seg
        |  FROM idx),
        |firsts AS (
        |  SELECT doc_id, seg_idx, seg
        |  FROM (SELECT doc_id, seg_idx, seg,
        |          row_number() OVER (PARTITION BY seg
        |            ORDER BY doc_id, seg_idx) AS rn
        |        FROM segs)
        |  WHERE rn = 1)
        |SELECT d.doc_id,
        |  count(f.seg) AS n_kept,
        |  coalesce(string_agg(f.seg, ' ' ORDER BY f.seg_idx), '') AS text_dedup
        |FROM documents d
        |LEFT JOIN firsts f ON f.doc_id = d.doc_id
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("doc_id")
    },

    // ---- Exact substring-level dedup signal (fixed-window approximation
    // of suffix-array dedup, Lee et al. "Deduplicating Training Data
    // Makes Language Models Better"): every 8-token span occurring in
    // >= 2 distinct docs, with doc/occurrence counts. Aggregated on the
    // span — never pairwise — so a boilerplate span duplicated millions
    // of times costs one pre-combined reducer row, not a pair explosion.
    GQuery(
      "dedup_dup_spans",
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS span
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 7)) AS i
        |        FROM d) x)
        |SELECT span,
        |  count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_occ
        |FROM w GROUP BY span
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY span""".stripMargin) { (s, dir) =>
      Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("span")
    },

    // ---- Per-doc duplicated-span coverage: fraction of token positions
    // covered by an 8-token span shared with another doc (the drop/trim
    // filter metric over dedup_dup_spans). Overlapping spans union-merge
    // via the running-max interval sweep — the oracle replays the same
    // window algebra, so the hash-match pins the merge, not just counts.
    GQuery(
      "dedup_span_coverage",
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS span
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 7)) AS i
        |        FROM d) x),
        |dup AS (
        |  SELECT span FROM w GROUP BY span
        |  HAVING count(DISTINCT doc_id) >= 2),
        |iv AS (
        |  SELECT w.doc_id, w.pos AS s, w.pos + 7 AS e
        |  FROM w JOIN dup USING (span)),
        |m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |g AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM m),
        |cov AS (
        |  SELECT doc_id, grp, max(e) - min(s) + 1 AS covered
        |  FROM g GROUP BY doc_id, grp),
        |percov AS (
        |  SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_tokens
        |  FROM cov GROUP BY doc_id),
        |lens AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents)
        |SELECT l.doc_id, l.n_tokens,
        |  coalesce(p.dup_tokens, 0) AS dup_tokens,
        |  round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / l.n_tokens, 4)
        |    AS dup_frac
        |FROM lens l LEFT JOIN percov p USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin) { (s, dir) =>
      Dedup.dupSpanCoverage(t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("doc_id")
    },

    // ---- Arbitrary-length exact-substring dedup (the full Lee et al.
    // suffix-array semantics dedup_dup_spans approximates at fixed
    // width): every MAXIMAL token span of length >= 8 shared verbatim
    // between two docs, grown from 8-window seeds by diagonal run
    // coalescing. The oracle replays the growth itself (same self-join,
    // same islands-and-gaps over the diagonal) and the md5 over the
    // RECONSTRUCTED span text certifies the content of every reported
    // substring, not just its coordinates. Output-bound like LSH
    // candidate generation (span-keyed self-join); runs scale linearly
    // on this corpus family (25 / 256 / 2560 at sf0.01 / sf0.1 / x10).
    GQuery(
      "dedup_dup_spans_maxlen",
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS span
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 7)) AS i
        |        FROM d) x),
        |p AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    a.pos AS pos1, b.pos AS pos2, b.pos - a.pos AS diag
        |  FROM w a JOIN w b USING (span)
        |  WHERE a.doc_id < b.doc_id),
        |r AS (
        |  SELECT id1, id2, diag, pos1,
        |    pos1 - row_number() OVER (PARTITION BY id1, id2, diag
        |      ORDER BY pos1) AS grp
        |  FROM p),
        |agg AS (
        |  SELECT id1, id2, diag, min(pos1) AS pos1, count(*) + 7 AS len
        |  FROM r GROUP BY id1, id2, diag, grp)
        |SELECT a.id1, a.id2, CAST(a.pos1 AS BIGINT) AS pos1,
        |  CAST(a.pos1 + a.diag AS BIGINT) AS pos2,
        |  CAST(a.len AS BIGINT) AS len_tokens,
        |  md5(array_to_string(d.t[a.pos1:a.pos1 + a.len - 1], ' '))
        |    AS span_md5
        |FROM agg a JOIN d ON d.doc_id = a.id1
        |ORDER BY id1, id2, pos1, pos2""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id").as("id1"),
        TextOps.tokens(col("text")).as("t"))
      Dedup.dupSpanRuns(docs, "doc_id", "text", 8)
        .join(toks, Seq("id1"))
        .select(col("id1"), col("id2"),
          col("pos1").cast("long").as("pos1"),
          col("pos2").cast("long").as("pos2"),
          col("len_tokens"),
          md5(concat_ws(" ", slice(col("t"), col("pos1"),
            col("len_tokens").cast("int")))).as("span_md5"))
        .orderBy("id1", "id2", "pos1", "pos2")
    },

    // ---- Exact-substring REMOVAL (the corpus-rewrite step of Lee et
    // al. suffix-array dedup — their released ExactSubstr tool cuts
    // every occurrence of a duplicated substring): drop each token
    // position covered by an 8-token span shared with another doc and
    // reassemble the remaining text. The oracle replays the same
    // interval-merge sweep as dedup_span_coverage, then rebuilds the
    // text with a position anti-join (merged intervals are disjoint per
    // doc, so the join never fans out) — the hash certifies EVERY byte
    // of the rewritten corpus, not just the counts.
    GQuery(
      "dedup_span_strip",
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS span
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 7)) AS i
        |        FROM d) x),
        |dup AS (
        |  SELECT span FROM w GROUP BY span
        |  HAVING count(DISTINCT doc_id) >= 2),
        |iv AS (
        |  SELECT w.doc_id, w.pos AS s, w.pos + 7 AS e
        |  FROM w JOIN dup USING (span)),
        |m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |g AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM m),
        |cov AS (
        |  SELECT doc_id, grp, min(s) AS s0, max(e) AS e0
        |  FROM g GROUP BY doc_id, grp),
        |pos AS (
        |  SELECT doc_id, i, t[i] AS tok
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        |        FROM d) x),
        |kept AS (
        |  SELECT p.doc_id, p.i, p.tok
        |  FROM pos p LEFT JOIN cov c
        |    ON c.doc_id = p.doc_id AND p.i BETWEEN c.s0 AND c.e0
        |  WHERE c.s0 IS NULL)
        |SELECT d.doc_id,
        |  CAST(len(d.t) AS BIGINT) AS n_tokens,
        |  count(k.tok) AS kept_tokens,
        |  coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '') AS text_stripped
        |FROM d LEFT JOIN kept k USING (doc_id)
        |GROUP BY d.doc_id, d.t
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Dedup.stripDupSpans(t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("doc_id")
    },

    // ---- Portable Bloom membership prefilter: the corpus (doc_id % 5
    // <> 0) is sketched into an m-bit bitmap, every doc probes it. The
    // oracle replays the sketch in its equivalent set form — "bit set"
    // ⟺ "position ∈ the corpus's distinct position set" — over the same
    // md5+affine hash family, so the hash-match pins bitmap construction
    // AND every per-key verdict (including any false positives, which
    // are a deterministic function of the hash family, not noise).
    GQuery(
      "dedup_bloom_prefilter",
      """WITH hk AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 2147483647 AS bh
        |  FROM documents),
        |ks AS (
        |  SELECT i,
        |    (2*i + 1) * 2654435761 % 2147483647 AS a,
        |    (i * 40503 + 17) % 2147483647 AS c
        |  FROM generate_series(0, 4) t(i)),
        |cpos AS (
        |  SELECT DISTINCT (a * bh + c) % 2147483647 % 131072 AS pos
        |  FROM hk, ks WHERE doc_id % 5 <> 0),
        |bpos AS (
        |  SELECT doc_id, (a * bh + c) % 2147483647 % 131072 AS pos
        |  FROM hk, ks)
        |SELECT b.doc_id,
        |  bool_and(c.pos IS NOT NULL) AS bloom_pass,
        |  b.doc_id % 5 <> 0 AS is_member
        |FROM bpos b LEFT JOIN cpos c USING (pos)
        |GROUP BY b.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      // session-memoized build: probes pay zero corpus I/O after the
      // first batch (the sketch's amortization contract)
      val bloom = Dedup.bloomBuildCached(corpus, "doc_id", 131072, 5)
      Dedup.bloomProbe(docs, "doc_id", bloom, 131072, 5)
        .withColumn("is_member", col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("bloom_pass"), col("is_member"))
        .orderBy("doc_id")
    },

    // ---- Bloom-then-verify exact new-docs in the operator's production
    // shape — a nightly batch that is MOSTLY NEW (the %5==0 fifth the
    // corpus never saw) plus a small re-crawl overlap (%25==1), probed
    // against a big corpus through a properly sized filter (m = 2^21:
    // honest fpp at 10× bench scale, ~zero at gate sf). Rejects skip the
    // verification join entirely (no false negatives), so the measured
    // work is probe + an anti-join whose batch side is the small
    // pass-set; the bitmap itself is session-memoized (bloomBuildCached)
    // — build once, probe every batch, the sketch's amortization
    // contract. Output must equal the plain anti-join row for row, which
    // is precisely what the oracle states. Saturated-filter and live-FP
    // behavior is spec-pinned at unit scale (BloomSpec), not gate-shaped.
    GQuery(
      "dedup_bloom_new",
      """SELECT d.doc_id, d.n_chars
        |FROM documents d
        |WHERE (d.doc_id % 5 = 0 OR d.doc_id % 25 = 1)
        |  AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 5 <> 0 AND c.doc_id = d.doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0 || col("doc_id") % 25 === 1)
      Dedup.bloomNewKeys(corpus, batch, "doc_id", 1 << 21, 5)
        .orderBy("doc_id")
    },

    // ---- One-sided containment dedup: |A∩B|/|A| catches sub-document
    // duplication (a small doc fully embedded in a big one) that
    // symmetric Jaccard dilutes. Scoped all-pairs verifier like the
    // jaccard gates; the LSH banding machinery supplies candidates at
    // scale.
    GQuery(
      "dedup_containment",
      """WITH w AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE doc_id < 100),
        |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id, b.doc_id AS other, count(*) AS c
        |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT i.id, i.other,
        |  round(CAST(i.c AS DOUBLE) / s.n, 4) AS containment
        |FROM inter i JOIN sz s ON s.doc_id = i.id
        |WHERE CAST(i.c AS DOUBLE) / s.n >= 0.8
        |ORDER BY id, other""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(
          Dedup.tokenSet(
            t(s, dir, "documents").filter(col("doc_id") < 100),
            "doc_id", "text"),
          threshold = 0.8)
        .orderBy("id", "other")
    },

    // ---- Containment at scale: prefix-filter candidates (AllPairs/
    // PPJoin family — the asymmetric scheme containment needs; Jaccard-
    // tuned LSH banding would miss high-containment/low-Jaccard pairs)
    // + exact verification. Prefix filtering is exact, so the all-pairs
    // SQL stays a valid oracle — a hash match proves the prefix join
    // surfaced EXACTLY the qualifying pairs on a wider scope than the
    // quadratic verifier gate above.
    GQuery(
      "dedup_containment_prefix",
      """WITH w AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE doc_id < 250),
        |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id, b.doc_id AS other, count(*) AS c
        |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT i.id, i.other,
        |  round(CAST(i.c AS DOUBLE) / s.n, 4) AS containment
        |FROM inter i JOIN sz s ON s.doc_id = i.id
        |WHERE CAST(i.c AS DOUBLE) / s.n >= 0.8
        |ORDER BY id, other""".stripMargin) { (s, dir) =>
      // per-row sorted distinct-token arrays: the candidate chain starts
      // from zero corpus exchanges (array-form entry point)
      Dedup.containmentPairsPrefixArr(
          t(s, dir, "documents").filter(col("doc_id") < 250)
            .select(col("doc_id"), sort_array(array_distinct(
              TextOps.tokens(col("text")))).as("toks")),
          threshold = 0.8)
        .orderBy("id", "other")
    },

    // ---- Self-trained bigram-LM quality score (KenLM-perplexity filter
    // pattern): add-one-smoothed conditional logprob averaged per doc.
    // The oracle rebuilds corpus bigram/context counts and the vocab
    // scalar, then replays the same ln() fold — avg order differences
    // vanish under round(4).
    GQuery(
      "txt_lm_score",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks)),
        |cb AS (SELECT w1, w2, count(*) AS cnt FROM big GROUP BY w1, w2),
        |cc AS (SELECT w1, count(*) AS ctx FROM big GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS vs
        |      FROM (SELECT unnest(t) AS w FROM toks)),
        |scored AS (
        |  SELECT b.doc_id, ln((cb.cnt + 1.0) / (cc.ctx + v.vs)) AS lp
        |  FROM big b
        |  JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
        |  JOIN cc ON b.w1 = cc.w1
        |  CROSS JOIN v)
        |SELECT d.doc_id, CAST(count(s.lp) AS BIGINT) AS n_bigrams,
        |  round(avg(s.lp), 4) AS lm_score
        |FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      TextOps.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- CCNet head/middle/tail tiers (Wenzek et al. 2020): terciles of
    // the LM score via TotalOrder's global rank + the exact NTILE
    // convention — the oracle's corpus-wide ntile window replays the
    // distributed rank row for row. The rank key is the rounded score
    // (the cross-engine-stable value), ties by doc_id.
    GQuery(
      "txt_ppl_buckets",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks)),
        |cb AS (SELECT w1, w2, count(*) AS cnt FROM big GROUP BY w1, w2),
        |cc AS (SELECT w1, count(*) AS ctx FROM big GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS vs
        |      FROM (SELECT unnest(t) AS w FROM toks)),
        |scored AS (
        |  SELECT b.doc_id, ln((cb.cnt + 1.0) / (cc.ctx + v.vs)) AS lp
        |  FROM big b
        |  JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
        |  JOIN cc ON b.w1 = cc.w1
        |  CROSS JOIN v),
        |s AS (
        |  SELECT d.doc_id, round(avg(sc.lp), 4) AS lm_score
        |  FROM documents d LEFT JOIN scored sc ON sc.doc_id = d.doc_id
        |  GROUP BY d.doc_id),
        |r AS (
        |  SELECT doc_id, lm_score,
        |    ntile(3) OVER (ORDER BY lm_score DESC NULLS LAST, doc_id) AS b
        |  FROM s)
        |SELECT doc_id, lm_score, CAST(b AS BIGINT) AS bucket,
        |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS tier
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.pplBuckets(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumn("tier", when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle").otherwise("tail"))
        .orderBy("doc_id")
    },

    // ---- BM25 top-20 for a fixed query (Lucene idf variant, k1 = 1.5,
    // b = 0.75 — binary-exact constants so both engines compute the same
    // doubles): the decontamination-by-retrieval primitive. One 1-row
    // corpus-stats agg + per-row scoring + TakeOrdered — no data shuffle.
    GQuery(
      "txt_bm25",
      """WITH p AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS dl
        |  FROM documents),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    avg(len(toks)) AS avgdl,
        |    CAST(sum(CASE WHEN list_contains(toks, 'spark')
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
        |    CAST(sum(CASE WHEN list_contains(toks, 'customer')
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
        |    CAST(sum(CASE WHEN list_contains(toks, 'the')
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
        |  FROM p),
        |tf AS (
        |  SELECT doc_id, dl,
        |    CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf_0,
        |    CAST(len(list_filter(toks, x -> x = 'customer')) AS DOUBLE) AS tf_1,
        |    CAST(len(list_filter(toks, x -> x = 'the')) AS DOUBLE) AS tf_2
        |  FROM p),
        |sc AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5))
        |      * (tf_0 * 2.5) / (tf_0 + 1.5 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5))
        |      * (tf_1 * 2.5) / (tf_1 + 1.5 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5))
        |      * (tf_2 * 2.5) / (tf_2 + 1.5 * (0.25 + 0.75 * dl / avgdl))
        |      AS score
        |  FROM tf CROSS JOIN st)
        |SELECT doc_id, round(score, 4) + 0.0 AS bm25
        |FROM sc
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 20""".stripMargin) { (s, dir) =>
      TextOps.bm25(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "customer", "the"), topK = 20)
    },

    // ---- Per-(doc, term) TF-IDF matrix: tf over raw occurrences, idf =
    // ln(N/df), corpus-wide terms score exactly 0 (ln of an exact 1.0 —
    // bit-stable in both engines).
    GQuery(
      "txt_tfidf",
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM tok GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf,
        |  round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 4) AS tfidf
        |FROM tf JOIN dfq USING (term) CROSS JOIN n
        |ORDER BY doc_id, term""".stripMargin) { (s, dir) =>
      TextOps.tfidf(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "term")
    },

    // ---- Winnowing fingerprint selection (MOSS): hash every 3-token
    // gram, keep each 4-gram window's minimal hash (rightmost on ties) —
    // any shared substring of >= 6 tokens is caught by a shared selected
    // fingerprint at ~2/(w+1) density. Portable md5-60 hashes, so the
    // oracle replays every selection decision.
    GQuery(
      "txt_winnowing",
      s"""WITH $winnowingCtes
         |SELECT DISTINCT doc_id, pos, h AS fp
         |FROM r WHERE rn = 1
         |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      TextOps.winnow(t(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)
        .orderBy("doc_id", "pos")
    },

    // ---- Substring-overlap pairs via shared winnowing fingerprints —
    // what the fingerprints are FOR: docs sharing >= 3 selected rare
    // fingerprints share substantial verbatim runs. Fingerprints in more
    // than 50 docs are suppressed first (boilerplate/hot-trigram
    // suppression, the standard df-cut in fingerprint dedup) so the
    // fp equi-join stays selective at corpus scale.
    GQuery(
      "txt_winnow_overlap",
      s"""WITH $winnowingCtes,
         |sel AS (
         |  SELECT DISTINCT doc_id, h AS fp FROM r WHERE rn = 1),
         |rare AS (
         |  SELECT fp FROM (SELECT fp, count(*) AS df FROM sel GROUP BY fp)
         |  WHERE df <= 50),
         |f AS (SELECT s.doc_id, s.fp FROM sel s JOIN rare USING (fp))
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  count(*) AS n_shared
         |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 3
         |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      TextOps.winnowOverlap(t(s, dir, "documents"), "doc_id", "text",
          k = 3, w = 4, minShared = 3L, maxDf = 50L)
        .orderBy("id1", "id2")
    },

    // ---- End-to-end corpus cleaning, the flagship composite: quality
    // filter → exact dedup (min-id per content) → portable-MinHash
    // near-dup keep-list, each stage the library's own operator. The
    // oracle replays ALL three stages (the md5 sketch pipeline included),
    // so one hash match certifies the whole cleaning job — the run a user
    // of the engine would actually ship. Scoped doc_id < 500 like the
    // other sketch gates (the whole corpus at small sf): the near-dup
    // verification stage is intentionally run on a bounded slice so the
    // gate's cost doesn't scale quadratically with corpus sf.
    GQuery(
      "pipe_corpus_clean",
      s"""WITH scope AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 500),
         |tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |  FROM scope),
         |per AS (
         |  SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
         |rep AS (
         |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |    count(*) AS n_distinct
         |  FROM per GROUP BY doc_id),
         |quality AS (
         |  SELECT d.doc_id, d.text, r.n_tokens
         |  FROM scope d JOIN rep r ON d.doc_id = r.doc_id
         |  WHERE r.n_tokens BETWEEN 15 AND 10000
         |    AND (CAST(length(d.text) AS DOUBLE) - (r.n_tokens - 1))
         |      / r.n_tokens BETWEEN 2 AND 12
         |    AND CAST(r.n_distinct AS DOUBLE) / r.n_tokens >= 0.3
         |    AND len(list_filter(string_split_regex(trim(d.text), '\\s+'),
         |      x -> x IN ('the', 'a'))) > 0),
         |exactk AS (SELECT min(doc_id) AS doc_id FROM quality GROUP BY text),
         |eligible AS (
         |  SELECT q.doc_id, q.text, q.n_tokens
         |  FROM quality q JOIN exactk e ON q.doc_id = e.doc_id),
         |${minhashSketchCtes("eligible", numHashes = 64, bands = 16)},
         |dropped AS (
         |  SELECT DISTINCT id2 FROM inter
         |  JOIN sz s1 ON s1.doc_id = id1
         |  JOIN sz s2 ON s2.doc_id = id2
         |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8)
         |SELECT doc_id, n_tokens FROM eligible
         |WHERE doc_id NOT IN (SELECT id2 FROM dropped)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val rep = TextOps.repetitionStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"))
      val nStop = size(filter(TextOps.tokens(col("text")),
        x => x.isInCollection(stopwords)))
      // materialized once: quality feeds BOTH the exact-dedup keep-key
      // aggregation and the join's left side below — uncached, the
      // whole tokenize + repetition-agg + stopword chain runs twice
      // inside the eligible materialization (plan-audited r11: the two
      // consumers are different subtrees, so ReuseExchange can't help)
      val quality = graft.operators.CacheOnce(docs.join(rep, Seq("doc_id"))
        .withColumn("avg_tok_len",
          (length(col("text")).cast("double") - (col("n_tokens") - lit(1)))
            / col("n_tokens").cast("double"))
        .withColumn("distinct_ratio",
          col("n_distinct").cast("double") / col("n_tokens").cast("double"))
        .filter(col("n_tokens").between(15, 10000)
          && col("avg_tok_len").between(2, 12)
          && col("distinct_ratio") >= 0.3
          && nStop > 0)
        .select("doc_id", "text", "n_tokens"))
      val keepIds = quality.groupBy("text")
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      // materialize the cleaned-corpus frame once: it feeds the sketch
      // pipeline (tokenize + verify) AND the final keep-list anti-join —
      // uncached, the quality-filter + exact-dedup stages would re-run
      // for each consumer (harness clearCache() bounds the entry)
      val eligible = graft.operators.CacheOnce(quality.join(keepIds, Seq("doc_id")))
      val pairs = Dedup.minhashNearDupsPortable(eligible, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.8)
      Dedup.keepList(eligible, "doc_id", pairs)
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    },

    // ---- RAG-prep pipeline composite: chunk (window 32 / stride 24) →
    // per-chunk quality filter (≥8 tokens, distinct-token ratio ≥ 0.5)
    // → first-occurrence chunk dedup (the duplicated boilerplate a RAG
    // index must not store twice). Filter-before-dedup is the standard
    // order: dedup work is paid only for chunks that survive curation.
    // First-occurrence dedup is a min(struct(doc_id, chunk_id)) hash
    // aggregate grouped by the chunk text — output-identical to a
    // row_number()-over-(partition by chunk_text) window but hot-key
    // safe: a boilerplate chunk (cookie banner, license header)
    // duplicated across millions of documents combines MAP-SIDE via
    // partial aggregation, so the reducer owning that key receives one
    // pre-reduced row per upstream task instead of every duplicate (the
    // window form would land them all in one straggler partition — the
    // same trade documented at Dedup.segmentDedup's hotKeyAggregate).
    // Everything before the one hash shuffle is per-row.
    GQuery(
      "pipe_rag_prep",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, len(toks), 24)) AS s
        |  FROM t),
        |ch AS (
        |  SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
        |    CAST(least(32, n - s) AS BIGINT) AS n_chunk_toks,
        |    array_to_string(list_slice(toks, s + 1, s + 32), ' ')
        |      AS chunk_text
        |  FROM c),
        |q AS (
        |  SELECT * FROM ch
        |  WHERE n_chunk_toks >= 8
        |    AND CAST(len(list_distinct(string_split(chunk_text, ' ')))
        |      AS DOUBLE) / n_chunk_toks >= 0.5),
        |k AS (
        |  SELECT doc_id, chunk_id, n_chunk_toks, chunk_text,
        |    row_number() OVER (PARTITION BY chunk_text
        |      ORDER BY doc_id, chunk_id) AS rn
        |  FROM q)
        |SELECT doc_id, chunk_id, n_chunk_toks, md5(chunk_text) AS chunk_md5
        |FROM k WHERE rn = 1 ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      val chunks = TextOps.chunk(t(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 24)
      val q = chunks.filter(col("n_chunk_toks") >= 8)
        .filter(size(array_distinct(split(col("chunk_text"), " ")))
          .cast("double") / col("n_chunk_toks") >= 0.5)
      // n_chunk_toks rides in the struct for free: chunk_text is its
      // tokens joined by single spaces, so equal text implies equal
      // token count — the min row's value equals every group member's
      q.groupBy("chunk_text")
        .agg(min(struct(col("doc_id"), col("chunk_id"),
          col("n_chunk_toks"))).as("f"))
        .select(col("f.doc_id").as("doc_id"),
          col("f.chunk_id").as("chunk_id"),
          col("f.n_chunk_toks").as("n_chunk_toks"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },

    // ---- Incremental dedup: a NEW batch (doc_id 300-399) against the
    // EXISTING corpus (doc_id < 300) — the nightly-ingest case. Candidates
    // come from the band equi-join of new bands against corpus bands ONLY
    // (no corpus x corpus work), so per-batch cost is independent of
    // corpus size; the oracle replays both sketch chains and the
    // cross-side verification.
    GQuery(
      "dedup_incremental",
      s"""WITH newd AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id >= 300 AND doc_id < 400),
         |refd AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
         |${sketchCoreCtes("newd", "_n", 64, 16)},
         |${sketchCoreCtes("refd", "_r", 64, 16)},
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_ref
         |  FROM bands_n a JOIN bands_r b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
         |inter AS (
         |  SELECT c.id_new, c.id_ref, count(*) AS c
         |  FROM cands c
         |  JOIN w_n a ON a.doc_id = c.id_new
         |  JOIN w_r b ON b.doc_id = c.id_ref AND a.w = b.w
         |  GROUP BY c.id_new, c.id_ref),
         |szn AS (SELECT doc_id, count(*) AS n FROM w_n GROUP BY doc_id),
         |szr AS (SELECT doc_id, count(*) AS n FROM w_r GROUP BY doc_id)
         |SELECT id_new, id_ref,
         |  round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 4) AS jaccard
         |FROM inter
         |JOIN szn s1 ON s1.doc_id = id_new
         |JOIN szr s2 ON s2.doc_id = id_ref
         |WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8
         |ORDER BY id_new, id_ref""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // the corpus side is the persisted band index, built by this run
      // (the nightly flow's ingest step) and then probed, so the run
      // reads no index an earlier run left behind; BandIndex.matches is
      // output-identical to sketching the raw corpus by construction
      // (spec-pinned), so the raw-corpus oracle replay still certifies it
      val idx = "gidx_" + dir.toLowerCase.replaceAll("[^a-z0-9]", "_")
      graft.operators.BandIndex.build(docs.filter(col("doc_id") < 300),
        "doc_id", "text", numHashes = 64, bands = 16, buckets = 8, idx)
      graft.operators.BandIndex.matches(
          docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
          "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.8, idx)
        .orderBy("id_new", "id_ref")
    }
  )

  /** The shared greedy-segmentation CTE chain (`toks`/`w`/`dw`/`seg`/
    * `done`) of the subword oracles, WITHOUT the leading
    * `WITH RECURSIVE` — `done` holds per-distinct-word pieces (`ps`) and
    * piece count (`n`). */
  private def subwordSegCtes(vocab: Seq[String]): String = {
    // longest-first; equal-length distinct pieces cannot both prefix
    // one suffix, so the chain order within a length is cosmetic.
    // Pieces are SQL-escaped — the operator is vocabulary-agnostic, so
    // a vocab entry containing a quote must not break the generated SQL.
    val chain = vocab.sortBy(p => (-p.length, p)).map { p =>
      val q = p.replace("'", "''")
      s"CASE WHEN starts_with(rest, '$q') THEN '$q' END"
    }.mkString(",\n        ")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, i, t[i] AS w
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(1, len(t))) AS i FROM toks)),
       |dw AS (SELECT DISTINCT w FROM w),
       |seg AS (
       |  SELECT w, w AS rest, CAST('' AS VARCHAR) AS ps, 0 AS n
       |  FROM dw
       |  UNION ALL
       |  SELECT w, substring(rest, length(best) + 1),
       |    CASE WHEN ps = '' THEN best ELSE ps || ' ' || best END,
       |    n + 1
       |  FROM (
       |    SELECT w, rest, ps, n,
       |      coalesce(
       |        $chain,
       |        substring(rest, 1, 1)) AS best
       |    FROM seg WHERE rest <> '') x),
       |done AS (SELECT w, ps, n FROM seg WHERE rest = '')""".stripMargin
  }

  /** Unrolled SQL replay of the true-BPE merge loop (gate
    * txt_bpe_apply): the kernel's reference pass — lowest-rank pair,
    * merge ALL occurrences left-to-right continuing past each merged
    * pair, re-pick — is serialized as iterated SINGLE-leftmost-occurrence
    * merges with a STICKY pick (keep the previous step's pair while its
    * pattern is still contained, else the min-rank pattern contained),
    * which reaches the same fixpoint (the equivalence argument lives on
    * [[graft.functions.BpeApply]]; BpeApplySpec pins it property-style).
    * Each step is one first-match `regexp_replace` (DuckDB replaces only
    * the LEFTMOST match without the 'g' flag). maxLen−1 chained steps
    * provably reach the fixpoint: qualifying words have ≤ maxLen chars
    * and every productive step removes exactly one piece, so no
    * recursion is needed (and each step CTE has exactly one consumer —
    * no DuckDB re-inlining hazard). */
  private def bpeApplyOracle(merges: Seq[String], maxLen: Int,
      scopeLim: Int): String =
    bpeOracleSql(merges, maxLen, s"WHERE doc_id < $scopeLim",
      s"[a-z]{1,$maxLen}", countsOnly = false)

  /** Corpus-wide counts-only variant (gate txt_bpe_corpus): the same
    * unrolled sticky-pick replay over EVERY document's qualifying words,
    * aggregated to per-doc word/piece totals — no piece strings, which
    * keeps the oracle's output tiny while its merge loop still certifies
    * every word's final piece count at production scope. */
  private def bpeCorpusOracle(merges: Seq[String], maxLen: Int,
      wordRe: String): String =
    bpeOracleSql(merges, maxLen, "", wordRe, countsOnly = true)

  /** Unrolled SQL replay of BPE merge TRAINING (gate txt_bpe_train):
    * the Sennrich loop — count adjacent piece pairs weighted by
    * word-type frequency, pick the max (ties lexicographic on (x, y)),
    * merge all its occurrences left-to-right, repeat. Each round's
    * merge-apply is serialized exactly like the bpeApplyOracle inference
    * replay: iterated SINGLE-leftmost `regexp_replace` of the chosen
    * pair's boundary pattern to fixpoint (merging (x,y) can never create
    * a new (x,y) adjacency — xy is strictly longer than both — so
    * leftmost iteration visits the reference pass's occurrences in
    * order), unrolled to floor(maxLen/2) sub-steps, the maximum
    * occurrence count of one pair in a <= maxLen-char word. Every CTE is
    * MATERIALIZED: the chosen-pair CTEs have one consumer per sub-step
    * and DuckDB would otherwise re-execute the whole training chain per
    * consumer (the r13 band-stream oracle lesson). Learned pieces are
    * always [a-z0-9~]* under the gate's word scope, so the only regex
    * metacharacter in the built pattern is the boundary '|' itself. */
  private[queries] def bpeTrainOracle(steps: Int, maxLen: Int,
      wordRe: String): String = {
    val subSteps = maxLen / 2
    def applyCtes(k: Int): String = {
      val chain = (1 to subSteps).map { j =>
        val srcTable = if (j == 1) s"v${k - 1}" else s"a${k}_${j - 1}"
        s"""a${k}_$j AS MATERIALIZED (
           |  SELECT w, freq,
           |    CASE WHEN contains(s, '|' || b.x || '|' || b.y || '|')
           |         THEN regexp_replace(s,
           |           '\\|' || b.x || '\\|' || b.y || '\\|',
           |           '|' || b.x || b.y || '|')
           |         ELSE s END AS s
           |  FROM $srcTable, b$k b)""".stripMargin
      }.mkString(",\n")
      s"""$chain,
         |v$k AS MATERIALIZED (
         |  SELECT w, freq, s FROM a${k}_$subSteps)""".stripMargin
    }
    val rounds = (1 to steps).map { k =>
      s"""pc$k AS MATERIALIZED (
         |  SELECT l[i] AS x, l[i + 1] AS y, sum(freq) AS cnt
         |  FROM (SELECT freq, l, unnest(generate_series(2, len(l) - 2)) AS i
         |        FROM (SELECT freq, string_split(s, '|') AS l
         |              FROM v${k - 1}) z0) z
         |  GROUP BY l[i], l[i + 1]),
         |b$k AS MATERIALIZED (
         |  SELECT x, y, cnt FROM pc$k ORDER BY cnt DESC, x, y LIMIT 1),
         |${applyCtes(k)}""".stripMargin
    }.mkString(",\n")
    val out = (1 to steps).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS step, x, y, x || y AS merged,
         |  CAST(cnt AS BIGINT) AS pair_count FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v0 AS MATERIALIZED (
       |  SELECT w, count(*) AS freq,
       |    '|' || array_to_string(string_split(w, ''), '|') || '|' AS s
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents) t
       |  WHERE regexp_matches(w, '^$wordRe$$')
       |  GROUP BY w),
       |$rounds
       |$out
       |ORDER BY step""".stripMargin
  }

  private def bpeOracleSql(merges: Seq[String], maxLen: Int,
      scope: String, wordRe: String, countsOnly: Boolean): String = {
    def rx(lit: String): String =
      lit.flatMap(c => if (c.isLetterOrDigit) s"$c" else s"\\$c")
    val vals = merges.zipWithIndex.map { case (m, i) =>
      val sp = m.indexOf(' ')
      val (x, y) = (m.substring(0, sp), m.substring(sp + 1))
      s"('|$x|$y|', '${rx(s"|$x|$y|")}', '|$x$y|', $i)"
    }.mkString(",\n    ")
    val steps = (1 until maxLen).map { k =>
      s"""s$k AS (
         |  SELECT doc_id, wi,
         |    CASE WHEN m.pat IS NULL THEN s
         |         ELSE regexp_replace(s, m.rx, m.rep) END AS s,
         |    m.r AS pr
         |  FROM s${k - 1} LEFT JOIN LATERAL (
         |    SELECT pat, rx, rep, r FROM merges
         |    WHERE contains(s${k - 1}.s, pat)
         |    ORDER BY (r IS DISTINCT FROM s${k - 1}.pr), r LIMIT 1) m
         |    ON TRUE)""".stripMargin
    }.mkString(",\n")
    val per =
      if (countsOnly)
        s"""per AS (
           |  SELECT doc_id, count(*) AS n_words,
           |    sum(len(string_split(s, '|')) - 2) AS n_pieces
           |  FROM s${maxLen - 1} GROUP BY doc_id)
           |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           |  CAST(n_pieces AS BIGINT) AS n_pieces
           |FROM per ORDER BY doc_id""".stripMargin
      else
        s"""per AS (
           |  SELECT doc_id, count(*) AS n_words,
           |    sum(len(string_split(s, '|')) - 2) AS n_pieces,
           |    md5(string_agg(s, ' ' ORDER BY wi)) AS pieces_md5
           |  FROM s${maxLen - 1} GROUP BY doc_id)
           |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           |  CAST(n_pieces AS BIGINT) AS n_pieces, pieces_md5
           |FROM per ORDER BY doc_id""".stripMargin
    s"""WITH merges(pat, rx, rep, r) AS (VALUES
       |    $vals),
       |toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents $scope),
       |w AS (
       |  SELECT doc_id, i AS wi, t[i] AS w
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
       |        FROM toks) x
       |  WHERE regexp_matches(t[i], '^$wordRe$$')),
       |s0 AS (
       |  SELECT doc_id, wi,
       |    '|' || array_to_string(string_split(w, ''), '|') || '|' AS s,
       |    CAST(NULL AS INTEGER) AS pr
       |  FROM w),
       |$steps,
       |$per""".stripMargin
  }

  /** Recursive-CTE replay of the greedy longest-match subword
    * segmentation: the step peels the same piece the native kernel
    * takes — the longest vocab entry prefixing the remaining suffix,
    * else one character — via a literal length-descending COALESCE
    * chain (no aggregate/correlated subquery in the recursive term, so
    * any standard SQL engine runs it). Distinct words segment once;
    * per-doc stats re-join on the word. */
  private def subwordOracle(vocab: Seq[String]): String =
    s"""WITH RECURSIVE
       |${subwordSegCtes(vocab)},
       |per AS (
       |  SELECT t.doc_id, count(*) AS n_words, sum(d.n) AS n_subwords,
       |    string_agg(d.ps, ' ' ORDER BY t.i) AS pstream
       |  FROM w t JOIN done d USING (w)
       |  GROUP BY t.doc_id)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_subwords AS BIGINT) AS n_subwords,
       |  round(CAST(n_subwords AS DOUBLE) / n_words, 4) AS fertility,
       |  md5(pstream) AS pieces_md5
       |FROM per ORDER BY doc_id""".stripMargin

  /** Recursive-CTE replay of the SUBWORD token-budget shard: the same
    * greedy segmentation chain feeding the running-total budget cut of
    * smp_token_budget — docs in id order kept while the cumulative
    * subword count stays within the budget. */
  private[queries] def subwordBudgetOracle(vocab: Seq[String],
      budget: Long): String =
    s"""WITH RECURSIVE
       |${subwordSegCtes(vocab)},
       |per AS (
       |  SELECT t.doc_id, sum(d.n) AS n_sub
       |  FROM w t JOIN done d USING (w)
       |  GROUP BY t.doc_id),
       |b AS (
       |  SELECT doc_id, sum(n_sub) OVER (ORDER BY doc_id) AS cum_tokens
       |  FROM per)
       |SELECT doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM b WHERE cum_tokens <= $budget
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[graft.operators.CountMin]]: the affine constants
    * inlined as literals, cells built from the same one-explode-per-row
    * unnest, estimates as the min over left-joined cells (0 when a cell
    * was never touched), exact counts from a left join on the token. */
  private def cmsOracle(depth: Int, width: Int, terms: Seq[String],
      where: String = ""): String = {
    val p = graft.operators.Dedup.minhashP
    def buckets(hExpr: String): String =
      (0 until depth).map { i =>
        s"(${graft.operators.Dedup.affineA(i)} * $hExpr + ${graft.operators.Dedup.affineC(i)}) % $p % $width"
      }.mkString(",\n        ")
    val idx = (0 until depth).mkString(", ")
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents $where),
       |h AS (
       |  SELECT ('0x' || substring(md5(tok), 1, 15))::BIGINT % $p AS h
       |  FROM tok),
       |cells AS (
       |  SELECT i, b, count(*) AS cnt FROM (
       |    SELECT unnest([$idx]) AS i,
       |      unnest([${buckets("h")}]) AS b
       |    FROM h) x
       |  GROUP BY i, b),
       |terms AS (SELECT unnest([$termList]) AS term),
       |th AS (
       |  SELECT term,
       |    ('0x' || substring(md5(term), 1, 15))::BIGINT % $p AS h
       |  FROM terms),
       |probes AS (
       |  SELECT term, unnest([$idx]) AS i,
       |    unnest([${buckets("h")}]) AS b
       |  FROM th),
       |est AS (
       |  SELECT term, min(coalesce(cnt, 0)) AS cms_est
       |  FROM probes LEFT JOIN cells USING (i, b)
       |  GROUP BY term),
       |ex AS (
       |  SELECT t.term, count(k.tok) AS exact_cnt
       |  FROM terms t LEFT JOIN tok k ON k.tok = t.term
       |  GROUP BY t.term)
       |SELECT term, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       |  CAST(cms_est AS BIGINT) AS cms_est
       |FROM est JOIN ex USING (term)
       |ORDER BY term""".stripMargin
  }

  /** The winnowing selection (k=3, w=4) as a CTE chain ending in `r`
    * (rows with rn = 1 are the selected fingerprints) — shared by the
    * selection gate and the overlap-pairs gate. Emitted WITHOUT the
    * leading WITH. */
  /** The documents the near-duplicate gates scope to: doc_id < 200. */
  private def nearDupScope(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents").filter(col("doc_id") < 200)

  /** The near-duplicate pairs (id1 < id2) of [[nearDupScope]]: word sets
    * at Jaccard >= 0.8. */
  private def nearDupPairs(docs: org.apache.spark.sql.DataFrame) =
    Dedup.jaccardPairs(Dedup.tokenSet(docs, "doc_id", "text"), 0.8)

  /** The oracle side of [[nearDupPairs]] and its transitive closure, after
    * a `WITH RECURSIVE`: word sets `w`, sizes `sz`, shared-word counts
    * `inter`, the Jaccard >= 0.8 `pairs`, both edge directions `edges`,
    * and `walk(s, d)`, every doc `d` reachable from `s`. */
  private def closureCtes: String =
    """w AS (
      |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE doc_id < 200),
      |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id1, id2 FROM inter
      |  JOIN sz s1 ON s1.doc_id = id1
      |  JOIN sz s2 ON s2.doc_id = id2
      |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8),
      |edges AS (
      |  SELECT id1 AS s, id2 AS d FROM pairs
      |  UNION SELECT id2, id1 FROM pairs),
      |walk(s, d) AS (
      |  SELECT s, d FROM edges
      |  UNION
      |  SELECT walk.s, e.d FROM walk JOIN edges e ON walk.d = e.s)""".stripMargin

  private def winnowingCtes: String =
    """t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    ('0x' || substring(md5(
      |      array_to_string(list_slice(tk, i, i + 2), ' ')), 1, 15))::BIGINT
      |      AS h
      |  FROM (SELECT doc_id, tk,
      |          unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
      |        FROM t)
      |  WHERE len(list_slice(tk, i, i + 2)) = 3),
      |gg AS (
      |  SELECT doc_id, pos, h,
      |    greatest(max(pos) OVER (PARTITION BY doc_id) - 3, 1) AS last_win
      |  FROM g),
      |gw AS (
      |  SELECT doc_id, pos, h,
      |    unnest(generate_series(greatest(pos - 3, 1), least(pos, last_win)))
      |      AS win
      |  FROM gg),
      |r AS (
      |  SELECT doc_id, pos, h, win,
      |    row_number() OVER (PARTITION BY doc_id, win ORDER BY h, pos DESC)
      |      AS rn
      |  FROM gw)""".stripMargin

  /** The portable-MinHash sketch pipeline as a CTE chain over `sourceCte`
    * (which must expose doc_id + text): distinct token sets → md5-family
    * min-hashes → md5 band hashes → candidate pairs sharing any band →
    * per-pair intersection counts. Emitted WITHOUT a leading WITH so
    * callers can prepend their own CTEs (quality filter, exact dedup). */
  /** The tokenize → base-hash → affine-signature → band-hash CTE chain
    * for one corpus side, CTE names suffixed so two sides can coexist in
    * one query (the incremental-dedup oracle). Constants are emitted from
    * the SAME functions the Spark plan uses (Dedup.affineA/affineC), so
    * the twins cannot drift. */
  private def sketchCoreCtes(sourceCte: String, sfx: String,
      numHashes: Int, bands: Int, shingleN: Int = 1): String = {
    val rows = numHashes / bands
    val p = Dedup.minhashP
    val sigCols = (0 until numHashes).map(i =>
      s"min((${Dedup.affineA(i)} * bh + ${Dedup.affineC(i)}) % $p) AS sig_$i")
      .mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val slice = (b * rows until (b + 1) * rows).map(r => s"sig_$r")
        .mkString(", ")
      s"  SELECT doc_id, $b AS band_idx, md5(concat_ws(',', $slice)) AS band_hash FROM sigs$sfx"
    }.mkString("\n  UNION ALL\n")
    // shingle mode replays Dedup.shingleSet: n-token windows joined with
    // ' ' (docs shorter than n tokens yield no shingles — generate_series
    // with a non-positive stop is empty, matching the Spark size filter)
    val wCte =
      if (shingleN == 1)
        s"""w$sfx AS (
           |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
           |  FROM $sourceCte)""".stripMargin
      else
        s"""shtok$sfx AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           |  FROM $sourceCte),
           |w$sfx AS (
           |  SELECT DISTINCT doc_id,
           |    array_to_string(t[i:i+${shingleN - 1}], ' ') AS w
           |  FROM (SELECT doc_id, t,
           |          unnest(generate_series(1, len(t) - ${shingleN - 1})) AS i
           |        FROM shtok$sfx) x)""".stripMargin
    s"""$wCte,
       |wb$sfx AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(w), 1, 15))::BIGINT % $p AS bh
       |  FROM w$sfx),
       |sigs$sfx AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM wb$sfx GROUP BY doc_id),
       |bands$sfx AS (
       |$bandSelects)""".stripMargin
  }

  private def minhashSketchCtes(sourceCte: String, numHashes: Int,
      bands: Int, shingleN: Int = 1): String = {
    s"""${sketchCoreCtes(sourceCte, "", numHashes, bands, shingleN)},
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id1, c.id2, count(*) AS c
       |  FROM cands c
       |  JOIN w a ON a.doc_id = c.id1
       |  JOIN w b ON b.doc_id = c.id2 AND a.w = b.w
       |  GROUP BY c.id1, c.id2)""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Dedup.minhashNearDupsPortable]]:
    * the sketch CTE chain over a doc_id-scoped corpus + the Jaccard
    * verification select. */
  private def minhashPortableOracle(scopeLim: Int, numHashes: Int,
      bands: Int, threshold: Double, shingleN: Int = 1): String =
    s"""WITH scope AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < $scopeLim),
       |${minhashSketchCtes("scope", numHashes, bands, shingleN)}
       |SELECT id1, id2,
       |  round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 4) AS jaccard
       |FROM inter
       |JOIN sz s1 ON s1.doc_id = id1
       |JOIN sz s2 ON s2.doc_id = id2
       |WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= $threshold
       |ORDER BY id1, id2""".stripMargin

  /** DuckDB oracle scaffolding for the md5-keyed 60-bit SimHash: tokenize →
    * 60-bit token hash from md5 hex → per-bit +1/-1 vote sums → signature.
    * `body` runs over the `sums` CTE (or `sig`, when `withSigCte`);
    * %SIG% expands to the bit-reassembly sum (non-overlapping powers of
    * two, so + is bitwise OR). */
  private def simhashOracle(body: String, withSigCte: Boolean = false): String = {
    val bitSums = (0 until 60).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS bit_$i")
      .mkString(",\n    ")
    val sig = (0 until 60).map(i =>
      s"(CASE WHEN bit_$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    val sigCte = if (withSigCte)
      s",\nsig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM sums)"
    else ""
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h
       |  FROM tok),
       |sums AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM hashed GROUP BY doc_id)$sigCte
       |${body.replace("%SIG%", sig)}""".stripMargin
  }
}
