package graft

import org.apache.spark.sql.functions._

/** Physical-plan audit: the properties that make these plans scale are
  * asserted, not assumed — filters/projections reach the parquet scan,
  * dimension joins broadcast (no shuffle of the fact side), aggregates
  * are partial, and the hot paths stay inside whole-stage codegen. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String = {
    val q = SparkEntry.allQueries.find(_.name == name)
      .getOrElse(fail(s"no query named $name"))
    val df = q.run(spark, dir)
    df.collect() // finalize THIS query's adaptive plan (count() would plan anew)
    df.queryExecution.executedPlan.toString
  }

  test("q02: predicate and projection pushed into the parquet scan") {
    val plan = physicalPlan("q02_filter_topk")
    // plan rendering truncates long filter lists, so assert on a stable
    // prefix of the pushed-filter set
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus)"), plan.take(2000))
    assert(plan.contains("EqualTo(o_orderstatus,O)"), plan.take(2000))
    // column pruning: the scan reads only the 3 projected + filter columns
    assert(!plan.contains("o_orderpriority"), "scan reads unneeded columns")
  }

  test("q02: top-k executes as TakeOrderedAndProject, not a global sort") {
    assert(physicalPlan("q02_filter_topk").contains("TakeOrderedAndProject"))
  }

  test("q04: dimension joins are broadcast, no shuffle on dims") {
    val plan = physicalPlan("q04_revenue_by_nation")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q01: aggregation is partial (map-side combine before the shuffle)") {
    val plan = physicalPlan("q01_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("partial"),
      plan.take(2000))
  }

  test("q01: hot path inside whole-stage codegen") {
    // codegen'd operators render with the `*(stageId)` prefix
    val plan = physicalPlan("q01_pricing_summary")
    assert(plan.contains("*(1) ") && plan.contains("HashAggregate"),
      plan.take(2000))
  }

  test("etl_incremental_delta: CDC timestamp predicate pushed to the scan") {
    val plan = physicalPlan("etl_incremental_delta")
    // the ts_ns/ts_raw alias collapses to the physical column `ts` once
    // the derived timestamp is pruned away — the raw predicate pushes.
    // Assert the EXACT rendered literal per layout (a timezone or
    // unit-conversion bug in eventsAfter must fail here, not only at the
    // DuckDB gate): the NTZ literal under TIMESTAMP(MICROS), the raw
    // nanos count under TIMESTAMP(NANOS).
    val events = graft.core.Tables(spark, dir, "events")
    val expected =
      if (events.columns.contains("ts_raw")) "GreaterThan(ts,2024-01-25T00:00"
      else "GreaterThan(ts," + graft.core.Tables.eventsTsNanos("2024-01-25T00:00:00Z")
    assert(plan.contains(expected),
      s"exact watermark literal `$expected` must reach PushedFilters:\n"
        + plan.take(2000))
  }

  test("q03: timestamp predicates pushed; lineitem never the broadcast build side") {
    val plan = physicalPlan("q03_unshipped_revenue")
    // both NTZ timestamp literals must reach the parquet row-group stats
    assert(plan.contains("GreaterThan(l_shipdate,1996-03-15T00:00"),
      "l_shipdate predicate must reach PushedFilters:\n" + plan.take(3000))
    assert(plan.contains("LessThan(o_orderdate,1996-03-15T00:00"),
      "o_orderdate predicate must reach PushedFilters:\n" + plan.take(3000))
    // estimator-inversion guard (r9): column pruning prices filtered
    // lineitem under the broadcast threshold while orders⋈customer carries
    // a join-product estimate, so without the SHUFFLE_HASH hint the static
    // planner collects the millions-of-rows lineitem side through the
    // driver. The orderkey join must stay a shuffled hash join building
    // from the doubly-filtered side.
    assert(plan.contains("ShuffledHashJoin [l_orderkey"),
      "orderkey join must be a shuffled hash join:\n" + plan.take(3000))
    // structural check: no broadcast exchange anywhere in the plan may
    // have the lineitem scan in its subtree
    val q = SparkEntry.allQueries.find(_.name == "q03_unshipped_revenue").get
    val df = q.run(spark, dir)
    df.collect()
    // traverse INTO adaptive query stages (collect() alone stops at the
    // AdaptiveSparkPlanExec boundary)
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: allNodes(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: allNodes(s.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val offenders = allNodes(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.child.toString.contains("lineitem") => b
    }
    assert(offenders.isEmpty,
      "lineitem must never be a broadcast build side:\n" +
        offenders.map(_.toString.take(500)).mkString("\n"))
  }

  test("q07/q08: semi and anti joins stay joins (no subquery blowup)") {
    assert(physicalPlan("q07_customers_with_big_orders").contains("LeftSemi"))
    assert(physicalPlan("q08_customers_without_orders").contains("LeftAnti"))
  }

  test("sim_cosine_topk: native cosine expression in the plan (codegen'd)") {
    val plan = physicalPlan("sim_cosine_topk")
    assert(plan.contains("graft_cosine"), plan.take(2000))
    // the interpreted HOF fold would appear as aggregate(zip_with(...))
    assert(!plan.contains("zip_with"), "fold fallback leaked into hot path")
  }

  test("sim hot paths: no per-pair cast on embedding columns (r8 kernel regression guard)") {
    // the multi-type cosine kernel reads array<double|float|long|int>
    // natively (CosineSimilarity.scala); a reintroduced element-type cast
    // would re-execute per candidate PAIR under the nested-loop join (the
    // r7 defect: 55× DuckDB). Pin: the join-side columns feed the kernel
    // raw in both the exact and the quantized paths.
    Seq("sim_cosine_topk", "sim_quantized_topk").foreach { name =>
      val plan = physicalPlan(name)
      Seq("cast(qe", "cast(ce", "transform(qe", "transform(ce").foreach { bad =>
        assert(!plan.contains(bad),
          s"$name: `$bad` re-casts embeddings per pair:\n" + plan.take(3000))
      }
    }
  }

  /** Run `body` with broadcast joins disabled (simulating "build side
    * exceeds the threshold" at 100 TB) and return the executed plan. A
    * forced `broadcast()` hint would still broadcast under these settings,
    * so any BroadcastHashJoin appearing here is a scale bug. */
  private def planWithBroadcastDisabled(df: => org.apache.spark.sql.DataFrame): String = {
    // save/restore each key independently: restoring the adaptive key to
    // the STATIC key's value would pin a conf that was previously unset
    // (unset means "follow the static threshold") and change AQE behavior
    // for every later suite in the shared session
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    keys.foreach(spark.conf.set(_, "-1"))
    try {
      val d = df
      d.collect()
      d.queryExecution.executedPlan.toString
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("minhash verification join is not forced-broadcast (100 TB guard)") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val plan = planWithBroadcastDisabled(
      graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.8))
    assert(!plan.contains("BroadcastHashJoin"),
      "per-doc token-array table must not carry a broadcast hint:\n" + plan.take(3000))
  }

  test("dedup_semantic: within-cluster pairs from a cell equi-join (100 TB guard)") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val plan = planWithBroadcastDisabled(
      graft.operators.Similarity.semDedup(emb, "vec_id", "embedding",
        graft.operators.Similarity.portableCentroids(emb, 16), tau = 0.3))
    // the ONLY nested-loop allowed is the bounded centroid assign; the
    // corpus-sized pair generation must be an equi-join keyed on the
    // CELL id specifically (the keep-flag join on vec_id alone must not
    // satisfy this), and nothing may regress to a cartesian
    assert(plan.contains("SortMergeJoin [cell")
        || plan.contains("ShuffledHashJoin [cell"),
      "pair generation must be an equi-join on cell:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"),
      "no corpus-scale cartesian anywhere in the semDedup plan:\n" +
        plan.take(3000))
    // the assignment frame is materialized once (CacheOnce) — its three
    // consumers must read the cache, not re-run the E-step corpus pass
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      "cells frame must be cached, not recomputed per consumer:\n" +
        plan.take(3000))
  }

  test("q05 customer join is not forced-broadcast (100 TB guard)") {
    val q = SparkEntry.allQueries.find(_.name == "q05_top_customers").get
    val plan = planWithBroadcastDisabled(q.run(spark, dir))
    assert(!plan.contains("BroadcastHashJoin"),
      "customer is fact-scale; only AQE may broadcast it:\n" + plan.take(3000))
  }

  test("q04 broadcasts only true dims; customer side shuffles (100 TB guard)") {
    val q = SparkEntry.allQueries.find(_.name == "q04_revenue_by_nation").get
    val plan = planWithBroadcastDisabled(q.run(spark, dir))
    // nation/region keep their explicit hints (genuine dims)...
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // ...but the customer-side join must fall back to a shuffle join
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      "customer-side join must not be forced-broadcast:\n" + plan.take(3000))
  }

  test("gate-wide audit: no accidental cartesian/nested-loop joins") {
    // Ops whose semantics REQUIRE a non-equi or all-pairs join, documented
    // at their definition: brute-force cosine and all-pairs embedding
    // similarity (exact verifiers), the kmeans/IVF centroid assign
    // (crossJoin against a <=numCentroids frame), and range/interval
    // predicates (q25, asof composition q24).
    // q20 crossJoins a guaranteed single-row aggregate (scalar-subquery
    // pattern — a 1-row broadcast build side costs nothing at any scale).
    val intentional = Set(
      "sim_cosine_topk", "sim_quantized_topk", // broadcast query set × one corpus scan
      "sim_ann_ivf", "sim_ann_ivf_fixed", "dedup_embedding_cosine",
      "emb_cluster_assign", // bounded (8-row) centroid cross join
      "q25_errors_before_purchase", "q24_asof_error_click",
      "q20_above_avg_balance",
      "txt_lm_score", "txt_tfidf", // 1-row vocab/N scalar cross joins
      "txt_bm25", // 1-row corpus-stats scalar cross join
      "dedup_edit_distance") // scoped all-pairs verifier (doc_id < 80)
    // TotalOrder gates get a SCOPED exemption, not a whole-query one: the
    // only admissible nested-loop joins in their plans are (a) the
    // triangular prefix-offset join over the per-partition totals frame
    // (condition on _pid; <= spark.sql.shuffle.partitions rows at ANY
    // data scale) and (b) the condition-free broadcast of the ONE-ROW
    // quantile-boundary frame (sole output column _bnds — the
    // scalar-subquery pattern, same justification as q20). A future
    // accidental cross join elsewhere in those plans still flags.
    val totalOrderGates = Set("etl_surrogate_keys", "smp_token_budget",
      "smp_token_budget_subword", // same cum-sum machinery, subword counts
      "smp_token_shards", "smp_pack_sequences",
      "txt_ppl_buckets") // TotalOrder rank over the cached score frame
    // Bloom gates likewise get a SCOPED exemption: the only admissible
    // nested-loop join is the broadcast of the ONE-ROW bitmap frame
    // (sole output column `bloom`, <= m/64 map entries — the
    // scalar-subquery pattern again). Keyed on the build side's output,
    // not condition-freeness: Catalyst pushes the bloom_pass filter into
    // the join condition in dedup_bloom_new, which only makes the join
    // cheaper. The exact-verification left-anti join stays fully audited.
    val bloomGates = Set("dedup_bloom_prefilter", "dedup_bloom_new")
    // dedup_semantic's SCOPED exemption: the only admissible nested-loop
    // join is the condition-free broadcast of the bounded centroid frame
    // (output exactly (centroid_id, ce); <= numCentroids rows via
    // TakeOrdered at ANY corpus scale). The cluster-pair and keep-flag
    // joins stay fully audited — a pair-generation regression to a
    // cartesian flags here.
    val centroidAssignGates = Set("dedup_semantic")
    def isCentroidBroadcast(j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec): Boolean =
      j.condition.isEmpty &&
        (j.left.output.map(_.name) == Seq("centroid_id", "ce") ||
         j.right.output.map(_.name) == Seq("centroid_id", "ce"))
    def isPidTriangular(cond: Option[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
      cond.exists(_.references.forall(_.name == "_pid"))
    def isOneRowScalarBroadcast(j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec,
        colName: String): Boolean =
      j.left.output.map(_.name) == Seq(colName) ||
        j.right.output.map(_.name) == Seq(colName)
    def isBoundaryBroadcast(j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec): Boolean =
      j.condition.isEmpty && isOneRowScalarBroadcast(j, "_bnds")
    val offenders = SparkEntry.allQueries
      .filterNot(q => intentional(q.name))
      .flatMap { q =>
        val plan = q.run(spark, dir).queryExecution.sparkPlan
        val flags = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
              if !(totalOrderGates(q.name) &&
                   (isPidTriangular(j.condition) || isBoundaryBroadcast(j))) &&
                 !(bloomGates(q.name) && isOneRowScalarBroadcast(j, "bloom")) &&
                 !(centroidAssignGates(q.name) && isCentroidBroadcast(j)) &&
                 // ppl's two one-row scalars (vocab size, distinct-doc count)
                 !(q.name == "txt_ppl_buckets" &&
                   (isOneRowScalarBroadcast(j, "vs") ||
                    isOneRowScalarBroadcast(j, "n_docs"))) &&
                 // temperature sampling's one-row corpus-stats scalar
                 // (N, Σ n^alpha — scalar-subquery pattern; the
                 // per-stratum rate join itself is an audited equi-join)
                 !(q.name == "smp_temperature" && j.condition.isEmpty &&
                   (j.left.output.map(_.name) == Seq("n_total", "z") ||
                    j.right.output.map(_.name) == Seq("n_total", "z"))) &&
                 // DSIR's one-row feature-total scalar (raw_tot, tgt_tot
                 // — scalar-subquery pattern; the bucket ratio join
                 // itself is an audited equi-join)
                 !(q.name == "smp_dsir" && j.condition.isEmpty &&
                   (j.left.output.map(_.name) == Seq("raw_tot", "tgt_tot") ||
                    j.right.output.map(_.name) == Seq("raw_tot", "tgt_tot"))) =>
            "BroadcastNestedLoopJoin"
          case j: org.apache.spark.sql.execution.joins.CartesianProductExec
              if !(totalOrderGates(q.name) && isPidTriangular(j.condition)) =>
            "CartesianProduct"
        }
        if (flags.nonEmpty) Some(s"${q.name}: ${flags.mkString(",")}") else None
      }
    assert(offenders.isEmpty,
      "queries planning nested-loop joins:\n" + offenders.mkString("\n"))
  }

  test("dedup_containment_prefix: equi-join candidates, no forced broadcast") {
    // the prefix-filter pipeline's scale contract: candidate generation is
    // a token equi-join and the verification joins carry no broadcast
    // hint — with broadcast thresholds at -1 (simulating a 100 TB build
    // side) the whole plan must degrade to shuffled equi-joins, never a
    // nested-loop or a still-broadcast join
    val docs = graft.core.Tables(spark, dir, "documents")
    val plan = planWithBroadcastDisabled(
      graft.operators.Dedup.containmentPairsPrefixArr(
        docs.select(col("doc_id"), sort_array(array_distinct(
          graft.operators.TextOps.tokens(col("text")))).as("toks")), 0.8))
    assert(!plan.contains("BroadcastHashJoin"),
      "containment-prefix joins must not be forced-broadcast:\n" + plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"),
      "containment-prefix candidates must come from an equi-join:\n" + plan.take(3000))
  }

  test("dedup_minhash_portable: fused sketch — zero aggregates anywhere") {
    // the r13 MinhashBands restructure's contract: the per-doc token
    // array is per-row algebra, the whole 64-lane signature + band
    // hashing is one kernel call per document, candidates come from the
    // first-collision band self-join (no distinct), and verification
    // reuses the same array frame — so NOTHING in the plan aggregates.
    // A regression back to the exploded (doc, token) stream would
    // reintroduce a HashAggregate and flag here.
    val plan = physicalPlan("dedup_minhash_portable")
    assert(plan.contains("graft_minhash_bands"),
      "fused band kernel missing from the portable sketch plan")
    assert(!plan.contains("HashAggregate")
        && !plan.contains("SortAggregate")
        && !plan.contains("ObjectHashAggregate"),
      "the fused portable pipeline must not aggregate anywhere — the " +
        "sketch is per-row, candidates are first-collision (distinct-free), " +
        "and verification reads the same per-doc arrays:\n" + plan.take(3000))
  }

  test("dedup_minhash_lsh: fused xx sketch — zero aggregates anywhere") {
    // the r14 MinhashBandsXX restructure mirrors the portable contract
    // above for the production xxhash64 family, with ONE deliberate
    // extra exchange: the full-corpus entry redistributes raw doc rows
    // by id before the kernel (a single-row-group corpus file would
    // otherwise run the whole sketch on one task — measured 444 s vs
    // 13 s at 10× when the exchange was dropped; see xxSketch scaladoc)
    val plan = physicalPlan("dedup_minhash_lsh")
    assert(plan.contains("graft_minhash_bands_xx"),
      "fused xx band kernel missing from the lsh plan")
    assert(!plan.contains("HashAggregate")
        && !plan.contains("SortAggregate")
        && !plan.contains("ObjectHashAggregate"),
      "the fused xx pipeline must not aggregate anywhere — the sketch is " +
        "per-row, candidates are first-collision (distinct-free), and " +
        "verification reads the same per-doc arrays:\n" + plan.take(3000))
    assert(plan.contains("hashpartitioning(doc_id"),
      "the full-corpus xx sketch must pre-distribute docs by id:\n" +
        plan.take(3000))
  }

  test("new text ops prune the documents scan to (doc_id, text)") {
    // lang/n_chars etc. must never reach the scan: at 100 TB an unpruned
    // wide read dominates the job cost
    Seq("txt_tfidf", "txt_lm_score", "dedup_segments",
        "txt_entropy", "txt_chunks", "pipe_rag_prep",
        "dedup_span_strip").foreach { name =>
      val plan = physicalPlan(name)
      assert(!plan.contains("n_chars") && !plan.contains("quality_bucket"),
        s"$name reads unneeded document columns:\n" + plan.take(2000))
    }
  }

  test("bpe training: the corpus stage prunes to text and combines map-side") {
    // the vocab build is the trainer's only corpus-scale stage — at
    // 100 TB it must read ONE column and pre-combine each task's word
    // counts before the vocab-keyed exchange (word types, not word
    // occurrences, cross the wire); every later round touches only the
    // word-type vocabulary
    val df = graft.operators.TextOps.bpeVocab(
      graft.core.Tables(spark, dir, "documents"), "text",
      "[a-z]{1,12}(~[0-9]{1,2})?")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      "vocab count must combine map-side:\n" + plan.take(3000))
    assert(!plan.contains("n_chars") && !plan.contains("doc_id"),
      "vocab scan must read only text:\n" + plan.take(3000))
  }

  test("pipe_rag_prep: first-occurrence dedup is a hash aggregate, not a window") {
    // a boilerplate chunk duplicated across millions of documents makes
    // a chunk_text-partitioned window a one-straggler wall at 100 TB;
    // the min(struct) aggregate combines the hot key map-side. Pin the
    // shape: no Window over chunk_text, and a partial_min before the
    // chunk_text exchange (map-side combine actually planned).
    val plan = physicalPlan("pipe_rag_prep")
    assert(!plan.contains("Window"),
      "rag-prep first-occurrence must not plan a window:\n" + plan.take(3000))
    assert(plan.contains("partial_min"),
      "rag-prep dedup aggregate must combine map-side:\n" + plan.take(3000))
  }

  test("smp_dsir: scan reads only (doc_id, text, source)") {
    // the DSIR scorer needs text (grams), source (target label) and the
    // id — lang/n_chars reaching the scan would widen every corpus read
    val plan = physicalPlan("smp_dsir")
    assert(!plan.contains("n_chars") && !plan.contains("lang"),
      s"smp_dsir reads unneeded document columns:\n" + plan.take(2000))
  }

  test("smp_temperature: text never reaches either documents scan") {
    // the rate pass needs only the stratum column and the filter pass
    // only (doc_id, lang) — at 100 TB an accidental text read in either
    // scan dominates the job
    val plan = physicalPlan("smp_temperature")
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    assert(reads.nonEmpty, "no parquet scans found:\n" + plan.take(2000))
    reads.foreach(rs => assert(!rs.contains("text"),
      s"temperature sampling scan reads text: $rs"))
  }

  test("dedup_segments: first-occurrence window partitions by segment text") {
    // the window must hash-partition on seg (linear shuffle), never a
    // global single-partition sort
    val plan = physicalPlan("dedup_segments")
    assert(plan.contains("hashpartitioning(seg"),
      "segment window must shuffle on the segment key:\n" + plan.take(3000))
    assert(!plan.contains("SinglePartition"),
      "no stage may collapse to a single partition:\n" + plan.take(3000))
  }

  test("gate-wide audit: no single-partition window in any gate plan") {
    // Window.orderBy with no partition spec moves ALL rows to one
    // partition — the round-4 scale defect in etl_surrogate_keys /
    // smp_token_budget / smp_token_shards, now rewritten onto
    // TotalOrder's two-pass range-partition form. This sweep pins every
    // current and future gate to partitioned windows only.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow,
      GlobalLimit, Project, Filter => LogicalFilter, LogicalPlan}
    import org.apache.spark.sql.catalyst.expressions.Literal
    // the ONE admissible unpartitioned-window shape: input bounded by a
    // literal plan-level LIMIT (TotalOrder's top-k rank path — the
    // window sees <= TopKLimitMax rows at ANY corpus scale). Walk only
    // through row-non-increasing unary nodes so a join/explode between
    // the limit and the window (which could re-inflate rows) still flags.
    def limitBounded(p: LogicalPlan): Boolean = p match {
      case g: GlobalLimit => g.limitExpr match {
        case Literal(v: Int, _) =>
          v <= graft.operators.TotalOrder.TopKLimitMax
        case _ => false
      }
      case pr: Project       => limitBounded(pr.child)
      case f: LogicalFilter  => limitBounded(f.child)
      case _                 => false
    }
    val offenders = SparkEntry.allQueries.flatMap { q =>
      val lp = q.run(spark, dir).queryExecution.optimizedPlan
      val n = lp.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty &&
          !limitBounded(w.child) => w
      }.size
      if (n > 0) Some(s"${q.name}: $n unpartitioned window(s)") else None
    }
    assert(offenders.isEmpty,
      "queries planning single-partition windows:\n" + offenders.mkString("\n"))
  }

  test("TotalOrder: range partition + per-pid window, offsets broadcast") {
    // the two-pass form's physical shape (the UNSERVED path —
    // smp_token_shards has no budget bound, so it never reads order
    // stats): one range exchange on the order key (global order across
    // partitions), the intra-partition window hash-partitioned on _pid,
    // and the prefix offsets joined by a broadcast — never a
    // single-partition WindowExec
    val plan = physicalPlan("smp_token_shards")
    assert(plan.contains("rangepartitioning(doc_id"),
      "order key must be range-partitioned:\n" + plan.take(3000))
    assert(plan.contains("hashpartitioning(_pid"),
      "window must shuffle on the partition id:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "prefix offsets must broadcast:\n" + plan.take(3000))
    // the totals branch and the data branch must SHARE the one slim _pid
    // exchange (r9): without the reuse each branch re-runs the input
    // projection — for the token gates a full per-doc tokenize pass
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
        || plan.contains("table cache"),
      "both TotalOrder branches must read one shared exchange:\n" + plan.take(3000))
  }

  test("token budget gates: served stats collapse the plan to one window pass") {
    // with order stats built (the gate body's ensureOrderStats call
    // fills the session memo, fingerprint-checked against the corpus
    // files), the bounded cut
    // must carry NO aggregate, NO join, and NO exchange other than the
    // window's own _pid hash and the presentation sort: bucket ids and
    // prefix offsets ride as literals, and the scan itself is pruned by
    // a literal boundary predicate (buckets past the budget never
    // tokenize). A regression to the totals-recompute shape — a second
    // corpus pass per cut — flags here.
    for (gate <- Seq("smp_token_budget", "smp_token_budget_subword")) {
      val q = SparkEntry.allQueries.find(_.name == gate).get
      val df = q.run(spark, dir)
      df.collect()
      val physical = df.queryExecution.executedPlan.toString
      val logical = df.queryExecution.optimizedPlan
      assert(logical.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty, s"$gate: served plan must not aggregate:\n" +
        physical.take(3000))
      assert(logical.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty, s"$gate: served plan must not join:\n" +
        physical.take(3000))
      assert(physical.contains("hashpartitioning(_pid"),
        s"$gate: window must shuffle on the partition id:\n" +
          physical.take(3000))
    }
  }

  test("dedup_incremental: cross-side candidates from equi-joins only") {
    // the nightly-batch contract: new bands against corpus bands is an
    // equi-join on (band_idx, band_hash); with broadcast disabled
    // (corpus-scale build sides) no broadcast or nested-loop join may
    // survive anywhere in the pipeline
    val docs = graft.core.Tables(spark, dir, "documents")
    val plan = planWithBroadcastDisabled(
      graft.operators.Oracles.incrementalNearDups(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 150),
        docs.filter(col("doc_id") < 100),
        "doc_id", "text", 64, 16, 0.8))
    assert(!plan.contains("BroadcastHashJoin"),
      "incremental dedup joins must not be forced-broadcast:\n" + plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"),
      "incremental candidates must come from equi-joins:\n" + plan.take(3000))
  }

  test("txt_winnowing: fused kernel plan — one exchange, no sort-agg, no window") {
    // the r11 WinnowFingerprints shape: scan → byDoc exchange → project
    // (kernel) → explode. The composed form's w-fold explode, struct-min
    // SortAggregate, and corpus-wide distinct must all be gone.
    val plan = physicalPlan("txt_winnowing")
    assert(plan.contains("graft_winnow_fingerprints")
        || plan.contains("WinnowFingerprints")
        || plan.contains("winnow"),
      "fused kernel missing from the plan:\n" + plan.take(3000))
    assert(!plan.contains("SortAggregate"),
      "struct-min sort aggregate crept back in:\n" + plan.take(3000))
    // the only exchanges allowed: the byDoc repartition and the gate's
    // own orderBy range exchange. AQE renders the initial plan after the
    // final one — count within the final plan only.
    val finalPlan = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan
      case i  => plan.substring(0, i)
    }
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(finalPlan).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1,
      s"expected exactly the byDoc hash exchange, got $exchanges:\n" +
        plan.take(3000))
  }

  test("etl_surrogate_keys: bounded numbering is a top-k, zero data shuffle") {
    // r12 bounded row numbering: rank-with-LIMIT executes as a
    // TakeOrderedAndProject (per-partition heap, driver merge of <= bound
    // rows) — ONE scan of orders, no corpus exchange at all. The rank
    // window runs over the <= bound-row top-k output only (the gate-wide
    // audit admits unpartitioned windows exactly when a literal LIMIT
    // bounds their input).
    val plan = physicalPlan("etl_surrogate_keys")
    // AQE renders the initial plan after the final one — audit the final
    val finalPlan = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan
      case i  => plan.substring(0, i)
    }
    assert(finalPlan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!finalPlan.contains("Exchange hashpartitioning"),
      "top-k numbering must not shuffle the data:\n" + plan.take(3000))
    val scans = "FileScan parquet".r.findAllIn(finalPlan).size
    assert(scans == 1,
      s"expected one orders scan, got $scans:\n" + plan.take(3000))
  }

  test("transform stage: dim builders prune source scans to used columns") {
    val address = graft.etl.Schemas.address
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), address)
    val plan = graft.etl.DimBuilders.dimLocation(df)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("created_at"), "watermark columns not pruned:\n" + plan)
  }
}
