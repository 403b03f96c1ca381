package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sketch-path operators cross-verified against their exact counterparts
  * on the real testdata (sf0.001 — documents/embeddings are the same 500
  * rows at every sf). */
class OperatorsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = graft.core.Tables(spark, dir, "documents")
  private lazy val emb = graft.core.Tables(spark, dir, "embeddings")

  test("minhash-LSH near-dups: candidates verified, recall vs exact all-pairs") {
    val scoped = docs.filter(col("doc_id") < 100)
    val exact = Dedup.jaccardPairs(
        Dedup.tokenSet(scoped, "doc_id", "text"), 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(scoped, "doc_id", "text", 64, 16, 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // LSH output is verified with exact jaccard -> no false positives
    assert(lsh.subsetOf(exact))
    // banding (b=16, r=4) catches >= ~95% of pairs at s=0.8 in expectation
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("first-collision candidates = distinct candidates, exactly once each") {
    // the first-collision join must reproduce the legacy distinct's pair
    // SET (same candidates reach verification) while emitting each pair
    // exactly ONCE (the whole point: no dedup exchange needed)
    val scoped = docs.filter(col("doc_id") < 100)
    val (bands, _) = Dedup.xxSketch(scoped, "doc_id", "text", 64, 16,
      carryAll = true)
    val narrow = bands.drop("bhs")
    val legacy = narrow.as("a")
      .join(narrow.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fcRows = Dedup.lshCandidatesFirstCollision(bands)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fcRows.toSet === legacy)
    assert(fcRows.size === fcRows.toSet.size,
      "first-collision emitted a pair more than once")
  }

  test("shingle-mode minhash: pairs subset of exact bigram-jaccard pairs") {
    val scoped = docs.filter(col("doc_id") < 100)
    val exact = Dedup.jaccardPairs(
        Dedup.shingleSet(scoped, "doc_id", "text", 2), 0.25)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(scoped, "doc_id", "text", 64, 16, 0.25,
        shingleN = 2)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty, "shingle LSH found no pairs at 0.25 on this corpus")
  }

  test("portable (md5) minhash: no false positives, recall vs exact pairs") {
    val scoped = docs.filter(col("doc_id") < 100)
    val exact = Dedup.jaccardPairs(
        Dedup.tokenSet(scoped, "doc_id", "text"), 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val port = Dedup.minhashNearDupsPortable(scoped, "doc_id", "text", 64, 16, 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(port.subsetOf(exact))
    assert(exact.nonEmpty)
    assert(port.size.toDouble / exact.size >= 0.9,
      s"portable LSH recall ${port.size}/${exact.size}")
  }

  test("incremental dedup: matches are exact cross-pairs, survivors disjoint") {
    val newDocs = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
    val corpus = docs.filter(col("doc_id") < 100)
    // exact cross-side truth: jaccard over every (new, corpus) pair
    val nSets = Dedup.tokenSet(newDocs, "doc_id", "text")
    val cSets = Dedup.tokenSet(corpus, "doc_id", "text")
    val nArr = nSets.groupBy("doc_id").agg(collect_set(col("w")).as("t1"))
    val cArr = cSets.groupBy("doc_id").agg(collect_set(col("w")).as("t2"))
    val exact = nArr.as("a").crossJoin(cArr.as("b"))
      .withColumn("c", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("j", col("c").cast("double")
        / (size(col("t1")) + size(col("t2")) - col("c")).cast("double"))
      .filter(col("j") >= 0.8)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val matches = Oracles.incrementalNearDups(newDocs, corpus,
        "doc_id", "text", 64, 16, 0.8)
      .select("id_new", "id_ref")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matches.subsetOf(exact), "verified matches must be true pairs")
    assert(exact.nonEmpty)
    assert(matches.size.toDouble / exact.size >= 0.9,
      s"incremental recall ${matches.size}/${exact.size}")
    // no corpus-side ids ever appear on the new side
    assert(matches.forall { case (n, _) => n >= 100 && n < 150 })

    val survivors = Oracles.dedupAgainstCorpus(newDocs, corpus,
        "doc_id", "text", 64, 16, 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = matches.map(_._1)
    assert(survivors.intersect(dropped).isEmpty)
    assert(survivors.union(dropped)
      === newDocs.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("weighted sample: deterministic, k rows, weight-dominant doc included") {
    val base = docs.limit(100)
      .withColumn("skey", concat(lit("ws|"), col("doc_id")))
    def run() = Sampling.weightedSample(base, "skey", length(col("text")), 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s1 = run()
    assert(s1.size === 20)
    assert(s1 === run(), "hash-derived draw must be reproducible")
    // a doc with overwhelming weight is (near-)surely included:
    // u^(1/w) -> 1 as w -> inf while everyone else stays strictly below
    val boosted = base.withColumn("wt",
      when(col("doc_id") === 7, lit(1e12)).otherwise(lit(1.0)))
    val heavy = Sampling.weightedSample(boosted, "skey", col("wt"), 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(heavy.contains(7L), s"dominant-weight doc missing from $heavy")
    // zero/negative weights are excluded from the draw entirely
    val zeroed = base.withColumn("wt",
      when(col("doc_id") < 50, lit(0.0)).otherwise(lit(1.0)))
    val nz = Sampling.weightedSample(zeroed, "skey", col("wt"), 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nz.forall(_ >= 50))
  }

  test("random projection: deterministic, JL norm preserved on average") {
    def norms(k: Int) = Similarity.randomProjection(emb, k, 64)
      .groupBy("vec_id").agg(sum(col("v") * col("v")).as("p2"))
    val p2 = norms(8).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val x2 = emb.select(col("vec_id"),
        (Similarity.l2norm(col("embedding"))
          * Similarity.l2norm(col("embedding"))).as("n2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // E||y||^2 = ||x||^2 under the sqrt(3/k) scale; at k=8 individual
    // ratios are noisy but the corpus mean concentrates near 1
    val ratios = p2.map { case (id, p) => p / x2(id) }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean outside JL band")
    // seeded planes -> bit-reproducible across runs
    val again = norms(8).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again === p2)
  }

  test("keepList drops exactly the min-id-dominated docs") {
    val scoped = docs.filter(col("doc_id") < 100)
    val pairs = Dedup.jaccardPairs(Dedup.tokenSet(scoped, "doc_id", "text"), 0.8)
    val dropped = pairs.select("id2").distinct().collect().map(_.getLong(0)).toSet
    val kept = Dedup.keepList(scoped, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.intersect(dropped).isEmpty)
    assert(kept.union(dropped).size === scoped.count())
  }

  test("connected components: chains and stars collapse to the min id") {
    import spark.implicits._
    // chain 1-2, 2-3 plus star 5-7, 6-7 (merge through the HIGHER id —
    // the case a greedy single round cannot resolve) plus isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L), (6L, 7L), (10L, 11L))
      .toDF("id1", "id2")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 10L -> 10L, 11L -> 10L))
  }

  test("keepList is one greedy round: pairs (5,7), (6,7) keep both 5 and 6") {
    import spark.implicits._
    val docsDf = (1L to 12L).toDF("doc_id")
    val pairs = Seq((5L, 7L), (6L, 7L)).toDF("id1", "id2")
    // greedy keepList sees only id2=7 -> keeps 5 AND 6 (transitive
    // closure would merge 5,6 through 7; that is keepBest's job)
    val greedy = Dedup.keepList(docsDf, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(greedy === (1L to 12L).toSet - 7L)
  }

  test("connected components: 200-node chain converges (pointer jumping)") {
    import spark.implicits._
    // a path graph has diameter 199 — one-hop propagation would need 199
    // rounds; path halving must close it within the default 20
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id1", "id2")
    val comps = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size === 200)
    assert(comps.values.forall(_ === 0L), "chain must collapse to node 0")
  }

  test("star contraction ≡ label propagation on chains, merges, and the corpus") {
    import spark.implicits._
    // the same adversarial shapes the label-prop tests pin, plus the
    // real near-dup graph: both algorithms must emit identical labelings
    val shapes = Seq(
      Seq((1L, 2L), (2L, 3L), (5L, 7L), (6L, 7L), (10L, 11L)).toDF("id1", "id2"),
      (0L until 60L).map(i => (i, i + 1)).toDF("id1", "id2"), // path, diam 60
      (1L to 50L).map(i => (0L, i)).toDF("id1", "id2"),       // hot-node star
      Dedup.jaccardPairs(
        Dedup.tokenSet(docs.filter(col("doc_id") < 100), "doc_id", "text"), 0.8))
    shapes.foreach { pairs =>
      val lp = Dedup.connectedComponents(pairs, driverMax = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Dedup.connectedComponentsStar(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val uf = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === lp)
      assert(uf === lp, "driver union-find must equal the distributed forms")
    }
  }

  test("connectedComponents dispatches by measured graph shape, correct on all branches") {
    import spark.implicits._
    // the star/min-label boundary: star only for extreme mean degree
    // (measured gate graphs reach ratio 33 and min-label still wins)
    assert(!Dedup.starPreferred(e = 200, v = 201))     // chain: vertex-shaped
    assert(!Dedup.starPreferred(e = 4449, v = 134))    // densest gate graph
    assert(Dedup.starPreferred(e = 70000, v = 500))    // hot-node explosion
    // DEFAULT dispatch on a bounded graph = the driver union-find branch:
    // observable as a LocalRelation-only plan (no distributed loop ran)
    val tiny = Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2"))
    assert(tiny.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "bounded graphs must close driver-side:\n" +
        tiny.queryExecution.optimizedPlan.toString)
    assert(tiny.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // driverMax = 0 pins the DISTRIBUTED dispatch; min-label branch:
    // hub graph, 2048 edges / 516 vertices (ratio ~4)
    val sparse2 = Dedup.connectedComponents(
      (for (h <- 0L until 4L; i <- 4L until 516L) yield (h, i))
        .toDF("id1", "id2"), driverMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sparse2.values.forall(_ === 0L) && sparse2.size === 516)
    // distributed dispatch, star branch: K300 (44,850 edges / 300
    // vertices, ratio ~150)
    val k300 = (for (i <- 0L until 300L; j <- (i + 1) until 300L) yield (i, j))
      .toDF("id1", "id2")
    val dense = Dedup.connectedComponents(k300, driverMax = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dense === (0L until 300L).map(_ -> 0L).toMap)
    // chain (ratio ~1, min-label branch) against the same pinned
    // distributed entry point; also via the default (driver) branch for
    // the three-way equality
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id1", "id2")
    val sparse = Dedup.connectedComponents(chain, driverMax = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sparse.values.forall(_ === 0L) && sparse.size === 31)
    val sparseDriver = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sparseDriver === sparse)
    // non-integral ids must NOT take the driver branch (it reads longs):
    // string doc ids route to the distributed loops and still close
    val strComps = Dedup.connectedComponents(
      Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id1", "id2"))
    assert(strComps.schema("doc_id").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(strComps.collect().map(r => r.getString(0) -> r.getString(1)).toMap ===
      Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // integral-but-not-long ids take the driver branch and KEEP their type
    val intComps = Dedup.connectedComponents(
      Seq((1, 2), (2, 3)).toDF("id1", "id2"))
    assert(intComps.schema("doc_id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(intComps.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ===
      Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("clusterSizeHistogram: one row per size, self-pairs count as singletons") {
    import spark.implicits._
    val docsDf = (1L to 6L).toDF("doc_id")
    // pair cluster {1,2}, self-pair (5,5) — a self-paired doc is a
    // singleton CLUSTER and must merge into the arithmetic size-1 bucket
    // (two rows for cluster_size=1 would break keyed consumers)
    val pairs = Seq((1L, 2L), (5L, 5L)).toDF("id1", "id2")
    val hist = Dedup.clusterSizeHistogram(docsDf, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(hist.map(_._1).distinct.length === hist.length,
      s"duplicate cluster_size keys in ${hist.toSeq}")
    // {1,2} is a 2-cluster; 3,4,5,6 are singletons (5 via its self-pair)
    assert(hist.toMap === Map(1L -> 4L, 2L -> 1L))
  }

  test("star contraction fails loud when maxIter is too small") {
    import spark.implicits._
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("id1", "id2")
    intercept[IllegalStateException] {
      Dedup.connectedComponentsStar(chain, maxIter = 1).collect()
    }
  }

  test("connected components on the real corpus: comp is min of its members") {
    val scoped = docs.filter(col("doc_id") < 100)
    val pairs = Dedup.jaccardPairs(Dedup.tokenSet(scoped, "doc_id", "text"), 0.8)
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every component label is itself a member and the minimum
    comps.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keySet.min === label)
      assert(comps(label) === label)
    }
  }

  test("simhash: identical docs collide at hamming 0; near-dup join finds them") {
    val dupes = docs.limit(20)
      .union(docs.limit(20).withColumn("doc_id", col("doc_id") + 10000))
    val sigs = Dedup.simhashSig(dupes, "doc_id", "text", xxhash64(_), 64)
    val pairs = Dedup.simhashNearDups(sigs, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every doc pairs with its shifted twin at distance 0
    (0L until 20L).foreach { id =>
      assert(pairs.contains((id, id + 10000)), s"missing twin pair for $id")
    }
  }

  test("simhash md5 variant: same bit-vote semantics, twins at hamming 0") {
    val dupes = docs.limit(20)
      .union(docs.limit(20).withColumn("doc_id", col("doc_id") + 10000))
    val sigs = Dedup.simhashMd5(dupes, "doc_id", "text")
    val pairs = Dedup.simhashNearDups(sigs, maxHamming = 0, chunks = 4, bits = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 20L).foreach { id =>
      assert(pairs.contains((id, id + 10000)), s"missing twin pair for $id")
    }
    // 60-bit signature: top 4 bits always clear
    val maxSig = sigs.agg(max(col("simhash"))).head().getLong(0)
    assert(maxSig < (1L << 60), "md5 variant must produce a 60-bit signature")
  }

  test("simhash pigeonhole: 8x8 chunking finds the same pairs as 4x16") {
    // both chunkings are complete for maxHamming=3 (< 4 and < 8 chunks),
    // so after the hamming filter the pair sets must be identical — the
    // narrower chunks only change candidate-join selectivity
    val sigs = Dedup.simhashSig(docs, "doc_id", "text", xxhash64(_), 64)
    val p4 = Dedup.simhashNearDups(sigs, maxHamming = 3, chunks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p8 = Dedup.simhashNearDups(sigs, maxHamming = 3, chunks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p4 === p8)
    assert(p4.nonEmpty, "corpus has near-dup twins; expected pairs")
  }

  test("simhash chunking selectivity: wider chunks generate fewer candidates") {
    // The scale knob, measured: 4×16 hashes each position into 2^16
    // buckets, 8×8 into only 2^8, so the narrower chunking pays a larger
    // candidate set for its stronger d<8 completeness guarantee. Recall
    // parity at d<=3 is asserted in the test above; here we pin the cost
    // side so a future "more chunks is free" change trips an assertion.
    val sigs = Dedup.simhashSig(docs, "doc_id", "text", xxhash64(_), 64).cache()
    try {
      val c4 = Dedup.simhashCandidates(sigs, chunks = 4).count()
      val c8 = Dedup.simhashCandidates(sigs, chunks = 8).count()
      assert(c4 <= c8,
        s"4x16 candidates ($c4) must not exceed 8x8 candidates ($c8)")
      assert(c8 > 0)
    } finally sigs.unpersist()
  }

  test("simhash pigeonhole: rejects maxHamming >= chunks (incomplete)") {
    val sigs = Dedup.simhashSig(docs.limit(5), "doc_id", "text", xxhash64(_), 64)
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(sigs, maxHamming = 4, chunks = 4)
    }
  }

  test("gopher rules: each rule flips the pass flag at its boundary") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val w50 = (1 to 48).map(i => s"word$i").mkString(" ") // 48 filler words
    val docsRows = Seq(
      Row(1L, s"the a $w50"),                       // 50 words, all rules pass
      Row(2L, "the a short doc"),                   // < 50 words
      Row(3L, s"the a ${"#### " * 48}".trim),       // symbol ratio ≈ 4× words
      Row(4L, ("- the a bullet line\n" * 20).trim), // 100% bullet lines
      Row(5L, ("the a trailing line...\n" * 20).trim), // 100% ellipsis lines
      Row(6L, s"the a ${(1 to 48).map(_.toString).mkString(" ")}"), // digits
      Row(7L, w50 + " more words"),                 // no required stopwords
      Row(8L, s"the a ${(1 to 48).map(i => "x" * 20 + i).mkString(" ")}"), // mwl > 10
      Row(9L, s"the a ${"… " * 48}".trim))          // unicode ellipsis ratio
    val df = mkDf(StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))),
      docsRows)
    val out = df.select(Seq(col("doc_id")) ++
        TextOps.gopherColumns(col("text"), Seq("the", "a")): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("gopher_pass"), r.getAs[Long]("n_words"))).toMap
    assert(out(1L)._1, s"baseline doc must pass: ${out(1L)}")
    for (id <- 2L to 9L)
      assert(!out(id)._1, s"doc $id must fail its targeted rule")
    // spot-check the targeted metric actually drove each failure
    val m = df.select(Seq(col("doc_id")) ++
        TextOps.gopherColumns(col("text"), Seq("the", "a")): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(2L).getAs[Long]("n_words") < 50)
    assert(m(3L).getAs[Double]("hash_ratio") > 0.1)
    assert(m(4L).getAs[Double]("bullet_line_ratio") > 0.9)
    assert(m(5L).getAs[Double]("ellipsis_ratio") > 0.1) // '...' per-symbol cut
    assert(m(5L).getAs[Double]("ellipsis_line_ratio") > 0.3)
    assert(m(6L).getAs[Double]("alpha_word_ratio") < 0.8)
    assert(m(7L).getAs[Long]("n_stopwords") < 2)
    assert(m(8L).getAs[Double]("mean_word_len") > 10.0)
    assert(m(9L).getAs[Double]("ellipsis_ratio") > 0.1) // U+2026 counted
    assert(m(9L).getAs[Double]("hash_ratio") == 0.0)
    // per-symbol independence: a doc near-passing on each symbol alone
    // must not fail on their sum (the paper's rule is per symbol)
    val mixed = mkDf(df.schema, Seq(Row(10L,
      s"the a ${"#" * 3} ${"…" * 3} $w50 word49 word50 word51")))
    val mm = mixed.select(Seq(col("doc_id")) ++
        TextOps.gopherColumns(col("text"), Seq("the", "a")): _*)
      .collect().head
    assert(mm.getAs[Double]("hash_ratio") <= 0.1 &&
      mm.getAs[Double]("ellipsis_ratio") <= 0.1 &&
      mm.getAs[Boolean]("gopher_pass"),
      s"per-symbol cutoffs must not combine: $mm")
  }

  test("countMin: overcount-only estimates within the epsilon-N band") {
    val (depth, width) = (4, 256)
    val sketch = CountMin.buildTokens(docs, "text", depth, width)
    val cells = sketch.collect()
    assert(cells.length <= depth * width, "sketch must be bounded by d×w")
    val totalTokens = docs.select(
      org.apache.spark.sql.functions.sum(graft.operators.TextOps.tokenCount(col("text"))))
      .collect()(0).getLong(0)
    // every row of the sketch holds the full stream count
    val perRow = cells.groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(2)).sum)
    perRow.foreach { case (r, s) =>
      assert(s == totalTokens, s"row $r sums $s, stream is $totalTokens") }

    val exact = docs.select(explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val terms = Seq("spark", "customer", "the", "window", "merge", "zzz_absent")
    val est = CountMin.estimateTerms(sketch, terms, depth, width)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach { t =>
      val ex = exact.getOrElse(t, 0L)
      assert(est(t) >= ex, s"$t: CMS must never undercount (${est(t)} < $ex)")
      // ε = e/width bound on the overcount, deterministic slack ×3 for
      // the fixed corpus (usual bound holds w.h.p., not surely)
      assert(est(t) - ex <= 3L * math.ceil(math.E / width * totalTokens).toLong,
        s"$t overcounts implausibly: est ${est(t)}, exact $ex, N $totalTokens")
    }
  }

  test("keepBest: one max-score representative per component, unpaired kept") {
    val scoped = docs.filter(col("doc_id") < 200)
    val pairs = Dedup.jaccardPairs(Dedup.tokenSet(scoped, "doc_id", "text"), 0.8)
    val kept = Dedup.keepBest(scoped, "doc_id", col("n_chars"), pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = scoped.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byComp = comps.keys.groupBy(comps)
    assert(byComp.nonEmpty, "corpus must contain near-dup components")
    byComp.values.foreach { ids =>
      val repId = -ids.map(id => (sizes(id), -id)).max._2
      assert(ids.toSet.filter(kept) == Set(repId),
        s"component $ids must keep exactly its best member $repId")
    }
    val unpaired = sizes.keySet -- comps.keySet
    assert(unpaired.subsetOf(kept), "unpaired docs must all be kept")
    assert(kept.size == unpaired.size + byComp.size)
    // the rule must actually engage on this corpus: some component's
    // longest member is not its lowest id (stable property of the fixed
    // sf0.001 fixture — 3 diverging components at the gate's params)
    val minIdReps = byComp.values.map(_.min).toSet
    val bestReps = kept -- unpaired
    assert(minIdReps != bestReps,
      "corpus must distinguish quality resolution from min-id resolution")
  }

  test("bm25: top-k equals the driver-side reference scorer") {
    val terms = Seq("spark", "customer", "the")
    val out = TextOps.bm25(docs, "doc_id", "text", terms, topK = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.length == 20)

    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    val dfs = terms.map(t => t -> corpus.values.count(_.contains(t)).toDouble).toMap
    def score(toks: Seq[String]): Double = {
      val dl = toks.size.toDouble
      terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        val idf = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
        idf * (tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 * dl / avgdl))
      }.reduce(_ + _)
    }
    val ref = corpus.toSeq
      .map { case (id, toks) =>
        (id, BigDecimal(score(toks)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, s) => (-s, id) }.take(20)
    assert(out.toSeq == ref,
      s"top-20 differs:\n  got ${out.toSeq.take(5)}\n  ref ${ref.take(5)}")
  }

  test("pplBuckets: distributed tiers equal the single-window ntile") {
    import org.apache.spark.sql.expressions.{Window => W}
    for (k <- Seq(2, 3, 7)) {
      val out = TextOps.pplBuckets(docs, "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // reference: the single-partition ntile window the operator avoids
      val ref = TextOps.lmScore(docs, "doc_id", "text")
        .withColumn("b", ntile(k).over(
          W.orderBy(col("lm_score").desc_nulls_last, col("doc_id"))))
        .collect().map(r => r.getLong(0) -> r.getInt(3).toLong).toMap
      assert(out == ref, s"k=$k tier mismatch: " +
        out.filter { case (id, b) => ref(id) != b }.take(5).toString)
    }
    // k larger than the corpus: every doc its own bucket by rank
    val tiny = docs.filter(col("doc_id") < 4)
    val solo = TextOps.pplBuckets(tiny, "doc_id", "text", 1000)
      .collect().map(_.getLong(2)).sorted
    assert(solo.sameElements(1L to solo.length))
  }

  test("semDedup: cluster-bucketed keep set equals the brute-force rule") {
    val tau = 0.3
    val centroids = Similarity.portableCentroids(emb, 16)
    val out = Similarity.semDedup(emb, "vec_id", "embedding", centroids, tau)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size == emb.count())

    // reference: same assignment via the independent clusterAssign window,
    // then the upper-triangular drop rule computed driver-side
    val assign = Similarity.clusterAssign(emb, "vec_id", "embedding", centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = vecs.keys.groupBy(assign)
    val refDropped = byCluster.values.flatMap { ids =>
      val sorted = ids.toSeq.sorted
      sorted.filter(x => sorted.exists(y =>
        y < x && cos(vecs(y), vecs(x)) >= tau))
    }.toSet

    assert(out.forall { case (id, (cl, _)) => assign(id) == cl },
      "assignment disagrees with clusterAssign")
    val dropped = out.collect { case (id, (_, false)) => id }.toSet
    assert(dropped == refDropped,
      s"drop sets differ: extra=${dropped -- refDropped}, missing=${refDropped -- dropped}")
    // both branches must carry data at the gate's params on this corpus
    assert(dropped.nonEmpty && dropped.size < out.size)
  }

  test("ANN (LSH multi-probe) recall@5 vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(queries, emb, numPlanes = 6, dim = 64, k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // isotropic random 64-d vectors are the worst case for sign-LSH: the
    // true top-5 sit at cosine ~0.4, where per-plane agreement is ~0.63 and
    // hamming-2 probing over 22/64 buckets tops out near 0.5 recall (vs
    // scanning 34% of the space). Clustered/near-dup data is the real use
    // case — asserted at 0.9 below.
    assert(recall >= 0.4, s"ANN recall@5 $recall unexpectedly low")
    assert(ann.nonEmpty)
  }

  test("IVF ANN: recall vs brute force at 4/16 probed cells") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, emb, numCentroids = 16, k = 5, nProbe = 4)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // probing 4/16 cells scans ~25% of the corpus; random vectors again
    // the worst case for any partition-based index
    assert(recall >= 0.3, s"IVF recall@5 $recall unexpectedly low")
    assert(ivf.nonEmpty)

    // Lloyd refinement: balanced cells concentrate true neighbors in the
    // probed cells — recall must clear 0.5 at the same nProbe budget
    val refined = Similarity.ivfTopK(queries, emb,
        numCentroids = 16, k = 5, nProbe = 4, lloydIters = 2)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refinedRecall = (exact & refined).size.toDouble / exact.size
    assert(refinedRecall >= 0.5,
      s"k-means-refined IVF recall@5 $refinedRecall (raw was $recall)")

    // the PORTABLE (md5-sample) quantizer behind the hash-green gate is a
    // uniform sample like lloydIters = 0 — same recall floor applies
    val portable = Similarity.ivfTopKPortable(queries, emb,
        numCentroids = 16, k = 5, nProbe = 4)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val portableRecall = (exact & portable).size.toDouble / exact.size
    assert(portableRecall >= 0.3,
      s"portable IVF recall@5 $portableRecall unexpectedly low")
    assert(portable.nonEmpty)
  }

  test("kmeans centroids: deterministic, fixed count, refines assignments") {
    val c1 = Similarity.kmeansCentroids(emb, 16, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val c2 = Similarity.kmeansCentroids(emb, 16, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c1.size === 16)
    assert(c1.keySet === c2.keySet)
    // mean-update determinism up to float-sum ordering: compare rounded
    c1.foreach { case (id, v) =>
      v.zip(c2(id)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"centroid $id differs: $a vs $b") }
    }
  }

  test("ANN finds planted near-duplicates (the dedup use case)") {
    // plant a cosine≈0.999 twin of each query vector
    val twins = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * 1.001 + 0.0001).as("embedding"))
    val spiked = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("embedding"))
      .union(twins)
    val ann = Similarity.annTopK(
        spiked.filter(col("vec_id") < 10), spiked, 6, 64, 1)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0L until 10L).count(q => ann.contains((q, q + 100000L)))
    assert(found >= 9, s"only $found/10 planted twins found")
  }

  test("language-ID heuristic picks the profile language; und when unknown") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the cat sat on a mat with the dog"),
      (2L, "der hund ist ein tier und das haus"),
      (3L, "le chat est un animal et la maison"),
      (4L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val out = TextOps.langId(col("text"))
    val got = samples.select(col("doc_id"), out.as("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "en" && got(2L) === "de" && got(3L) === "fr"
      && got(4L) === "und")
  }

  test("normalize collapses whitespace; redact masks emails and digit runs") {
    import spark.implicits._
    val df = Seq(
      (1L, "  Hello \t WORLD  "),
      (2L, "mail a.b+c@x-y.co and 123456789 now; short 12345 stays"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextOps.normalize(col("text")).as("n"),
        TextOps.redact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(1L)._1 === "hello world")
    assert(out(2L)._2 === "mail <EMAIL> and <NUM> now; short 12345 stays")
  }

  test("rolling hash: deterministic, content-sensitive") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "abd"), (3L, "abc")).toDF("doc_id", "text")
    val hs = df.select(TextOps.rollingHash(col("text")).as("h"))
      .collect().map(_.getLong(0))
    assert(hs(0) === hs(2))
    assert(hs(0) !== hs(1))
  }

  test("multimodal decode stub: typed partition pipeline, deterministic meta") {
    val meta = Multimodal.decodeStub(spark, Multimodal.attachBlob(docs.limit(50)))
    val rows = meta.collect()
    assert(rows.length === 50)
    assert(rows.forall(m => m.width >= 64 && m.height >= 64 && m.n_bytes > 0))
    // deterministic: same input -> same features
    val again = Multimodal.decodeStub(spark, Multimodal.attachBlob(docs.limit(50))).collect()
    assert(rows.map(m => (m.doc_id, m.width, m.height, m.format)).toSet ===
      again.map(m => (m.doc_id, m.width, m.height, m.format)).toSet)
  }

  test("frame sampling stub: one row per chunk, partition-local") {
    val frames = Multimodal.sampleFrames(spark,
      Multimodal.attachBlob(docs.limit(5)), stride = 100)
    assert(frames.count() > 5)
    assert(frames.columns.toSeq === Seq("doc_id", "frame_idx", "frame_bytes"))
  }

  test("containment: embedded doc scores 1.0 from the small side only") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma"),                       // subset of doc 2
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "unrelated words entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(
        Dedup.tokenSet(df, "doc_id", "text"), threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc 1 is fully contained in doc 2; the reverse direction is 3/10
    // and doc 3 shares nothing — both below threshold
    assert(pairs === Set((1L, 2L, 1.0)))
  }

  test("containment prefix-filter path equals the all-pairs verifier") {
    // the minhash_portable pattern: the scale path must reproduce the
    // quadratic verifier EXACTLY (prefix filtering is complete, not
    // probabilistic) — checked at a lenient and a strict threshold on a
    // scoped slice of the real corpus
    val docs150 = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 150)
    Seq(0.5, 0.8).foreach { t =>
      val sets = Dedup.tokenSet(docs150, "doc_id", "text")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      val exact = Dedup.containmentPairs(sets, t).collect().map(key).toSet
      val toks = sets.groupBy("doc_id")
        .agg(sort_array(collect_set(col("w"))).as("toks"))
      val prefix = Dedup.containmentPairsPrefixArr(toks, t)
        .collect().map(key).toSet
      assert(prefix === exact, s"threshold $t: prefix path diverged")
    }
  }

  test("winnowing: every window covered, density near 2/(w+1)") {
    val w = 4
    val sel = TextOps.winnow(docs, "doc_id", "text", k = 3, w = w)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos")))
      .groupBy(_._1)
    assert(sel.size === 500, "every doc fingerprinted")
    sel.foreach { case (id, ps) =>
      val pos = ps.map(_._2).sorted
      // the winnowing guarantee: a fingerprint in every w-gram window →
      // first selection within the first window, consecutive gaps <= w
      assert(pos.head <= w, s"doc $id first fingerprint at ${pos.head}")
      pos.sliding(2).foreach {
        case Array(a, b) => assert(b - a <= w, s"doc $id gap $a -> $b")
        case _ => ()
      }
    }
    // expected density 2/(w+1) = 0.4 of grams; generous band
    val nGrams = docs.select(org.apache.spark.sql.functions
      .greatest(TextOps.tokenCount(col("text")) - 2, lit(0L))).collect()
      .map(_.getLong(0)).sum
    val density = sel.values.map(_.size).sum.toDouble / nGrams
    assert(density > 0.2 && density < 0.6, s"winnowing density $density")
  }

  test("quantized top-k recall vs exact brute force") {
    // int8 rounding on 64-dim vectors should barely move the top-5 set
    val queries = emb.filter(col("vec_id") < 20)
    def topSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topSet(Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "cand_id"))
    val quant = topSet(Similarity.quantizedTopK(queries, emb, 5)
      .select("query_id", "cand_id"))
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall $recall too low")
  }

  test("VectorMean aggregator equals the per-dimension explode-avg") {
    // the kmeans M-step replacement must reproduce the posexplode → avg →
    // reassembly it displaced (modulo FP summation order)
    val vecs = emb.select(col("label"),
      transform(col("embedding"), _.cast("double")).as("e"))
    val vmean = org.apache.spark.sql.functions.udaf(Aggregators.VectorMean())
    val fast = vecs.groupBy("label").agg(vmean(col("e")).as("m"))
      .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
    val slow = vecs.select(col("label"), posexplode(col("e")))
      .groupBy(col("label"), col("pos")).agg(avg(col("col")).as("v"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        s => s.getField("v")).as("m"))
      .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
    assert(fast.keySet === slow.keySet)
    fast.foreach { case (k, v) =>
      val w = slow(k)
      assert(v.length === w.length)
      v.indices.foreach(i => assert(math.abs(v(i) - w(i)) < 1e-9,
        s"label $k dim $i: ${v(i)} vs ${w(i)}"))
    }
  }

  test("lmScore: verbatim duplicates tie; stereotyped text beats shuffled") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),  // exact dup of 1 -> identical score
      (3L, "the cat sat on the mat"),
      (4L, "mat the on sat cat the")   // same tokens, unseen transitions
    ).toDF("doc_id", "text")
    val rows = graft.operators.TextOps.lmScore(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._2).forall(_ === 5L), "5 bigrams per 6-token doc")
    assert(rows(0)._3 === rows(1)._3 && rows(1)._3 === rows(2)._3)
    // the common phrasing is higher-probability than the scrambled one
    assert(rows(0)._3 > rows(3)._3,
      s"expected stereotyped ${rows(0)._3} > shuffled ${rows(3)._3}")
  }

  test("tfidf: corpus-wide terms score 0; rarer terms rank higher") {
    import spark.implicits._
    val df = Seq(
      (1L, "common rare1 common"),
      (2L, "common rare2"),
      (3L, "common rare3")
    ).toDF("doc_id", "text")
    val rows = graft.operators.TextOps.tfidf(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // "common" appears in all 3 docs -> idf = ln(1) = exactly 0
    assert(rows.filter(_._2 == "common").forall(_._4 === 0.0))
    // each rareN is unique to its doc: tfidf = 1 * ln(3) ~ 1.0986
    val rare = rows.filter(_._2.startsWith("rare"))
    assert(rare.size === 3 && rare.forall(_._4 === 1.0986))
    // doubled tf doubles the score contribution (tf=2 for doc 1 "common")
    assert(rows.find(r => r._1 == 1L && r._2 == "common").get._3 === 2L)
  }

  test("clusterAssign: centroids self-assign at cos 1.0; assignment total") {
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
    val assigned = Similarity.clusterAssign(emb, "vec_id", "embedding", centroids)
    val rows = assigned.collect()
    assert(rows.length === emb.count(), "every vector gets exactly one cluster")
    val self = rows.filter(_.getLong(0) < 8)
    assert(self.forall(r => r.getLong(1) === r.getLong(0) && r.getDouble(2) === 1.0),
      "a centroid's nearest centroid is itself")
    assert(rows.forall(_.getLong(1) < 8))
  }

  test("shuffleKey: deterministic per epoch, different across epochs") {
    val e0 = Sampling.shuffleKey(docs, "doc_id", epoch = 0)
      .select("doc_id", "shuffle_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val e0again = Sampling.shuffleKey(docs, "doc_id", epoch = 0)
      .select("doc_id", "shuffle_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val e1 = Sampling.shuffleKey(docs, "doc_id", epoch = 1)
      .select("doc_id", "shuffle_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(e0 === e0again, "same epoch must reproduce the same order")
    assert(e0 !== e1, "epochs must permute differently")
    assert(e0.values.toSet.size === e0.size, "keys collision-free at this scale")
  }

  test("segmentDedup keeps only the first-seen occurrence of each chunk") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),   // k=3 segments: "a b c", "d e f" — both fresh
      (2L, "a b c x y z"),   // "a b c" already seen in doc 1 -> only "x y z"
      (3L, "d e f a b c"),   // both segments seen -> fully deduped, empty
      (4L, "a b c g")        // short tail segment "g" survives alone
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", chunkWords = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out === Seq(
      (1L, 2L, "a b c d e f"),
      (2L, 1L, "x y z"),
      (3L, 0L, ""),
      (4L, 1L, "g")))
  }

  test("segmentDedup on the real corpus: output tokens never exceed input") {
    val out = Dedup.segmentDedup(docs, "doc_id", "text", chunkWords = 8)
    val shrunk = out
      .join(docs.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_in")),
        Seq("doc_id"))
      .filter(size(split(col("text_dedup"), "\\s+")) > col("n_in"))
      .count()
    assert(shrunk === 0)
    assert(out.count() === docs.count(), "one output row per input doc")
  }

  test("shingleSet matches a naive sliding window for n=2..4 incl. edge docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"),      // normal: len > n for all tested n
      (2L, "a b"),            // exactly n=2, shorter than n=3
      (3L, "solo"),           // single token: no shingles at any n>=2
      (4L, "  x   y  z "),    // ragged whitespace (tokens() trims/splits)
      (5L, "a b a b a")       // repeats: distinct must dedup shingles
    ).toDF("doc_id", "text")
    def naive(text: String, n: Int): Set[String] =
      text.trim.split("\\s+").toSeq.sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toSet
    for (n <- 2 to 4) {
      val got = Dedup.shingleSet(df, "doc_id", "text", n)
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = df.collect()
        .map(r => r.getLong(0) ->
          naive(r.getString(1), n))
        .filter(_._2.nonEmpty).toMap
      assert(got === want, s"shingle mismatch at n=$n")
    }
  }

  test("segmentDedup hot-key aggregate form == window form (incl. adversarial skew)") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // real corpus parity
    assert(
      rows(Dedup.segmentDedup(docs, "doc_id", "text", 8, hotKeyAggregate = true))
        === rows(Dedup.segmentDedup(docs, "doc_id", "text", 8)),
      "min(struct) aggregate must pick the same first occurrences")
    // adversarial hot key: ONE segment duplicated across every doc (the
    // boilerplate case the fallback exists for), plus a unique tail
    val hot = (1L to 500L).map(i => (i, s"the same boilerplate line u$i"))
      .toDF("doc_id", "text")
    assert(
      rows(Dedup.segmentDedup(hot, "doc_id", "text", 4, hotKeyAggregate = true))
        === rows(Dedup.segmentDedup(hot, "doc_id", "text", 4)),
      "hot-key corpus must dedup identically under both forms")
    // the fallback plan must be an aggregate with map-side partials, not
    // a window: partial_min before the exchange is what de-skews the
    // hot-key partition
    val plan = Dedup.segmentDedup(hot, "doc_id", "text", 4,
      hotKeyAggregate = true).queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") && !plan.toLowerCase.contains("window"),
      "hot-key form must pre-reduce map-side:\n" + plan.take(2000))
  }

  test("dup spans: cross-doc only, and overlapping spans union-merge " +
      "to exact covered-token counts") {
    import spark.implicits._
    // doc 1 and 2 share a 10-token run (positions 3..12 in doc 1, 1..10 in
    // doc 2); doc 3 repeats a 4-token phrase INSIDE itself only; doc 4 is
    // unique text
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (1L, s"a1 a2 $shared a13 a14"),
      (2L, s"$shared b11 b12"),
      (3L, "c1 c2 c3 c4 x c1 c2 c3 c4"),
      (4L, (1 to 12).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")

    val spans = Dedup.dupSpans(corpus, "doc_id", "text", 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // duplicated 4-windows of the shared run: positions 1..7 of it -> 7
    // spans, each in exactly 2 docs, once per doc
    assert(spans.length === 7)
    assert(spans.forall { case (_, nDocs, nOcc) => nDocs === 2 && nOcc === 2 })
    // doc 3's self-repeat never appears: n_docs >= 2 means DISTINCT docs
    assert(spans.forall { case (s, _, _) => !s.startsWith("c") })

    val cov = Dedup.dupSpanCoverage(corpus, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getDouble(3)))).toMap
    // 7 overlapping 4-spans union-merge to exactly the 10 shared tokens —
    // not 7*4 = 28
    assert(cov(1L)._1 === 10L)
    assert(cov(2L)._1 === 10L)
    assert(cov(1L)._2 === (10.0 / 14).round4)
    // self-repeat and unique docs: zero coverage, present via the left join
    assert(cov(3L) === ((0L, 0.0)))
    assert(cov(4L) === ((0L, 0.0)))
  }

  test("strip dup spans: removes exactly the covered positions and " +
      "reassembles the remainder") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (1L, s"a1 a2 $shared a13 a14"),
      (2L, s"$shared b11 b12"),
      (3L, "c1 c2 c3 c4 x c1 c2 c3 c4"),
      (4L, (1 to 12).map(i => s"u$i").mkString(" ")),
      // fully-duplicated pair: strips to the empty string (ExactSubstr
      // removes ALL copies)
      (5L, "z1 z2 z3 z4 z5"),
      (6L, "z1 z2 z3 z4 z5")
    ).toDF("doc_id", "text")
    val got = Dedup.stripDupSpans(corpus, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((14L, 4L, "a1 a2 a13 a14")))
    assert(got(2L) === ((12L, 2L, "b11 b12")))
    // within-doc self-repeat is NOT cross-doc duplication: untouched
    assert(got(3L) === ((9L, 9L, "c1 c2 c3 c4 x c1 c2 c3 c4")))
    assert(got(4L)._2 === 12L)
    assert(got(5L) === ((5L, 0L, "")))
    assert(got(6L) === ((5L, 0L, "")))

    // counts identity vs the coverage metric on the real corpus:
    // kept_tokens == n_tokens - dup_tokens for every doc
    val cov = Dedup.dupSpanCoverage(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1) - r.getLong(2))).toMap
    val strip = Dedup.stripDupSpans(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(strip.forall { case (id, kept, txt) =>
      kept === cov(id) &&
        (if (kept == 0L) txt.isEmpty
         else txt.split("\\s+").length.toLong === kept)
    })
  }

  test("dup span runs: maximal, cross-doc, complete vs the diagonal-walk model") {
    import spark.implicits._
    // independent model: walk every diagonal of every doc pair and emit
    // maximal equal runs of length >= n — the definition, not the
    // seed-and-coalesce construction the operator uses
    def model(docs: Map[Long, Vector[String]], n: Int)
        : Set[(Long, Long, Int, Int, Long)] = {
      val out = scala.collection.mutable.Set
        .empty[(Long, Long, Int, Int, Long)]
      for ((a, ta) <- docs; (b, tb) <- docs if a < b) {
        for (d <- -(tb.length - 1) to (ta.length - 1)) {
          // diagonal: positions (i, i - d) valid in (ta, tb), 0-based
          val i0 = math.max(0, d)
          val i1 = math.min(ta.length - 1, tb.length - 1 + d)
          var i = i0
          while (i <= i1) {
            if (ta(i) == tb(i - d)) {
              var j = i
              while (j + 1 <= i1 && ta(j + 1) == tb(j + 1 - d)) j += 1
              val len = j - i + 1
              if (len >= n)
                out += ((a, b, i + 1, i - d + 1, len.toLong)) // 1-based
              i = j + 1
            } else i = i + 1
          }
        }
      }
      out.toSet
    }
    val rnd = new scala.util.Random(42L)
    val vocab = Vector("a", "b", "c", "d")
    for (trial <- 0 until 20) {
      val docs = (1L to 6L).map { id =>
        id -> Vector.fill(rnd.nextInt(28) + 3)(vocab(rnd.nextInt(4)))
      }.toMap
      val n = 3
      val got = Dedup.dupSpanRuns(
          docs.toSeq.map { case (id, t) => (id, t.mkString(" ")) }
            .toDF("doc_id", "text"),
          "doc_id", "text", n)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getLong(4))).toSet
      assert(got === model(docs, n), s"trial $trial: docs=$docs")
    }
    // the explicit shape: a 10-token block shared between two docs with
    // n=8 is ONE maximal run of length 10 at its true coordinates — not
    // three anonymous 8-windows; a doc's internal self-repeat never pairs
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val runs = Dedup.dupSpanRuns(Seq(
        (1L, s"a1 a2 $shared a13"),
        (2L, s"$shared b11"),
        (3L, "c1 c2 c3 c4 c5 c6 c7 c8 x c1 c2 c3 c4 c5 c6 c7 c8"))
        .toDF("doc_id", "text"), "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getLong(4)))
    assert(runs.toSeq === Seq((1L, 2L, 3, 1, 10L)))
    // maxOccurrences drops over-frequent seed spans from pairing
    val hot = (1L to 5L).map(id => (id, s"h1 h2 h3 h4 tail$id")).toDF("doc_id", "text")
    assert(Dedup.dupSpanRuns(hot, "doc_id", "text", 4).count() === 10L)
    assert(Dedup.dupSpanRuns(hot, "doc_id", "text", 4,
      maxOccurrences = Some(3)).count() === 0L)
  }

  test("chunk: coverage, overlap, and bounds on the real corpus") {
    val w = 32; val s = 24
    val chunks = TextOps.chunk(docs, "doc_id", "text", w, s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val toks = docs.select(col("doc_id"),
        TextOps.tokens(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap

    assert(chunks.map(_._1).toSet === toks.keySet, "every doc chunked")
    toks.foreach { case (id, t) =>
      val mine = chunks.filter(_._1 == id).sortBy(_._2)
      // chunk count = ceil(n / stride); starts are exact stride multiples
      assert(mine.length === (t.length + s - 1) / s, s"doc $id chunk count")
      mine.foreach { case (_, cid, start, n, text) =>
        assert(start === cid * s, s"doc $id chunk $cid start")
        assert(n === math.min(w, t.length - start), s"doc $id chunk $cid len")
        assert(text === t.slice(start.toInt, start.toInt + w).mkString(" "),
          s"doc $id chunk $cid text")
      }
      // every token position covered (stride <= window means no gaps)
      val covered = mine.flatMap { case (_, _, start, n, _) =>
        start until (start + n) }.toSet
      assert(covered === (0L until t.length).toSet, s"doc $id coverage")
    }
  }

  test("chunk: rejects non-positive window/stride; stride>window leaves gaps") {
    intercept[IllegalArgumentException] {
      TextOps.chunk(docs, "doc_id", "text", 0, 1) }
    intercept[IllegalArgumentException] {
      TextOps.chunk(docs, "doc_id", "text", 8, 0) }
    // stride > window is legal (sampled chunks), just not covering
    val sparse = TextOps.chunk(docs.limit(1), "doc_id", "text", 4, 16)
      .collect()
    assert(sparse.forall(_.getLong(3) <= 4))
  }

  test("entropyStats: constant doc at 0, all-distinct at log2(n), corpus sane") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "x x x x x x x x"),            // constant → 0 bits/token
      (2L, "a b c d e f g h"),            // 8 distinct → exactly 3 bits
      (3L, "a a b b"),                    // 2 symbols, equal → 1 bit
      (4L, "solo"))                       // single token → 0 (and not -0.0)
      .toDF("doc_id", "text")
    val got = TextOps.entropyStats(tiny, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) === ((8L, 0.0)))
    assert(got(2L) === ((8L, 3.0)))
    assert(got(3L) === ((4L, 1.0)))
    assert(got(4L) === ((1L, 0.0)))
    assert(1.0 / got(4L)._2 > 0, "single-token entropy must be +0.0, not -0.0")

    // corpus-wide: entropy bounded by log2(n_distinct) <= log2(n_tokens)
    val rep = TextOps.repetitionStats(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    TextOps.entropyStats(docs, "doc_id", "text").collect().foreach { r =>
      val (id, n, h) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(h >= 0.0 && h <= math.log(rep(id).toDouble) / math.log(2) + 1e-9,
        s"doc $id entropy $h outside [0, log2(${rep(id)})]")
      assert(n > 0)
    }
  }

  test("maxInlineCentroidBytes: a malformed conf value names its key") {
    val key = "graft.nearestCentroid.maxInlineBytes"
    assert(Similarity.maxInlineCentroidBytes(spark) === (4L << 20))
    spark.conf.set(key, "12")
    try {
      assert(Similarity.maxInlineCentroidBytes(spark) === 12L)
      spark.conf.set(key, "4MB")
      val e = intercept[IllegalArgumentException](Similarity.maxInlineCentroidBytes(spark))
      assert(e.getMessage.contains(key) && e.getMessage.contains("4MB"), e.getMessage)
    } finally spark.conf.unset(key)
  }

  private implicit class Round4(d: Double) {
    def round4: Double = math.rint(d * 10000) / 10000
  }
}
