package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{GQuery, Tables}
import graft.operators.{Multimodal, Similarity}

/** Similarity-search + multimodal capabilities through the driver gate.
  * Brute-force cosine top-k carries a DuckDB oracle (list_cosine_similarity
  * over DOUBLE[] matches the engine's sequential double fold); the LSH ANN
  * path is rows-only and recall-checked against brute force in
  * OperatorsSpec. */
object SimilarityQueries {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables(s, dir, n)

  val dim = 64

  val defs: Seq[GQuery] = Seq(

    // ---- Exact brute-force cosine top-5 for 10 query vectors.
    GQuery(
      "sim_cosine_topk",
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS ce
        |      FROM embeddings),
        |s AS (SELECT query_id, cand_id,
        |        list_cosine_similarity(qe, ce) AS cos
        |      FROM q CROSS JOIN c WHERE cand_id <> query_id),
        |r AS (SELECT query_id, cand_id, cos,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, cand_id) AS rn
        |      FROM s)
        |SELECT query_id, cand_id, round(cos, 4) AS cosine,
        |  CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 5)
        .orderBy("query_id", "rn")
    },

    // ---- Top-k over the int8-quantized corpus (memory-bound production
    // path; cosine's scale invariance means scoring the integer qvec
    // equals scoring the dequantized vector). Fully oracle-checked: the
    // quantization replay of emb_quantize_int8 feeds the same
    // cosine/top-k tail as sim_cosine_topk.
    GQuery(
      "sim_quantized_topk",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (
        |  SELECT vec_id, e,
        |    greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
        |      1e-30) AS scale
        |  FROM v),
        |c AS (
        |  SELECT vec_id AS cand_id,
        |    list_transform(e,
        |      x -> CAST(CAST(round(x / scale) AS BIGINT) AS DOUBLE)) AS ce
        |  FROM s),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
        |sc AS (SELECT query_id, cand_id, list_cosine_similarity(qe, ce) AS cos
        |       FROM q CROSS JOIN c WHERE cand_id <> query_id),
        |r AS (SELECT query_id, cand_id, cos,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, cand_id) AS rn
        |      FROM sc)
        |SELECT query_id, cand_id, round(cos, 4) + 0.0 AS cosine,
        |  CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(emb.filter(col("vec_id") < 10), emb, 5)
        .withColumn("cosine", col("cosine") + lit(0.0))
        .orderBy("query_id", "rn")
    },

    // ---- ANN via LSH buckets + multi-probe (scale path). Full oracle:
    // the seeded hyperplanes and the Hamming-probe mask list are inlined
    // as SQL literals, so DuckDB replays bucket assignment, probe
    // expansion, the bucket equi-join, and the per-query top-k — recall
    // vs brute force is additionally asserted in OperatorsSpec.
    GQuery("sim_ann_lsh",
      annLshOracle(numPlanes = 6, k = 5, maxProbeHamming = 2)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.annTopK(emb.filter(col("vec_id") < 10), emb,
          numPlanes = 6, dim = dim, k = 5)
        .orderBy("query_id", "rn")
    },

    // ---- IVF-style ANN (Lloyd-refined coarse quantizer + probed cells;
    // recall vs brute force asserted in OperatorsSpec).
    GQuery.noOracle("sim_ann_ivf") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          numCentroids = 16, k = 5, nProbe = 4, lloydIters = 2)
        .orderBy("query_id", "rn")
    },

    // ---- IVF with the PORTABLE md5-sample coarse quantizer: identical
    // dataflow (assign → cell equi-join → re-rank) but every step is
    // SQL-replayable, so the whole IVF pipeline — centroid sample, cell
    // assignment with its tie-break, probe expansion, re-rank — sits under
    // one hash-checked gate; the Lloyd-refined twin above keeps the
    // recall story.
    GQuery(
      "sim_ann_ivf_fixed",
      """WITH ranked AS (
        |  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings
        |  ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        |    vec_id
        |  LIMIT 16),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |ca AS (
        |  SELECT v.vec_id, v.e, r.centroid_id,
        |    row_number() OVER (PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(e, ce) DESC, centroid_id) AS crn
        |  FROM v CROSS JOIN ranked r),
        |cells AS (SELECT vec_id AS cand_id, e AS cemb, centroid_id AS cell
        |          FROM ca WHERE crn = 1),
        |probes AS (SELECT vec_id AS query_id, e AS qe, centroid_id AS cell
        |           FROM ca WHERE vec_id < 10 AND crn <= 4),
        |s AS (SELECT query_id, cand_id,
        |        list_cosine_similarity(qe, cemb) AS cos
        |      FROM cells JOIN probes USING (cell)
        |      WHERE cand_id <> query_id),
        |r AS (SELECT query_id, cand_id, cos,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, cand_id) AS rn
        |      FROM s)
        |SELECT query_id, cand_id, round(cos, 4) AS cosine, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKPortable(emb.filter(col("vec_id") < 10), emb,
          numCentroids = 16, k = 5, nProbe = 4)
        .orderBy("query_id", "rn")
    },

    // ---- Streaming IVF-index maintenance, replayed: the similarity twin
    // of stream_banddedup_replay — a persisted IVF index (portable
    // md5-sample quantizer, so the WHOLE story is SQL-replayable) built
    // on a base corpus, then grown by two micro-batches through the
    // EXACT production trigger body (AnnStream.trigger: assign against
    // the frozen quantizer → deliver the assignment → guarded append),
    // with an at-least-once REPLAY of batch 0. The replay certifies the
    // append guard: a retried trigger re-delivers the same assignments
    // (n_deliveries 2 for batch 0) but must not duplicate index rows
    // (n_index_rows stays 1, read LIVE from the hive-partitioned cells
    // layout every run). The delivered `cell` is hash-checked against
    // the oracle's replay of the md5-sample + cosine-argmax assignment,
    // so the quantizer freeze — not just the counts — is certified.
    // Every run is deterministic BY RESET: buildPortable overwrites the
    // centroids and the cells layout before the triggers, and
    // n_deliveries counts this run's deliveries.
    GQuery(
      "stream_ann_append_replay",
      """WITH ranked AS (
        |  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings WHERE vec_id < 300
        |  ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        |    vec_id
        |  LIMIT 16),
        |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |      FROM embeddings WHERE vec_id >= 300 AND vec_id < 400),
        |ca AS (
        |  SELECT b.vec_id, r.centroid_id,
        |    row_number() OVER (PARTITION BY b.vec_id
        |      ORDER BY list_cosine_similarity(e, ce) DESC, centroid_id)
        |      AS crn
        |  FROM b CROSS JOIN ranked r)
        |SELECT vec_id, CAST(centroid_id AS BIGINT) AS cell,
        |  CAST(CASE WHEN vec_id < 350 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_deliveries,
        |  CAST(1 AS BIGINT) AS n_index_rows
        |FROM ca WHERE crn = 1
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      import graft.operators.IvfIndex
      import graft.streaming.AnnStream
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      def slice(lo: Int, hi: Int) =
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
      val store = new graft.etl.ParquetStore(s,
        s.conf.get("spark.sql.warehouse.dir") + "/" +
          graft.core.StreamGates.table("gais_", dir))
      // the grown cells layout is the stream's output, so rebuild the
      // corpus-only index before the triggers
      IvfIndex.buildPortable(slice(0, 300), store, "idx", numCentroids = 16)
      val dlv = new graft.core.StreamGates.DeliveryLedger
      AnnStream.trigger(slice(300, 350), 0L, store, "idx", dlv.sink)
      // at-least-once replay of batch 0 — same assignments delivered
      // again, no new index rows
      AnnStream.trigger(slice(300, 350), 0L, store, "idx", dlv.sink)
      AnnStream.trigger(slice(350, 400), 1L, store, "idx", dlv.sink)
      val idxRows = store.read("idx_cells")
        .filter(col("src_batch") =!= lit(IvfIndex.NoBatch))
        .groupBy(col("cand_id").as("vec_id"))
        .agg(count(lit(1)).as("n_index_rows"))
      slice(300, 400).select("vec_id")
        .join(dlv.counts(
            emb.select(col("vec_id")).withColumn("cell", lit(0L)).limit(0),
            Seq("vec_id", "cell")),
          Seq("vec_id"), "left")
        .join(idxRows, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          coalesce(col("n_deliveries"), lit(0L)).as("n_deliveries"),
          coalesce(col("n_index_rows"), lit(0L)).as("n_index_rows"))
        .orderBy("vec_id")
    },

    // ---- ANN index diagnostic: bucket occupancy histogram. The oracle
    // re-derives the sign-LSH bucket ids with the SAME hyperplanes inlined
    // as SQL literals (shortest-round-trip double rendering), so the
    // hash-match covers the projection + bit-assembly, not just row counts.
    GQuery("sim_bucket_stats", bucketStatsOracle(numPlanes = 6)) { (s, dir) =>
      Similarity.bucketHistogram(t(s, dir, "embeddings"), 6, dim)
        .orderBy("bucket")
    },

    // ---- Symmetric int8 quantization of the embedding column (4× index
    // compression; oracle replays scale + rounding per component). The
    // quantized vector is emitted as a comma-joined STRING, not an array:
    // the driver's compare sorts result rows with pandas, which cannot
    // sort array-typed cells (round-2 gate failure).
    GQuery(
      "emb_quantize_int8",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (
        |  SELECT vec_id, e,
        |    greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
        |      1e-30) AS scale
        |  FROM v)
        |SELECT vec_id, round(scale, 6) + 0.0 AS scale_r,
        |  array_to_string(list_transform(e,
        |    x -> CAST(CAST(round(x / scale) AS BIGINT) AS VARCHAR)), ',')
        |    AS qvec_s
        |FROM s ORDER BY vec_id""".stripMargin) { (s, dir) =>
      graft.operators.Similarity.quantizeInt8(t(s, dir, "embeddings"))
        .select(col("vec_id"),
          (round(col("scale"), 6) + lit(0.0)).as("scale_r"),
          array_join(col("qvec").cast("array<string>"), ",").as("qvec_s"))
        .orderBy("vec_id")
    },

    // ---- Johnson–Lindenstrauss random projection 64 → 8 dims. The
    // seeded planes become SQL array literals (shortest-round-trip double
    // rendering parses back to the identical double), so DuckDB replays
    // every projected component; long-form output keeps cells sortable.
    GQuery("emb_random_projection", randomProjectionOracle(k = 8)) { (s, dir) =>
      Similarity.randomProjection(t(s, dir, "embeddings"), k = 8, dim = dim)
        .select(col("vec_id"), col("j"),
          (round(col("v"), 4) + lit(0.0)).as("v"))
        .orderBy("vec_id", "j")
    },

    // ---- Vector norms + array access (array function surface with oracle).
    GQuery(
      "emb_norms",
      """SELECT vec_id, label,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[]))), 4) AS l2_norm,
        |  round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_component
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings").select(
          col("vec_id"), col("label"),
          size(col("embedding")).cast("long").as("dim"),
          round(Similarity.l2norm(col("embedding")), 4).as("l2_norm"),
          (round(element_at(col("embedding"), 1).cast("double"), 4)
            + lit(0.0)).as("first_component"))
        .orderBy("vec_id")
    },

    // ---- Nearest-centroid cluster assignment (corpus partitioning /
    // k-means E-step) with a DETERMINISTIC centroid frame (the 8
    // lowest-id vectors), so the whole assignment — cosine scores
    // included — is oracle-checkable; the Lloyd-refined production path
    // reuses the same window tail (sim_ann_ivf, rows-only + recall spec).
    GQuery(
      "emb_cluster_assign",
      """WITH c AS (SELECT vec_id AS centroid_id,
        |             CAST(embedding AS DOUBLE[]) AS ce
        |           FROM embeddings WHERE vec_id < 8),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |      FROM embeddings),
        |s AS (SELECT v.vec_id, c.centroid_id,
        |        list_cosine_similarity(e, ce) AS ccos
        |      FROM v CROSS JOIN c),
        |r AS (SELECT vec_id, centroid_id, ccos,
        |        row_number() OVER (PARTITION BY vec_id
        |          ORDER BY ccos DESC, centroid_id) AS rn
        |      FROM s)
        |SELECT vec_id, centroid_id AS cluster, round(ccos, 4) + 0.0 AS cos
        |FROM r WHERE rn = 1
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
      Similarity.clusterAssign(emb, "vec_id", "embedding", centroids)
        .orderBy("vec_id")
    },

    // ---- Per-label centroid statistics (grouped agg over vectors).
    GQuery(
      "emb_label_stats",
      """SELECT label, count(*) AS n_vecs,
        |  round(avg(CAST(embedding[1] AS DOUBLE)), 4) + 0.0 AS avg_first,
        |  round(avg(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[])))), 4) AS avg_norm
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          (round(avg(element_at(col("embedding"), 1).cast("double")), 4)
            + lit(0.0)).as("avg_first"),
          round(avg(Similarity.l2norm(col("embedding"))), 4).as("avg_norm"))
        .orderBy("label")
    },

    // ---- Embedding-cosine near-dup: all pairs above a cosine threshold
    // (the semantic-dedup primitive; scoped input — the scale path is the
    // LSH bucketing above, which turns candidate generation into a
    // bucket equi-join).
    GQuery(
      "dedup_embedding_cosine",
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_cosine_similarity(a.e, b.e), 4) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.e, b.e) >= 0.3
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      val v = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      val a = v.select(col("vec_id").as("id1"), col("embedding").as("e1"))
      val b = v.select(col("vec_id").as("id2"), col("embedding").as("e2"))
      a.join(b, col("id1") < col("id2"))
        .withColumn("cos", Similarity.cosine(col("e1"), col("e2")))
        .filter(col("cos") >= 0.3)
        .select(col("id1"), col("id2"), round(col("cos"), 4).as("cosine"))
        .orderBy("id1", "id2")
    },

    // ---- SemDeDup (Abbas et al. 2023): cluster-bucketed semantic dedup —
    // the SCALE path for the brute-force pair gate above. Nearest-centroid
    // assignment over the portable md5-sampled centroid frame (same
    // quantizer as sim_ann_ivf_fixed), pairwise cosine WITHIN clusters
    // only, upper-triangular drop rule at tau. Output is one row per
    // vector (assignment + keep decision), so the hash covers both
    // stages; cluster sizes measured at the gate's params: ≤41 of 500
    // at sf0.01, drop count 150 — both the keep and drop branches carry
    // data at every test sf.
    GQuery(
      "dedup_semantic",
      semDedupOracle(numCentroids = 16, tau = 0.3)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.semDedup(emb, "vec_id", "embedding",
          Similarity.portableCentroids(emb, 16), tau = 0.3)
        .orderBy("vec_id")
    },

    // ---- Multimodal blob metadata (no decode needed; oracle-checked).
    GQuery(
      "mm_blob_meta",
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal.blobMeta(Multimodal.attachBlob(t(s, dir, "documents")))
        .orderBy("doc_id")
    },

    // ---- Multimodal decode stub: typed per-partition batch pipeline.
    // The codec stays stubbed (sandbox has no media libs), but the stub's
    // fake fields derive from a 60-bit md5 prefix of the content bytes, so
    // the WHOLE mapPartitions dataflow is hash-checked: DuckDB replays
    // width/height/format from md5(text) (the blob is the text's UTF-8
    // bytes, and DuckDB's md5 hashes the same bytes).
    GQuery(
      "mm_decode_meta",
      """WITH h AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |    ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, 'image/fake' AS media_type, n_bytes,
        |  CASE WHEN h % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(64 + h % 1024 AS INTEGER) AS width,
        |  CAST(64 + (h >> 10) % 1024 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS channels
        |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal.decodeStub(s, Multimodal.attachBlob(t(s, dir, "documents")))
        .toDF()
        .orderBy("doc_id")
    },

    // ---- Frame sampling dataflow, hash-checked: the blob is the text's
    // UTF-8 bytes, so the stride-chunk boundaries (one row per "frame",
    // partition-local flatMap) are byte arithmetic DuckDB replays exactly
    // — the stub's DATAFLOW gets a real oracle even though the codec
    // stays stubbed.
    GQuery(
      "mm_frame_sample",
      """SELECT doc_id, frame_idx,
        |  CAST(least(100, strlen(text) - frame_idx * 100) AS BIGINT)
        |    AS frame_bytes
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      CAST(ceil(strlen(text) / 100.0) AS BIGINT) - 1)) AS frame_idx
        |  FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      Multimodal.sampleFrames(s,
          Multimodal.attachBlob(t(s, dir, "documents")), stride = 100)
        .orderBy("doc_id", "frame_idx")
    }
  )

  /** DuckDB replay of [[Similarity.semDedup]] over the portable
    * md5-sampled centroid frame: the same assignment CTE as
    * sim_ann_ivf_fixed (row_number over cosine DESC, centroid_id), then
    * the within-cluster upper triangle and the lower-id drop rule. */
  private def semDedupOracle(numCentroids: Int, tau: Double): String =
    s"""WITH ranked AS (
       |  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS ce
       |  FROM embeddings
       |  ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
       |    vec_id
       |  LIMIT $numCentroids),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |ca AS (
       |  SELECT v.vec_id, v.e, r.centroid_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY list_cosine_similarity(e, ce) DESC, centroid_id) AS crn
       |  FROM v CROSS JOIN ranked r),
       |cells AS (SELECT vec_id, e, centroid_id AS cluster
       |          FROM ca WHERE crn = 1),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM cells a JOIN cells b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.e, b.e) >= $tau)
       |SELECT c.vec_id, c.cluster, (d.vec_id IS NULL) AS kept
       |FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
       |ORDER BY c.vec_id""".stripMargin

  /** DuckDB replay of [[Similarity.annTopK]]: literal hyperplanes give the
    * bucket ids, a literal mask list gives the multi-probe expansion
    * (xor), and list_cosine_similarity (bit-equal to the engine's
    * sequential fold) ranks candidates per query. */
  private def annLshOracle(numPlanes: Int, k: Int, maxProbeHamming: Int): String = {
    val planes = Similarity.hyperplanes(numPlanes, dim)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), [${p.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n    + ")
    val h1 = (0 until numPlanes).map(p => 1L << p)
    val h2 = for {
      p <- 0 until numPlanes; q <- (p + 1) until numPlanes
    } yield (1L << p) | (1L << q)
    val masks = (Seq(0L) ++ (if (maxProbeHamming >= 1) h1 else Nil) ++
      (if (maxProbeHamming >= 2) h2 else Nil)).mkString(", ")
    s"""WITH c AS (
       |  SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS ce,
       |    CAST($bucket AS BIGINT) AS bucket
       |  FROM embeddings),
       |q0 AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
       |    CAST($bucket AS BIGINT) AS qbucket
       |  FROM embeddings WHERE vec_id < 10),
       |q AS (
       |  SELECT query_id, qe, xor(qbucket, m) AS probe
       |  FROM q0 CROSS JOIN (SELECT unnest([$masks]) AS m) masks),
       |s AS (
       |  SELECT query_id, cand_id, list_cosine_similarity(qe, ce) AS cos
       |  FROM c JOIN q ON c.bucket = q.probe AND cand_id <> query_id),
       |r AS (
       |  SELECT query_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand_id) AS rn
       |  FROM s)
       |SELECT query_id, cand_id, round(cos, 4) AS cosine, CAST(rn AS BIGINT) AS rn
       |FROM r WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin
  }

  /** DuckDB replay of [[Similarity.randomProjection]]: planes inlined as
    * literals, components zipped with their index via parallel unnest. */
  private def randomProjectionOracle(k: Int): String = {
    val planes = Similarity.hyperplanes(k, dim)
    val scale = math.sqrt(3.0 / k)
    val comps = planes.map { p =>
      s"list_inner_product(CAST(embedding AS DOUBLE[]), [${p.mkString(", ")}]) * $scale"
    }.mkString(",\n      ")
    val idx = (0 until k).mkString(", ")
    s"""SELECT vec_id, CAST(j AS BIGINT) AS j, round(v, 4) + 0.0 AS v
       |FROM (
       |  SELECT vec_id,
       |    unnest([$comps]) AS v,
       |    unnest([$idx]) AS j
       |  FROM embeddings)
       |ORDER BY vec_id, j""".stripMargin
  }

  /** DuckDB replay of [[Similarity.bucketHistogram]]: the seeded
    * hyperplanes become SQL array literals (Java's shortest-round-trip
    * double rendering parses back to the identical double), and the
    * bucket id is the same sum of non-overlapping sign bits. */
  private def bucketStatsOracle(numPlanes: Int): String = {
    val planes = Similarity.hyperplanes(numPlanes, dim)
    val terms = planes.zipWithIndex.map { case (p, i) =>
      val lits = p.map(_.toString).mkString(", ")
      s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), [$lits]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n  + ")
    s"""SELECT CAST($terms AS BIGINT) AS bucket, count(*) AS n_vectors
       |FROM embeddings
       |GROUP BY 1 ORDER BY bucket""".stripMargin
  }
}
