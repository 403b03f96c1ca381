package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference formulations of operators whose production path is a native
  * kernel: plain column algebra (higher-order folds, explode + aggregate)
  * that computes the same values the long way. Parity specs compare each
  * kernel against its oracle here; nothing in the program calls them. */
object Oracles {

  /** Higher-order-function cosine: `dot(a, b) / (‖a‖·‖b‖)` — the
    * accumulation order [[graft.functions.CosineSimilarity]] matches bit
    * for bit. */
  def cosineFold(a: Column, b: Column): Column =
    Similarity.dot(a, b) / (Similarity.l2norm(a) * Similarity.l2norm(b))

  /** Per-plane fold form of [[Similarity.bucketId]]: bit p set iff
    * dot(v, plane_p) > 0, one interpreted fold per plane. */
  def bucketIdFold(embedding: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      when(Similarity.dot(embedding, planeCol) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** Per-plane fold form of [[Similarity.randomProjection]]: the same
    * seeded planes and `sqrt(3/k)` scale, one interpreted dot per plane. */
  def randomProjectionFold(vectors: DataFrame, k: Int, dim: Int,
      seed: Long = 42L): DataFrame = {
    val planes = Similarity.hyperplanes(k, dim, seed)
    val scale = math.sqrt(3.0 / k)
    val comps = planes.toIndexedSeq.map { p =>
      Similarity.dot(col("embedding"), array(p.toIndexedSeq.map(lit): _*)) * lit(scale)
    }
    vectors
      .select(col("vec_id"), posexplode(array(comps: _*)).as(Seq("j", "v")))
      .select(col("vec_id"), col("j").cast("long").as("j"), col("v"))
  }

  /** Column-algebra form of [[Similarity.quantizeInt8]]: scale =
    * max|x|/127 floored at 1e-30, q_i = round(x_i/scale). */
  def quantizeInt8Fold(vectors: DataFrame): DataFrame = {
    val e = transform(col("embedding"), _.cast("double"))
    val scale = greatest(
      array_max(transform(e, x => abs(x))) / lit(127.0), lit(1e-30))
    vectors.select(
      col("vec_id"),
      scale.as("scale"),
      transform(e, x => round(x / scale).cast("long")).as("qvec"))
  }

  /** Composed form of [[TextOps.winnow]] — gram explode → bounded
    * window-membership explode (≤ w windows per gram) → per-(doc, win)
    * argmin aggregation → distinct. This is the dataflow the DuckDB
    * oracle CTEs replay. */
  def winnowComposed(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    val grams = Dedup.byDoc(df, idCol)
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("t"))
      .select(col("doc_id"),
        greatest(size(col("t")) - (k - 1), lit(1)).cast("long").as("n_grams"),
        explode(transform(
          sequence(lit(1), greatest(size(col("t")) - (k - 1), lit(1))),
          i => struct(i.as("pos"), slice(col("t"), i, lit(k)).as("g")))).as("s"))
      .filter(size(col("s.g")) === k) // drops the short-doc sentinel index
      .select(col("doc_id"), col("s.pos").cast("long").as("pos"),
        greatest(col("n_grams") - (w - 1), lit(1L)).as("last_win"),
        Sampling.hash60(concat_ws(" ", col("s.g"))).as("h"))
    // gram at pos belongs to windows [pos-w+1, pos] clipped to
    // [1, G-w+1] (G = gram count; all grams share window 1 when G < w)
    grams
      .withColumn("win", explode(sequence(
        greatest(col("pos") - (w - 1), lit(1L)),
        least(col("pos"), col("last_win")))))
      .groupBy(col("doc_id"), col("win"))
      // struct min = (h asc, -pos asc) = minimal hash, rightmost on ties
      .agg(min(struct(col("h"), (-col("pos")).as("np"))).as("m"))
      .select(col("doc_id"), (-col("m.np")).as("pos"), col("m.h").as("fp"))
      .distinct()
  }

  /** Index-free form of [[BandIndex.matches]]: sketch the raw `corpus`
    * afresh with the same portable family and run the same cross-side
    * match tail, so a persisted index must return exactly these
    * (id_new, id_ref, jaccard) rows. */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val (newBands, newToks) =
      Dedup.portableSketch(newDocs, idCol, textCol, numHashes, bands)
    val (refBands, refToks) =
      Dedup.portableSketch(corpus, idCol, textCol, numHashes, bands)
    Dedup.crossMatches(newBands, newToks, refBands, refToks, threshold)
  }

  /** Index-free form of [[BandIndex.dedupAgainstEphemeral]]'s survivors:
    * the new docs with no [[incrementalNearDups]] match in `corpus`. */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double): DataFrame =
    newDocs.join(
      incrementalNearDups(newDocs, corpus, idCol, textCol,
          numHashes, bands, threshold)
        .select(col("id_new").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Self-join form of [[TextOps.winnowOverlap]]: the distinct
    * `(doc_id, fp)` frame (cached, it feeds three branches), a per-`fp`
    * distinct-doc count cut at `maxDf`, and an equi-join of the rare
    * fingerprints with themselves on `fp`, `a.doc_id < b.doc_id`, counted
    * per pair. The `txt_winnow_overlap` DuckDB oracle has the same shape. */
  def winnowOverlapJoin(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long, maxDf: Long): DataFrame = {
    val fps = CacheOnce(TextOps.winnow(df, idCol, textCol, k, w)
      .select(col("doc_id"), col("fp")).distinct())
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val f = fps.join(rare, Seq("fp"))
    f.as("a")
      .join(f.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
