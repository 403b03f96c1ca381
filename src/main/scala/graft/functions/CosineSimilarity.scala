package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression: cosine similarity of two numeric-array
  * columns in a single fused loop with whole-stage codegen.
  *
  * The composable alternative (`aggregate`/`zip_with` higher-order
  * functions) runs interpreted per row and allocates an intermediate
  * array for the products; this expression emits a tight primitive loop
  * (no boxing, no allocation) accumulating dot/norm/norm together — the
  * preferred "custom Expression beats UDF" path for hot scalar kernels
  * (ANN re-ranking at 100 TB runs this per candidate pair).
  *
  * Inputs are array<double|float|long|int>, read NATIVELY: each element
  * is widened to double inside the loop (exact for float and for the
  * |v| ≤ 2^53 longs the int8-quantized path produces), so no caller
  * ever needs a `transform(_.cast("double"))` wrapper. That wrapper was
  * the round-7 hot-path defect: applied inside the shared re-rank tail
  * it allocated a fresh double array PER CANDIDATE PAIR — every corpus
  * row re-cast |queries| times — precisely the allocation this fused
  * kernel exists to avoid. (AbstractDataType/ImplicitCastInputTypes are
  * private[sql], so validation happens in checkInputDataTypes.)
  * Accumulation order and precision match the sequential double fold
  * bit for bit, so results are identical with the HOF implementation
  * and the DuckDB oracle regardless of input element type.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(et @ (DoubleType | FloatType | LongType | IntegerType), _) =>
      Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => elemType(e.dataType).isDefined)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double|float|long|int> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_cosine"

  @inline private def get(arr: ArrayData, et: DataType, i: Int): Double =
    et match {
      case DoubleType => arr.getDouble(i)
      case FloatType => arr.getFloat(i).toDouble
      case LongType => arr.getLong(i).toDouble
      case IntegerType => arr.getInt(i).toDouble
      case other => throw new IllegalStateException(
        s"$prettyName: unsupported element type $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xt = elemType(left.dataType).get
    val yt = elemType(right.dataType).get
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = get(x, xt, i); val yi = get(y, yt, i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** Type-specific element read, widened to double in-register — no
    * array materialization, no boxing, whatever the input element type. */
  private def genGet(arr: String, et: DataType, i: String): String = et match {
    case DoubleType => s"$arr.getDouble($i)"
    case FloatType => s"(double) $arr.getFloat($i)"
    case LongType => s"(double) $arr.getLong($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case other => throw new IllegalStateException(
      s"$prettyName: unsupported element type $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      val getX = genGet(a, elemType(left.dataType).get, i)
      val getY = genGet(b, elemType(right.dataType).get, i)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $getX;
         |  double $yi = $getY;
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |if ($denom == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / $denom; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  val cosineName = "graft_cosine"
  val intersectBoundedName = "graft_intersect_count_sorted_bounded"
  val quantizeName = "graft_quantize_int8"
  val prefixCollisionName = "graft_prefix_collision"
  val signBucketsName = "graft_sign_buckets"
  val projectPlanesName = "graft_project_planes"
  val winnowName = "graft_winnow_fingerprints"
  val subwordName = "graft_subword_tokenize"
  val subwordCountName = "graft_subword_count"
  val bpeApplyName = "graft_bpe_apply"
  val gramBucketsName = "graft_gram_buckets"
  val minhashBandsName = "graft_minhash_bands"
  val minhashBandsXXName = "graft_minhash_bands_xx"
  val nearestCentroidName = "graft_nearest_centroid"
  val bpeMergeOnceName = "graft_bpe_merge_once"

  /** Arity guard shared by the catalog builders: a wrong-arity SQL call
    * fails with the function's name and signature, never a bare
    * IndexOutOfBoundsException. */
  private def arity(name: String, exprs: Seq[Expression], n: Int,
      args: String): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$name expects $n arguments ($args), got ${exprs.length}")

  /** Foldable INTEGRAL literal (SQL integer literals arrive as int or
    * long) with a named-argument error — shared by every kernel taking
    * query-constant int parameters. */
  private def intLit(name: String, e: Expression, what: String): Int =
    (if (e.foldable) e.eval() else null) match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long if l.longValue().isValidInt => l.intValue()
      case _ => throw new IllegalArgumentException(
        s"$name $what must be an int literal, got $e")
    }

  /** THE function catalog: SQL name, implementing class (surfaces in
    * DESCRIBE FUNCTION), usage line, arity-checked builder. The single
    * source of truth for BOTH registration paths — [[register]] (runtime
    * temp functions) and [[GraftExtensions]] (config-based
    * `spark.sql.extensions` injection) iterate this same table, so the
    * two deployment paths cannot drift. (They had: the hand-maintained
    * extensions list was 9 functions behind the runtime path when this
    * table replaced it — a config-deployed session silently lacked the
    * dedup/tokenizer kernels. GraftExtensionsSpec pins the parity.) */
  private[functions] val catalog: Seq[
      (String, Class[_], String, Seq[Expression] => Expression)] = Seq(
    (cosineName, classOf[CosineSimilarity],
      "_FUNC_(a, b) - cosine similarity of two numeric-array vectors " +
        "in one fused codegen loop (float/long/int read natively)",
      exprs => { arity(cosineName, exprs, 2, "a, b")
        CosineSimilarity(exprs(0), exprs(1)) }),
    (intersectBoundedName, classOf[IntersectCountSortedBounded],
      "_FUNC_(a, b, minCount) - sorted-intersect count with the PPJoin " +
        "positional early-exit (exact only as a >= minCount test)",
      exprs => { arity(intersectBoundedName, exprs, 3, "a, b, minCount")
        IntersectCountSortedBounded(exprs(0), exprs(1), exprs(2)) }),
    (quantizeName, classOf[QuantizeInt8],
      "_FUNC_(a) - fused symmetric int8 quantization of an embedding " +
        "array, returning struct<scale, qvec>",
      exprs => { arity(quantizeName, exprs, 1, "embedding")
        QuantizeInt8(exprs(0)) }),
    (prefixCollisionName, classOf[PrefixCollision],
      "_FUNC_(a, b, len) - does any position j < len hold a[j] == b[j]? " +
        "The fused first-collision predicate of the LSH candidate join",
      exprs => { arity(prefixCollisionName, exprs, 3, "a, b, len")
        PrefixCollision(exprs(0), exprs(1), exprs(2)) }),
    (signBucketsName, classOf[SignBuckets],
      "_FUNC_(v, planes) - sign-of-projection LSH bucket id of a " +
        "numeric-array vector against a foldable plane matrix, fused loop",
      exprs => { arity(signBucketsName, exprs, 2, "v, planes")
        SignBuckets(exprs(0), exprs(1)) }),
    (projectPlanesName, classOf[ProjectPlanes],
      "_FUNC_(v, planes) - all per-plane dot products of a numeric-array " +
        "vector against a foldable plane matrix as array<double>, fused loop",
      exprs => { arity(projectPlanesName, exprs, 2, "v, planes")
        ProjectPlanes(exprs(0), exprs(1)) }),
    (winnowName, classOf[WinnowFingerprints],
      "_FUNC_(tokens, k, w) - winnowing fingerprint selection over a " +
        "token array: array<struct<pos, fp>> of each w-gram window's " +
        "minimal 60-bit md5 k-gram hash (rightmost on ties), one fused " +
        "O(G) deque pass per document",
      exprs => { arity(winnowName, exprs, 3, "tokens, k, w")
        WinnowFingerprints(exprs(0), intLit(winnowName, exprs(1), "k"),
          intLit(winnowName, exprs(2), "w")) }),
    (subwordName, classOf[SubwordTokenize],
      "_FUNC_(word, vocab) - greedy longest-match subword pieces of one " +
        "word against a literal vocabulary (single-char OOV fallback)",
      exprs => { arity(subwordName, exprs, 2, "word, vocab")
        SubwordTokenize(exprs(0), exprs(1)) }),
    (subwordCountName, classOf[SubwordCount],
      "_FUNC_(tokens, vocab) - total subword-piece count of one token " +
        "array under the same greedy rule, allocation-free",
      exprs => { arity(subwordCountName, exprs, 2, "tokens, vocab")
        SubwordCount(exprs(0), exprs(1)) }),
    (bpeApplyName, classOf[BpeApply],
      "_FUNC_(tokens, merges) - true-BPE merge application over one " +
        "token array against a ranked 'x y' merge literal, returning " +
        "struct<n_pieces, enc>",
      exprs => { arity(bpeApplyName, exprs, 2, "tokens, merges")
        BpeApply(exprs(0), exprs(1)) }),
    (gramBucketsName, classOf[GramBuckets],
      "_FUNC_(tokens, buckets) - hashed unigram+bigram feature buckets " +
        "of one token array (the DSIR feature stream), one fused md5 pass",
      exprs => { arity(gramBucketsName, exprs, 2, "tokens, buckets")
        GramBuckets(exprs(0), intLit(gramBucketsName, exprs(1), "buckets")) }),
    (minhashBandsName, classOf[MinhashBands],
      "_FUNC_(tokens, numHashes, bands) - portable-family (md5-affine) " +
        "MinHash band hashes of one distinct-token array, one fused pass",
      exprs => { arity(minhashBandsName, exprs, 3, "tokens, numHashes, bands")
        MinhashBands(exprs(0),
          intLit(minhashBandsName, exprs(1), "numHashes"),
          intLit(minhashBandsName, exprs(2), "bands")) }),
    (minhashBandsXXName, classOf[MinhashBandsXX],
      "_FUNC_(tokens, numHashes, bands) - production-family (xxhash64) " +
        "MinHash band hashes of one distinct-token array, one fused pass",
      exprs => { arity(minhashBandsXXName, exprs, 3,
          "tokens, numHashes, bands")
        MinhashBandsXX(exprs(0),
          intLit(minhashBandsXXName, exprs(1), "numHashes"),
          intLit(minhashBandsXXName, exprs(2), "bands")) }),
    (nearestCentroidName, classOf[NearestCentroid],
      "_FUNC_(v, centroids) - argmax-cosine centroid of a numeric-array " +
        "vector over a foldable struct<id, ce> table, fused loop, " +
        "returning struct<centroid_id, ccos> (ties to the lowest id)",
      exprs => { arity(nearestCentroidName, exprs, 2, "v, centroids")
        NearestCentroid(exprs(0), exprs(1)) }),
    (bpeMergeOnceName, classOf[BpeMergeOnce],
      "_FUNC_(pieces, pair) - one reference left-to-right BPE merge " +
        "pass of a foldable [x, y] pair over a piece array (the bpeTrain " +
        "round step), allocation-light fused loop",
      exprs => { arity(bpeMergeOnceName, exprs, 2, "pieces, pair")
        BpeMergeOnce(exprs(0), exprs(1)) }))

  /** The planner strategies both registration paths install: the native
    * as-of join and the one-partition global sort. */
  val strategies: Seq[org.apache.spark.sql.execution.SparkStrategy] =
    Seq(graft.plans.AsofJoinStrategy, graft.plans.SmallSortStrategy)

  /** Idempotent session registration of the custom expressions, planner
    * strategies, and optimizer rule, making them reachable from both the
    * Column API (call_function) and SQL. `spark.experimental` is the
    * runtime path; [[GraftExtensions]] covers config-based deployment —
    * both iterate [[catalog]] and [[strategies]]. */
  def register(spark: SparkSession): Unit = {
    val missing = strategies.filterNot(spark.experimental.extraStrategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missing
    if (!spark.experimental.extraOptimizations.contains(graft.plans.PushFilterThroughAsofJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PushFilterThroughAsofJoin
    // register each function only when absent: createOrReplaceTempFunction
    // on an existing entry logs a "replaced a previously registered
    // function" WARN per call, and register() runs once per table build —
    // a harness sweep would spam hundreds of them into the bench tail
    val registry = spark.sessionState.functionRegistry
    catalog.foreach { case (name, _, _, builder) =>
      if (!registry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Column-API handle (requires register(spark) on the active session). */
  def cosine(a: Column, b: Column): Column = call_function(cosineName, a, b)

  /** |a ∩ b| of two SORTED DISTINCT array<string> columns by an
    * allocation-free merge walk with the PPJoin positional filter: stops
    * early (returning an upper bound < minCount) once the pair cannot
    * reach `minCount`; `minCount = 0` never stops early and counts
    * exactly. See [[IntersectCountSortedBounded]]'s input and exactness
    * contract before using the result for anything but a >= threshold
    * filter on a count-monotone metric. */
  def intersectCountSortedBounded(a: Column, b: Column, minCount: Column): Column =
    call_function(intersectBoundedName, a, b, minCount)

  /** Does any position j < len hold a[j] == b[j]? — the fused
    * first-collision predicate of the LSH candidate join (see
    * [[PrefixCollision]] for why the higher-order-function form is
    * ruinous there). */
  def prefixCollision(a: Column, b: Column, len: Column): Column =
    call_function(prefixCollisionName, a, b, len)

  /** Winnowing fingerprint selection over a token array — the fused
    * [[WinnowFingerprints]] kernel (one O(G) deque pass per document). */
  def winnowFingerprints(tokens: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(winnowName, tokens, lit(k), lit(w))
  }

  /** Greedy longest-match subword pieces of one word against a literal
    * vocabulary (single-char OOV fallback). */
  def subwordTokenize(word: Column, vocab: Seq[String]): Column =
    call_function(subwordName, word,
      org.apache.spark.sql.functions.typedlit(vocab))

  /** Total subword-piece count of one token array under the same greedy
    * rule — the allocation-free budget/accounting form of
    * [[subwordTokenize]] (one call per document, no piece strings). */
  def subwordCount(tokens: Column, vocab: Seq[String]): Column =
    call_function(subwordCountName, tokens,
      org.apache.spark.sql.functions.typedlit(vocab))

  /** True-BPE merge application over one token array against a ranked
    * "x y" merge literal → struct<n_pieces, enc> (see [[BpeApply]]). */
  def bpeApply(tokens: Column, merges: Seq[String]): Column =
    call_function(bpeApplyName, tokens,
      org.apache.spark.sql.functions.typedlit(merges))

  /** Hashed unigram+bigram feature buckets of one token array (the DSIR
    * feature stream) — one fused md5 pass, no gram strings. */
  def gramBuckets(tokens: Column, buckets: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(gramBucketsName, tokens, lit(buckets))
  }

  /** Portable-MinHash band hashes of one distinct-token array — the
    * fused [[MinhashBands]] kernel (base md5 + all affine lanes + band
    * md5s in one pass per document). */
  def minhashBands(tokens: Column, numHashes: Int, bands: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(minhashBandsName, tokens, lit(numHashes), lit(bands))
  }

  /** Production (xxhash64-family) MinHash band hashes of one
    * distinct-token array — the fused [[MinhashBandsXX]] kernel (base
    * xxhash64 + all lane mins + band folds in one pass per document). */
  def minhashBandsXX(tokens: Column, numHashes: Int, bands: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(minhashBandsXXName, tokens, lit(numHashes), lit(bands))
  }

  /** Fused int8 quantization → struct<scale: double, qvec: array<long>>. */
  def quantizeInt8(embedding: Column): Column =
    call_function(quantizeName, embedding)

  /** Sign-of-projection LSH bucket id against a literal plane matrix —
    * one fused loop instead of one interpreted fold per plane. */
  def signBuckets(embedding: Column, planes: Array[Array[Double]]): Column =
    call_function(signBucketsName, embedding,
      org.apache.spark.sql.functions.typedlit(
        planes.map(_.toIndexedSeq).toIndexedSeq))

  /** All per-plane dot products against a literal plane matrix as one
    * array<double> — the fused mat-vec kernel behind JL projection. */
  def projectPlanes(embedding: Column, planes: Array[Array[Double]]): Column =
    call_function(projectPlanesName, embedding,
      org.apache.spark.sql.functions.typedlit(
        planes.map(_.toIndexedSeq).toIndexedSeq))

  /** Argmax-cosine centroid over a literal (id, centroid-vector) table →
    * struct<centroid_id, ccos> — the fused, exchange-free k-means / IVF
    * E-step (see [[NearestCentroid]]'s equivalence contract). */
  def nearestCentroid(embedding: Column,
      centroids: Seq[(Long, Seq[Double])]): Column =
    call_function(nearestCentroidName, embedding,
      org.apache.spark.sql.functions.typedlit(centroids))

  /** [[nearestCentroid]] with the table as a BROADCAST VARIABLE — the
    * mid-size transport tier (same kernel loop, table fetched once per
    * executor instead of riding every task binary as a literal). The
    * caller broadcasts its already-collected table; see
    * [[NearestCentroidBcast]]. */
  def nearestCentroidBcast(embedding: Column,
      table: org.apache.spark.broadcast.Broadcast[
        (Array[Long], Array[Array[Double]])]): Column =
    org.apache.spark.sql.GraftSqlInternals.column(
      NearestCentroidBcast(
        org.apache.spark.sql.GraftSqlInternals.expression(embedding), table))

  /** One reference LTR merge pass of (x, y) over a piece array — the
    * fused bpeTrain round step (see [[BpeMergeOnce]]'s equivalence
    * contract with the `aggregate` fold it replaces). */
  def bpeMergeOnce(pieces: Column, x: String, y: String): Column =
    call_function(bpeMergeOnceName, pieces,
      org.apache.spark.sql.functions.typedlit(Seq(x, y)))
}
