package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: the full xxhash64-family MinHash band
  * sketch of ONE document — distinct-token array in, `array<bigint>` of
  * `bands` band hashes out, byte-identical to the definitional column
  * form (per-lane `min(xxhash64(w, lit(i)))` over the document's
  * tokens, then `xxhash64(sig_slice..., lit(b))` per band). The xx
  * twin of [[MinhashBands]]: same dataflow restructure — per-row
  * sorted-distinct token arrays replace the corpus-wide exploded
  * (doc, token) stream, so the 64-lane hash aggregate AND the
  * verification-array re-aggregation all disappear from `Dedup.minhashNearDups`' plan (the gate pair
  * dedup_minhash_lsh / dedup_minhash_shingle — the two largest wall
  * numbers in every bench artifact before this kernel).
  *
  * Hash-composition parity is PINNED by XxFamilyParitySpec (written one
  * round ahead of this kernel for exactly that purpose): Spark's
  * `xxhash64(a, b, ...)` folds children left to right with the running
  * hash as seed starting from 42, dispatching by type —
  * `XxHash64Function.hash(_, StringType/IntegerType/LongType, seed)`.
  * So per token w: base = H_str(w, 42); lane i: h_i = H_int(i, base)
  * (exactly `xxhash64(w, lit(i))`); per band b over signature rows
  * r_0..r_{k-1}: H_int(b, fold(H_long)(42, r_0..r_{k-1})) (exactly the
  * composed `xxhash64(sig_0, ..., sig_{k-1}, lit(b))`). Drift under a
  * Spark upgrade is caught by that spec before this kernel silently
  * diverges; end-to-end equality vs the column form is additionally
  * pinned in MinhashBandsXXSpec.
  *
  * Null token slots are skipped (the tokenizers never produce them); an
  * input with no non-null token yields an EMPTY band array — after the
  * posexplode the document contributes no band rows, exactly like the
  * absent group the explode+aggregate form produced for it.
  *
  * Codegen emits one call via a reference object so the surrounding
  * scan→project→generate stage stays inside whole-stage codegen. */
case class MinhashBandsXX(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {

  require(numHashes >= 1, s"numHashes must be positive, got $numHashes")
  require(bands >= 1 && numHashes % bands == 0,
    s"bands ($bands) must be positive and divide numHashes ($numHashes)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "graft_minhash_bands_xx"

  /** One document's band hashes — public for generated code. */
  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val nh = numHashes
    val sig = new Array[Long](nh)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) {
        any = true
        // xxhash64(w, lit(k)) = H_int(k, H_str(w, 42)) — one string hash
        // per token, one 4-byte int fold per lane
        val base = XxHash64Function.hash(t, StringType, 42L)
        var k = 0
        while (k < nh) {
          val h = XxHash64Function.hash(k, IntegerType, base)
          if (h < sig(k)) sig(k) = h
          k += 1
        }
      }
      i += 1
    }
    if (!any) return MinhashBandsXX.EmptyResult
    val rows = nh / bands
    val out = new Array[Any](bands)
    var bnd = 0
    while (bnd < bands) {
      // xxhash64(sig_slice..., lit(bnd)): fold the slice as longs from
      // seed 42, then the band id as the trailing int child
      var acc = 42L
      var r = 0
      while (r < rows) {
        acc = XxHash64Function.hash(sig(bnd * rows + r), LongType, acc)
        r += 1
      }
      out(bnd) = XxHash64Function.hash(bnd, IntegerType, acc)
      bnd += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBandsXX", this,
      classOf[MinhashBandsXX].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashBandsXX =
    copy(child = newChild)
}

object MinhashBandsXX {
  private val EmptyResult: ArrayData = new GenericArrayData(Array.empty[Any])
}
