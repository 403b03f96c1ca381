package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the full portable-MinHash band sketch of
  * ONE document — distinct-token array in, `array<string>` of `bands`
  * md5-hex band hashes out, byte-identical to the composed form
  * (`graft.operators.Dedup.minhashNearDupsPortable`'s former per-token
  * `conv(substring(md5(w), 1, 15), 16, 10)` base hash, 64 Carter–Wegman
  * affine lanes folded by a 64-buffer min aggregate, then
  * `md5(concat_ws(',', band slice))` per band) and to the DuckDB oracle
  * that replays that family.
  *
  * Why native: the composed form paid, PER TOKEN OCCURRENCE, an
  * md5→hex-string→conv→cast round-trip plus 64 codegen'd min-aggregate
  * buffer updates across a corpus-wide exploded row stream — the same
  * cost profile measured on the gram pipeline before
  * [[GramBuckets]] (which this kernel's digest handling mirrors: md5
  * straight over token bytes, top 60 bits taken from the raw digest, no
  * hex materialization). Fused, the whole sketch is one O(tokens ·
  * numHashes) JVM loop per document over the SAME per-doc token array
  * the exact-Jaccard verification tail already needs — so the exploded
  * (doc, token) stream and its 64-column hash aggregate disappear from
  * the plan entirely.
  *
  * Affine family (drift-pinned against the composed SQL replay in
  * MinhashBandsSpec; the constants are fixed functions of the lane
  * index, see `Dedup.affineA/affineC`): base b(w) = 60-bit-md5(w) mod p,
  * h_i(w) = (a_i·b + c_i) mod p, p = 2^31 − 1; every product stays under
  * 2^62 so the arithmetic is exact in 64-bit integers in any engine.
  *
  * Null token slots are skipped (the tokenizers never produce them; the
  * SQL-exposed function accepts any array<string>); an input with no
  * non-null token yields an EMPTY band array — the document contributes
  * no band rows after the posexplode, exactly like the absent group the
  * explode+aggregate form produced for it.
  *
  * Codegen emits one call via a reference object so the surrounding
  * scan→project→generate stage stays inside whole-stage codegen. */
case class MinhashBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {

  require(numHashes >= 1, s"numHashes must be positive, got $numHashes")
  require(bands >= 1 && numHashes % bands == 0,
    s"bands ($bands) must be positive and divide numHashes ($numHashes)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "graft_minhash_bands"

  // one multiplier/offset per lane, materialized once per expression
  // instance — the same closed-form constants the SQL oracle inlines
  @transient private lazy val aConst: Array[Long] =
    Array.tabulate(numHashes)(i => (2L * i + 1L) * 2654435761L % MinhashBands.P)
  @transient private lazy val cConst: Array[Long] =
    Array.tabulate(numHashes)(i => (i.toLong * 40503L + 17L) % MinhashBands.P)

  /** One document's band hashes — public for generated code. */
  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val md = MinhashBands.md5.get()
    val nh = numHashes
    val a = aConst
    val c = cConst
    val sig = new Array[Long](nh)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) {
        any = true
        md.reset()
        md.update(t.getBytes)
        val d = md.digest()
        // top 60 bits of the digest = conv(substring(md5(w), 1, 15), 16, 10)
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        val base = (v >>> 4) % MinhashBands.P
        var k = 0
        while (k < nh) {
          val h = (a(k) * base + c(k)) % MinhashBands.P
          if (h < sig(k)) sig(k) = h
          k += 1
        }
      }
      i += 1
    }
    if (!any) return MinhashBands.EmptyResult
    val rows = nh / bands
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(rows * 12)
    var bnd = 0
    while (bnd < bands) {
      sb.setLength(0)
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append(',')
        sb.append(sig(bnd * rows + r))
        r += 1
      }
      md.reset()
      md.update(sb.toString.getBytes(StandardCharsets.UTF_8))
      out(bnd) = UTF8String.fromString(MinhashBands.hex(md.digest()))
      bnd += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBands", this,
      classOf[MinhashBands].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

object MinhashBands {
  /** 2^31 − 1 (Mersenne) — `Dedup.minhashP`, the family modulus. */
  val P: Long = 2147483647L

  private val EmptyResult: ArrayData = new GenericArrayData(Array.empty[Any])

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of a digest — what Spark's `md5()` and DuckDB's
    * `md5()` both emit. */
  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}
