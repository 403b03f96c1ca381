package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: hashed-n-gram feature buckets for ONE
  * document — token array in, `array<long>` of bucket ids out, one
  * entry per unigram occurrence followed by one per bigram occurrence
  * (the DSIR feature stream of [[graft.operators.Sampling.dsirWeights]],
  * Xie et al. 2023). Bucket id = 60-bit portable md5
  * ([[graft.operators.Sampling.hash60]] family) mod `buckets`, with the
  * bigram hashed over the same `w1 + ' ' + w2` byte stream the composed
  * `md5(concat_ws(' ', ...))` form hashes — so a SQL oracle replays
  * every bucket byte-for-byte.
  *
  * Replaces the composed pipeline (bigram `transform` + `concat_ws`
  * array build → explode → `conv(substring(md5(w), 1, 15), 16, 10)`):
  * that form measured ~8 s per corpus pass at 10× bench sf
  * — ~3.6 s allocating the per-doc gram-string array before the explode
  * and ~4.5 s in the md5→hex→parse round-trip — against ~1 s for this
  * kernel's single O(tokens) pass (incremental digest over token bytes,
  * no gram strings, no hex). Null token elements are skipped with their
  * grams (split() never produces them; the SQL-exposed function accepts
  * any array<string>).
  *
  * Codegen emits one call via a reference object so the surrounding
  * scan→project→generate stage stays inside whole-stage codegen. */
case class GramBuckets(child: Expression, buckets: Int)
    extends UnaryExpression {

  require(buckets >= 1, s"buckets must be positive, got $buckets")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "graft_gram_buckets"

  /** One document's bucket stream — public for generated code. */
  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val md = GramBuckets.md5.get()
    // token byte arrays fetched once; null slots stay null and are skipped
    val bs = new Array[Array[Byte]](n)
    var nn = 0 // non-null count
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) { bs(i) = t.getBytes; nn += 1 }
      i += 1
    }
    val out = new Array[Long](if (nn == 0) 0 else nn + math.max(nn - 1, 0))
    var o = 0
    def h60(update: MessageDigest => Unit): Long = {
      md.reset()
      update(md)
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v >>> 4 // top 60 bits = conv(substring(md5(x), 1, 15), 16, 10)
    }
    i = 0
    var prev = -1 // previous non-null token index (bigram left side)
    while (i < n) {
      if (bs(i) != null) {
        out(o) = h60(_.update(bs(i))) % buckets
        o += 1
        if (prev >= 0) {
          out(o) = h60 { m =>
            m.update(bs(prev)); m.update(' '.toByte); m.update(bs(i))
          } % buckets
          o += 1
        }
        prev = i
      }
      i += 1
    }
    // order is cosmetic (every consumer aggregates), but keep it
    // deterministic: unigram then its trailing bigram, in token order
    new GenericArrayData(java.util.Arrays.copyOf(out, o))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramBuckets", this,
      classOf[GramBuckets].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): GramBuckets =
    copy(child = newChild)
}

object GramBuckets {
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }
}
