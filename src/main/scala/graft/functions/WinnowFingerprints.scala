package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: the complete winnowing fingerprint
  * selection (Schleimer/Wilkerson/Aiken, SIGMOD '03) for ONE document —
  * token array in, `array<struct<pos:bigint, fp:bigint>>` of selected
  * fingerprints out, where `fp` is the 60-bit portable md5 hash of the
  * k-token gram ([[graft.operators.Sampling.hash60]] family, so a SQL
  * oracle replays every selection byte-for-byte).
  *
  * Replaces the composed column-algebra pipeline (gram explode → w-fold
  * window-membership explode → per-(doc, win) argmin → corpus-wide
  * distinct). That form's argmin is `min(struct(h, -pos))`, which Spark
  * cannot hash-aggregate (struct ordering forces SortAggregate), so the
  * plan sorts the w-fold exploded gram stream; the explode + sort-agg
  * + distinct tail measured ~0.6 s of the gate's 1.04 s at sf0.1. This kernel is one O(G) pass per document: incremental md5 over
  * the token bytes (no gram-string concat), a monotonic index deque for
  * the sliding-window minimum (h asc, rightmost on position ties), and
  * record-on-change emission.
  *
  * Record-on-change IS the distinct: a selected position's reign is
  * provably contiguous. If position p is selected at window j and beaten
  * at window j' > j by q, then q > p (any q < p co-scoped at j' was
  * already co-scoped at j — windows are suffix-truncated — contradicting
  * p's selection at j), and q > p stays in scope at every later window
  * that still contains p, so p can never be re-selected. Hence each
  * (pos, fp) is emitted exactly once, and emissions are strictly
  * increasing in pos.
  *
  * Codegen emits a single call to [[compute]] via a reference object, so
  * the surrounding projection stage stays inside whole-stage codegen
  * (the r10 PrefixCollision lesson: a CodegenFallback here would demote
  * the scan→project→generate stage). The heavy loop is hand-written JVM
  * code either way; per-row overhead is one virtual call per DOCUMENT,
  * not per gram.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k >= 1, s"gram size k must be >= 1, got $k")
  require(w >= 1, s"window size w must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "graft_winnow_fingerprints"

  /** One document's selection — public so generated code can call it. */
  def compute(tokens: ArrayData): ArrayData = {
    val nTok = tokens.numElements()
    val g = nTok - k + 1 // gram count; docs shorter than k grams emit none
    if (g <= 0) return WinnowFingerprints.EmptyResult
    // 60-bit md5 gram hashes, digested incrementally over token bytes +
    // single-space separators — the same byte stream md5(concat_ws(' ',
    // slice(t, i, k))) hashes, without materializing the gram string.
    val md = WinnowFingerprints.md5.get()
    val hs = new Array[Long](g)
    var i = 0
    while (i < g) {
      md.reset()
      var j = 0
      var wrote = false
      while (j < k) {
        // null elements are skipped WITH their separator — concat_ws
        // semantics, so the fused hash matches the composed/oracle form
        // on arrays containing nulls (split() never produces them, but
        // the SQL-exposed function accepts any array<string>)
        val tok = tokens.getUTF8String(i + j)
        if (tok != null) {
          if (wrote) md.update(' '.toByte)
          md.update(tok.getBytes)
          wrote = true
        }
        j += 1
      }
      val d = md.digest()
      // first 15 hex chars of the digest = top 60 bits: 8 big-endian
      // bytes >>> 4 — exactly conv(substring(md5(x), 1, 15), 16, 10)
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      hs(i) = v >>> 4
      i += 1
    }
    // sliding-window minimum over windows [win, min(win + w - 1, g - 1)]
    // (0-based), minimal h with rightmost position winning ties
    val lastWin = math.max(g - w + 1, 1)
    val dq = new Array[Int](g) // monotonic deque of gram indices
    var head = 0
    var tail = 0
    val out = new java.util.ArrayList[Any](2 * lastWin / (w + 1) + 4)
    var lastSel = -1
    var p = 0
    var win = 0
    while (win < lastWin) {
      val winEnd = math.min(win + w - 1, g - 1)
      while (p <= winEnd) {
        // equal h pops too: the newer (rightmost) position wins ties
        while (tail > head && hs(dq(tail - 1)) >= hs(p)) tail -= 1
        dq(tail) = p
        tail += 1
        p += 1
      }
      while (dq(head) < win) head += 1
      val sel = dq(head)
      if (sel != lastSel) {
        out.add(InternalRow((sel + 1).toLong, hs(sel)))
        lastSel = sel
      }
      win += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnow", this,
      classOf[WinnowFingerprints].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {
  private val EmptyResult: ArrayData = new GenericArrayData(Array.empty[Any])

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }
}
