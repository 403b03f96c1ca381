package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Greedy longest-match vocabulary trie shared by [[SubwordTokenize]]
  * (piece emission) and [[SubwordCount]] (allocation-free counting).
  * Children are a dense 128-slot array for ASCII (the overwhelmingly hot
  * case for any real subword vocab) with a boxed-map spillover for wider
  * code units, so the longest-match walk does ZERO allocation — the
  * previous HashSet probe built one substring PER CANDIDATE LENGTH per
  * position (a timing run measured the probe loop as the dominant
  * cost of a corpus counting pass at bench sf; matching, not piece
  * materialization, was ~88% of it). */
private[functions] final class SubwordTrie private () {
  private val asciiKids = new Array[SubwordTrie](128)
  private var wideKids: java.util.HashMap[Character, SubwordTrie] = _
  private var terminal = false

  private def childFor(c: Char, create: Boolean): SubwordTrie =
    if (c < 128) {
      var k = asciiKids(c)
      if (k == null && create) { k = new SubwordTrie; asciiKids(c) = k }
      k
    } else {
      if (wideKids == null) {
        if (!create) return null
        wideKids = new java.util.HashMap[Character, SubwordTrie](4)
      }
      var k = wideKids.get(c)
      if (k == null && create) { k = new SubwordTrie; wideKids.put(c, k) }
      k
    }

  /** Length of the longest vocab entry prefixing `s` at `pos`; -1 when
    * none does. Identical to "longest piece in the set that prefixes the
    * remaining suffix" — the greedy MaxMatch rule. */
  def longestMatch(s: String, pos: Int): Int = {
    var node = this
    var i = pos
    var best = -1
    val n = s.length
    while (i < n) {
      node = node.childFor(s.charAt(i), create = false)
      if (node == null) return best
      i += 1
      if (node.terminal) best = i - pos
    }
    best
  }
}

private[functions] object SubwordTrie {
  /** Build from the foldable vocab literal (null/empty entries skipped —
    * an empty piece can never be the longest match). */
  def fromVocab(arr: ArrayData): SubwordTrie = {
    val root = new SubwordTrie
    var i = 0
    while (i < arr.numElements()) {
      val p = arr.getUTF8String(i)
      if (p != null && p.numChars() > 0) {
        val s = p.toString
        var node = root
        var j = 0
        while (j < s.length) {
          node = node.childFor(s.charAt(j), create = true)
          j += 1
        }
        node.terminal = true
      }
      i += 1
    }
    root
  }
}

/** Native Catalyst expression: deterministic greedy longest-match
  * subword tokenization of ONE whitespace word against a FIXED literal
  * vocabulary — the MaxMatch scheme WordPiece inference uses (Devlin et
  * al. 2019, minus the `##` continuation marking), with a single-
  * character fallback for out-of-vocabulary spans (the byte/char
  * fallback of SentencePiece-style tokenizers). `word string in,
  * array<string> pieces out`; every piece is either a vocab entry or
  * one character, and the concatenation of the pieces is exactly the
  * input word.
  *
  * Why native: greedy longest-match is a data-dependent loop — not
  * expressible in fixed-depth column algebra (`transform` cannot carry
  * the advancing cursor) — and a Scala UDF would pay per-row
  * serialization. Same playbook as [[WinnowFingerprints]]: hand-written
  * JVM loop, one virtual call per WORD from generated code, so the
  * surrounding projection stays inside whole-stage codegen. Matching
  * walks a vocabulary trie ([[SubwordTrie]]) — zero allocation per
  * position; only EMITTED pieces allocate.
  *
  * Oracle-replayable by construction: the greedy rule is "longest vocab
  * piece that prefixes the remaining suffix, else one character", which
  * a SQL engine replays with a recursive CTE whose step picks the same
  * piece via a literal length-descending COALESCE chain (gate
  * txt_subword_fertility). Matching is by Java/UTF-16 code units;
  * parity with character-based SQL engines holds on BMP text (astral
  * chars would need codepoint stepping — not present in any corpus this
  * engine ingests).
  *
  * Scale shape: pure per-row column algebra — zero shuffle; the vocab
  * is a query-constant literal (a production deployment materializes a
  * trained vocab file into the literal the same way the IVF centroids
  * and LSH planes are served). */
case class SubwordTokenize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    SubwordTokenize.checkWordVocab(prettyName, left, right,
      _ == StringType, "a string word")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = left.nullable || right.nullable

  override def prettyName: String = "graft_subword_tokenize"

  @transient private lazy val trie: SubwordTrie =
    SubwordTrie.fromVocab(right.eval().asInstanceOf[ArrayData])

  /** One word's greedy segmentation — public so generated code can call
    * it. One zero-allocation trie walk per position; one substring per
    * emitted piece. */
  def compute(word: UTF8String): ArrayData = {
    val s = word.toString
    val n = s.length
    if (n == 0) return SubwordTokenize.EmptyResult
    val out = new java.util.ArrayList[Any](n / 2 + 1)
    var pos = 0
    while (pos < n) {
      val hit = trie.longestMatch(s, pos)
      val take = if (hit > 0) hit else 1 // OOV: single-char fallback
      out.add(UTF8String.fromString(s.substring(pos, pos + take)))
      pos += take
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(word: Any, vocab: Any): Any =
    compute(word.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("subword", this,
      classOf[SubwordTokenize].getName)
    nullSafeCodeGen(ctx, ev, (w, _) => s"${ev.value} = $ref.compute($w);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubwordTokenize =
    copy(left = newLeft, right = newRight)
}

object SubwordTokenize {
  private val EmptyResult: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Shared input check of the subword kernels: a typed left child plus
    * a foldable, non-null array<string> vocabulary. */
  private[functions] def checkWordVocab(name: String, left: Expression,
      right: Expression, leftOk: DataType => Boolean,
      leftDesc: String): TypeCheckResult =
    if (!leftOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$name requires $leftDesc, got ${left.dataType.simpleString}")
    else if (!right.foldable || (right.dataType match {
        case ArrayType(StringType, _) => false
        case _ => true
      }))
      TypeCheckResult.TypeCheckFailure(
        s"$name requires a foldable array<string> vocabulary, " +
          s"got ${right.dataType.simpleString}")
    else if (right.eval() == null) // a typed NULL literal is foldable
      TypeCheckResult.TypeCheckFailure(
        s"$name vocabulary must not evaluate to NULL")
    else TypeCheckResult.TypeCheckSuccess
}

/** Native Catalyst expression: TOTAL subword-piece count of ONE
  * document's token array under the same greedy longest-match rule as
  * [[SubwordTokenize]] — `array<string> tokens in, bigint out`, equal by
  * construction to `sum over words of size(subword_tokenize(word))` but
  * with ONE virtual call per document and ZERO allocation per piece
  * (the trie walk only advances a cursor and a counter; no piece
  * strings, no per-word arrays). This is the budget/accounting hot path:
  * a token-budget pass needs only the count, and at corpus scale the
  * emitting kernel spent most of its time materializing pieces the
  * consumer immediately discarded. Null token slots
  * are skipped, matching `transform`'s null propagation into a 0-size
  * contribution. */
case class SubwordCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    SubwordTokenize.checkWordVocab(prettyName, left, right,
      { case ArrayType(StringType, _) => true; case _ => false },
      "an array<string> of tokens")

  override def dataType: DataType = LongType

  override def nullable: Boolean = left.nullable || right.nullable

  override def prettyName: String = "graft_subword_count"

  @transient private lazy val trie: SubwordTrie =
    SubwordTrie.fromVocab(right.eval().asInstanceOf[ArrayData])

  /** One document's total piece count — public for generated code. */
  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    var total = 0L
    var i = 0
    while (i < n) {
      val w = tokens.getUTF8String(i)
      if (w != null) {
        val s = w.toString
        val len = s.length
        var pos = 0
        while (pos < len) {
          val hit = trie.longestMatch(s, pos)
          pos += (if (hit > 0) hit else 1)
          total += 1L
        }
      }
      i += 1
    }
    total
  }

  override protected def nullSafeEval(tokens: Any, vocab: Any): Any =
    compute(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("subwordCount", this,
      classOf[SubwordCount].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.compute($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubwordCount =
    copy(left = newLeft, right = newRight)
}
