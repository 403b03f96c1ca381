package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Native Catalyst expression: |a ∩ b| for two SORTED DISTINCT
  * array<string> columns via a two-pointer merge walk, with the PPJoin
  * POSITIONAL FILTER — the count behind every MinHash/containment
  * verification tail.
  *
  * When both inputs are sorted and distinct the count falls out of one
  * merge walk: O(|a|+|b|) byte-wise comparisons, zero allocations, no
  * hashing (a per-row `HashSet` probe would allocate per candidate PAIR).
  * The producer pays one `sort_array` per DOC (corpus-sized) to save
  * per-PAIR work (candidate-sized, quadratic in cluster density).
  *
  * Positional filter: the walk stops as soon as
  * `count_so_far + min(remaining_a, remaining_b)` — an upper bound on the
  * final intersection — falls below `minCount`, and returns that upper
  * bound instead of finishing the walk. `minCount = 0` never stops early.
  *
  * Exactness contract: for pairs whose true count reaches `minCount` the
  * walk never breaks (the bound is an over-estimate of what is still
  * reachable), so the returned value is the EXACT count. For pairs that
  * break, the returned upper bound is `< minCount`; any similarity metric
  * MONOTONE INCREASING in the count (Jaccard `c/(|a|+|b|-c)`, containment
  * `c/|a|`) therefore evaluates below the threshold `minCount` was derived
  * from, and the downstream filter drops the pair exactly as it would
  * have with the exact count. Callers must derive `minCount`
  * CONSERVATIVELY (round the real-valued bound DOWN): a too-small
  * `minCount` only weakens the pruning, while a too-large one would break
  * walks for pairs that could still pass. The verification tails in
  * [[graft.operators.Dedup]] use `floor(t·(|a|+|b|)/(1+t))` (Jaccard) and
  * `floor(t·|a|)` (containment).
  *
  * On a dense LSH candidate set most pairs FAIL verification — the prune
  * exists to shorten exactly those walks.
  *
  * INPUT CONTRACT (caller-enforced, not checked): both arrays are sorted
  * ascending in Spark's StringType order (`sort_array` default) and
  * element-distinct, with no null elements. On unsorted input the count
  * silently under-reports. UTF8String.compare is byte-wise lexicographic —
  * exactly the ordering `sort_array` applies to StringType — so the walk's
  * comparisons agree with the producer's sort by construction.
  * IntersectCountSpec pins the `minCount = 0` walk to
  * `size(array_intersect(a, b))` through both eval paths.
  */
case class IntersectCountSortedBounded(left: Expression, right: Expression,
    minCount: Expression) extends TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = minCount

  override def checkInputDataTypes(): TypeCheckResult = {
    val arraysOk = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (arraysOk && minCount.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>, int), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}, " +
        s"${minCount.dataType.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean =
    left.nullable || right.nullable || minCount.nullable

  override def prettyName: String = "graft_intersect_count_sorted_bounded"

  override protected def nullSafeEval(a: Any, b: Any, m: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val need = m.asInstanceOf[Int]
    val na = x.numElements()
    val nb = y.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < na && j < nb) {
      val rem = math.min(na - i, nb - j)
      if (cnt + rem < need) return java.lang.Integer.valueOf(cnt + rem)
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { cnt += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    java.lang.Integer.valueOf(cnt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, m) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val cnt = ctx.freshName("cnt")
      val c = ctx.freshName("c")
      val rem = ctx.freshName("rem")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |int $cnt = 0;
         |while ($i < $na && $j < $nb) {
         |  int $rem = ($na - $i < $nb - $j) ? ($na - $i) : ($nb - $j);
         |  if ($cnt + $rem < $m) { $cnt = $cnt + $rem; break; }
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $cnt++; $i++; $j++; }
         |  else if ($c < 0) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): IntersectCountSortedBounded =
    copy(left = newFirst, right = newSecond, minCount = newThird)
}
