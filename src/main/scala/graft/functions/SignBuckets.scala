package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression: the sign-of-projection LSH bucket id of a
  * numeric-array vector against a FOLDABLE set of hyperplanes — bit p of
  * the result is set iff dot(v, plane_p) > 0.
  *
  * The composable formulation (the test-side `Oracles.bucketIdFold`)
  * builds one `aggregate(zip_with(v, planesLit_p))` tree PER PLANE and
  * OR-reduces them: numPlanes interpreted higher-order folds per row,
  * each allocating an intermediate product array, under an expression
  * tree of numPlanes × dim literals that Catalyst must analyze and
  * Janino must compile per query — measured ~0.85 s FLAT on the bucket
  * gates at every data scale (constant cost: plan + compile + the
  * interpreted folds dominate the row work at any sf). This kernel is
  * one expression node holding the plane matrix as a reference object:
  * a tight fused loop, no allocation, no per-plane plan growth.
  *
  * Bit-for-bit parity with the fold form, including its null algebra:
  * dot products accumulate left-to-right in double; a null element or a
  * length mismatch nulls the HOF dot so its `when(dot > 0, bit)` takes
  * the otherwise(0) branch — here: any null element or a length != dim
  * yields bucket 0L (no bit can be set). The planes child must be a
  * foldable array<array<double>> literal so the matrix is evaluated
  * once at plan time (same driver-side-literal contract as the
  * hyperplanes themselves, which are seeded and reproducible).
  */
case class SignBuckets(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(et @ (DoubleType | FloatType | LongType | IntegerType), _) =>
      Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left.dataType).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<double|float|long|int> vector, " +
          s"got ${left.dataType.simpleString}")
    else if (!right.foldable || (right.dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) => false
        case _ => true
      }))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable array<array<double>> plane " +
          s"matrix, got ${right.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType

  // never null: the fold form's when(dot > 0, bit).otherwise(0) algebra
  // maps even a NULL vector to bucket 0L (null dot -> otherwise branch),
  // and parity with that form is this kernel's contract
  override def nullable: Boolean = false

  override def prettyName: String = "graft_sign_buckets"

  /** The plane matrix, materialized once from the foldable child. */
  @transient private lazy val planes: Array[Array[Double]] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements()) { p =>
      arr.getArray(p).toDoubleArray()
    }
  }

  @inline private def get(arr: ArrayData, et: DataType, i: Int): Double =
    et match {
      case DoubleType => arr.getDouble(i)
      case FloatType => arr.getFloat(i).toDouble
      case LongType => arr.getLong(i).toDouble
      case IntegerType => arr.getInt(i).toDouble
      case other => throw new IllegalStateException(
        s"$prettyName: unsupported element type $other")
    }

  /** Shared by eval and the generated code via reference object. */
  private def compute(v: ArrayData, et: DataType): Long = {
    val n = v.numElements()
    if (planes.length > 0 && n != planes(0).length) return 0L
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return 0L; i += 1 }
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += get(v, et, j) * plane(j); j += 1 }
      if (dot > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) 0L
    else compute(v.asInstanceOf[ArrayData], elemType(left.dataType).get)
  }

  private def genGet(arr: String, et: DataType, i: String): String = et match {
    case DoubleType => s"$arr.getDouble($i)"
    case FloatType => s"(double) $arr.getFloat($i)"
    case LongType => s"(double) $arr.getLong($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case other => throw new IllegalStateException(
      s"$prettyName: unsupported element type $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftGen = left.genCode(ctx)
    val a = leftGen.value
    val pl = ctx.addReferenceObj("planes", planes, "double[][]")
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val p = ctx.freshName("p")
    val j = ctx.freshName("j")
    val dot = ctx.freshName("dot")
    val plane = ctx.freshName("plane")
    val ok = ctx.freshName("ok")
    val getV = genGet(a.toString, elemType(left.dataType).get, j)
    ev.copy(
      code = code"""
        ${leftGen.code}
        long ${ev.value} = 0L;
        if (!${leftGen.isNull}) {
          int $n = $a.numElements();
          boolean $ok = ($pl.length == 0 || $n == $pl[0].length);
          for (int $i = 0; $ok && $i < $n; $i++) {
            if ($a.isNullAt($i)) $ok = false;
          }
          if ($ok) {
            for (int $p = 0; $p < $pl.length; $p++) {
              double[] $plane = $pl[$p];
              double $dot = 0.0;
              for (int $j = 0; $j < $n; $j++) {
                $dot += $getV * $plane[$j];
              }
              if ($dot > 0) ${ev.value} |= 1L << $p;
            }
          }
        }
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignBuckets =
    copy(left = newLeft, right = newRight)
}
