package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** COUNT of common elements of two SORTED, duplicate-free integer
  * arrays — the triangle-closing probe `size(array_intersect(nu, nv))`
  * without its per-row allocations: `array_intersect` builds a hash set
  * of one side plus a result array per row just so `size` can read its
  * length, which at |E| rows (one probe per oriented edge) is the
  * dominant GC pressure of the census. This expression compiles to a
  * two-pointer merge inside whole-stage codegen — zero allocation,
  * sequential access.
  *
  * CONTRACT (holds by construction for degree-oriented adjacency lists:
  * `sort_array(collect_list(v))` over distinct (u, v) edges): both inputs
  * ascending-sorted, no duplicates, no null elements. Under it the merge
  * count equals `size(array_intersect(a, b))` exactly. Arrays typed
  * `containsNull = true` (every array read back from parquet) are
  * accepted, and a null element in one fails the query: the merge reads
  * raw `getLong`/`getInt`, where a null would silently count as 0.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "sorted_intersect_count"
  override def dataType: DataType = LongType

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  /** Whether `e`'s elements may be null, so eval must check them. */
  private def mayHoldNull(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if lt == rt && (lt == LongType || lt == IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<int>|array<bigint> arguments " +
          s"of the same type, got ${left.dataType.sql} and " +
          s"${right.dataType.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (mayHoldNull(left)) SortedIntersectCount.requireNoNull(x)
    if (mayHoldNull(right)) SortedIntersectCount.requireNoNull(y)
    val (nx, ny) = (x.numElements(), y.numElements())
    var (i, j) = (0, 0)
    var c = 0L
    val isLong = elemType == LongType
    while (i < nx && j < ny) {
      val xv = if (isLong) x.getLong(i) else x.getInt(i).toLong
      val yv = if (isLong) y.getLong(j) else y.getInt(j).toLong
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val getter = if (elemType == LongType) "getLong" else "getInt"
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val c = ctx.freshName("c")
      def nullCheck(arr: String, e: Expression): String =
        if (!mayHoldNull(e)) ""
        else {
          val k = ctx.freshName("k")
          s"""for (int $k = 0; $k < $arr.numElements(); $k++) {
             |  if ($arr.isNullAt($k)) {
             |    throw new IllegalArgumentException("${SortedIntersectCount.NullElement}");
             |  }
             |}""".stripMargin
        }
      s"""
         |${nullCheck(a, left)}
         |${nullCheck(b, right)}
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = (long) $a.$getter($i);
         |  long $yv = (long) $b.$getter($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  val NullElement: String =
    "sorted_intersect_count: null array element (the inputs must be " +
      "sorted, duplicate-free and null-free)"

  def requireNoNull(a: ArrayData): Unit = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(NullElement)
      i += 1
    }
  }
}
