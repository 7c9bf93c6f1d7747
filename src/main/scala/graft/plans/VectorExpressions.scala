package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate a
  * lambda per element through the interpreter — fine for occasional use,
  * dominant cost when a similarity join scores millions of vector pairs.
  * These expressions compile to a tight primitive loop inside whole-stage
  * codegen (`doGenCode`), with an interpreted `nullSafeEval` fallback.
  *
  * Arithmetic order is the same sequential left-to-right accumulation as
  * the HOF formulation and DuckDB's list functions, so oracle parity is
  * preserved bit-for-bit.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
}

/** dot(a, b) = Σ a_i·b_i. Null when the lengths differ or any element is
  * null — exactly the semantics of the declarative
  * `aggregate(zip_with(a, b, *), 0.0, +)` form (`zip_with` pads the
  * shorter array with nulls, so the HOF form is NULL for unequal
  * lengths), which makes the [[RewriteVectorHof]] rewrite exact for
  * ragged and nullable-element arrays alike.
  */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "vector_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    sum
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |double $sum = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) = dot/(‖a‖·‖b‖) in one pass; 0.0 when either norm is 0. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getDouble(i)
      val yv = if (y.isNullAt(i)) 0.0 else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.isNullAt($i) ? 0.0 : $a.getDouble($i);
         |  double $yv = $b.isNullAt($i) ? 0.0 : $b.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |  $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API and SQL-registration surface for the native expressions. */
object VectorFunctions {

  def vector_dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Register `vector_dot` / `cosine_sim` / `simhash64` for spark.sql texts. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "vector_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs(0), portable = false), "built-in")
    registry.createOrReplaceTempFunction(
      "misra_gries", exprs => MisraGriesAgg(exprs(0),
        exprs(1).eval().asInstanceOf[Int]), "built-in")
  }
}

/** SparkSessionExtensions installer:
  * `.withExtensions(new GraftExtensions)` or config
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((spark, delegate) => new GraftSqlParser(spark, delegate))
    SnapshotTvf.functions.foreach(e.injectTableFunction)
    e.injectOptimizerRule(_ => RewriteVectorHof)
    e.injectOptimizerRule(s => RewriteToMaterialized(s))
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vector_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs(0), portable = false)))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "misra_gries"),
      (exprs: Seq[Expression]) => MisraGriesAgg(exprs(0),
        exprs(1).eval().asInstanceOf[Int]))) // analyzer wraps AggregateFunction
  }
}
