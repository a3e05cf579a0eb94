package graft.engine.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused cosine similarity over two float-vector columns as a native
  * Catalyst expression with whole-stage codegen (SURVEY §4's one
  * planned custom expression).
  *
  * One pass computes dot, |a|², |b|² — versus three interpreted
  * higher-order-function folds for the builtin-composed form. The
  * arithmetic order (index-ascending left fold in double, then
  * dot/(√na·√nb)) is EXACTLY the composed form's, so results are
  * bit-identical to both the HOF implementation and the DuckDB oracle.
  *
  * Scale note: inside codegen the loop runs over the unsafe array data
  * with no per-element boxing — this is the hot inner loop of any
  * 100 TB embedding scan, so it must fuse into the scan's codegen span.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two ARRAY<FLOAT> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  // mismatched vector lengths yield NULL (matching the zip_with-composed
  // form, which null-pads) — never a silently-wrong prefix similarity
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi;
         |    $na += $xi * $xi;
         |    $nb += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The fold on the JVM side: index-ascending sums of x·y, x² and y²
    * in double, then dot/(√na·√nb); null when the lengths differ.
    * Interpreted evaluation and driver-side callers both run this one
    * copy; `doGenCode` emits the same loop as Java. */
  def of(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Registration for the engine's native expressions. */
object GraftFunctions {

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (children => {
      require(children.length == 2,
        s"graft_cosine expects 2 arguments, got ${children.length}")
      CosineSimilarity(children.head, children(1))
    }),
    "graft_intersect_count" -> (children => {
      require(children.length == 2,
        s"graft_intersect_count expects 2 arguments, got ${children.length}")
      IntersectCount(children.head, children(1))
    }),
    "graft_kmv" -> (children => {
      require(children.length == 2,
        s"graft_kmv expects (value, k), got ${children.length} arguments")
      require(children(1).foldable, "graft_kmv: k must be a literal")
      KmvSketch(children.head,
        children(1).eval().asInstanceOf[Number].intValue())
        .toAggregateExpression()
    }))

  /** Idempotent per-session registration (for sessions not built with
    * [[GraftExtensions]], e.g. the driver's own harness session): only
    * the names the session's registry lacks are registered, so a repeat
    * call replaces nothing. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
