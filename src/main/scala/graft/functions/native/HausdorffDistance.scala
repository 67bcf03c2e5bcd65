package graft.functions.native

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native symmetric discrete Hausdorff distance over two
  * array<struct<t: double, v: double>> trajectory columns.
  *
  * The HOF form nests transform inside
  * transform — every directed pass allocates an |B|-element array per
  * point of A and walks it with interpreted-ish lambdas; for a blocked
  * pairwise join that is the dominant cost (measured 40 s for q106 at
  * sf0.1). This expression runs one fused loop per pair AND applies the
  * classic early-break (Taha & Hanbury): once a point's running minimum
  * falls below the current directed maximum, that point cannot raise the
  * maximum and its scan stops. The break changes WORK, not the VALUE —
  * the result is bit-identical to the HOF form on the same point order
  * (exact min/max over exactly computed per-pair distances).
  *
  * Empty trajectories return NaN (the operator never builds one — a
  * groupBy trajectory has >= 1 point); null inputs return null via the
  * standard binary-expression null contract.
  *
  * TrajectorySim.hausdorffTopK builds it through [[Native.hausdorff]];
  * SQL callers reach it as `graft_hausdorff`, the name
  * [[graft.GraftExtensions]] registers.
  */
case class HausdorffDistance(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(StructType(fields), _) =>
        fields.length == 2 && fields.forall(_.dataType == DoubleType)
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<struct<double, double>> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_hausdorff"

  override def nullSafeEval(a: Any, b: Any): Any =
    HausdorffDistance.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // NOTE: generated Java cannot reference this class's own package —
  // `native` is a Java reserved word and Janino rejects the selector,
  // silently degrading the stage to interpreted mode. Route the static
  // call through the keyword-free forwarder instead.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Kernels.hausdorff($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HausdorffDistance =
    copy(left = newLeft, right = newRight)
}

object HausdorffDistance {

  /** max over a of min over b of euclidean dist; early-break once a
    * point's running min cannot raise the running max (exact).
    *
    * PRECONDITION: no NaN coordinates. The `d < mn` comparison ignores
    * NaN distances (an all-NaN row would leave mn = +Infinity), while
    * the HOF form's array_min/array_max order NaN as the largest
    * double — the two agree only on NaN-free input, which
    * TrajectorySim.traj enforces by dropping NaN-valued points. */
  private def directed(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var hmax = 0.0
    var i = 0
    while (i < na) {
      val ra = a.getStruct(i, 2)
      val at = ra.getDouble(0); val av = ra.getDouble(1)
      var mn = Double.PositiveInfinity
      var j = 0
      while (j < nb && mn >= hmax) {
        val rb = b.getStruct(j, 2)
        val dt = at - rb.getDouble(0); val dv = av - rb.getDouble(1)
        val d = math.sqrt(dt * dt + dv * dv)
        if (d < mn) mn = d
        j += 1
      }
      if (mn > hmax) hmax = mn
      i += 1
    }
    hmax
  }

  def compute(a: ArrayData, b: ArrayData): Double =
    if (a.numElements() == 0 || b.numElements() == 0) Double.NaN
    else math.max(directed(a, b), directed(b, a))
}
