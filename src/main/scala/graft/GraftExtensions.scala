package graft

import graft.functions.native.{BottomKAgg, CosineSimilarity, DotProduct, HausdorffDistance, MisraGriesAgg, SimHashAgg, SquaredDistance, SquaredDistanceSlice, WeightedBottomKAgg}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL names for graft's native kernels, through the public extension
  * mechanism: install with
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  *
  * It is for SQL text and `call_function` callers only. graft's own
  * operators build the same expression classes as Columns directly
  * ([[graft.functions.native.Native]]), so they plan identically in a
  * session with or without these names.
  *
  *   graft_dot(a, b), graft_cosine(a, b)   fused dot / cosine
  *   graft_dist2(a, b), graft_dist2s(v, w, lo)  squared L2, whole / window
  *   graft_hausdorff(a, b)                 early-break Hausdorff distance
  *   graft_simhash(h)                      SimHash-64 signature aggregate
  *   graft_bottomk(h, k)                   bottom-k (KMV) sketch aggregate
  *   graft_mg(key, k)                      Misra–Gries summary aggregate
  *   graft_wbk(p, h, v, w, k)              weighted bottom-k aggregate
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, arity: Int,
               builder: Seq[Expression] => Expression,
               className: String): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(className, name),
        (children: Seq[Expression]) => {
          require(children.length == arity, s"$name expects $arity arguments")
          builder(children)
        }))
    inject("graft_dot", 2, c => DotProduct(c(0), c(1)),
      classOf[DotProduct].getName)
    inject("graft_cosine", 2, c => CosineSimilarity(c(0), c(1)),
      classOf[CosineSimilarity].getName)
    inject("graft_dist2", 2, c => SquaredDistance(c(0), c(1)),
      classOf[SquaredDistance].getName)
    inject("graft_dist2s", 3, c => SquaredDistanceSlice(c(0), c(1), c(2)),
      classOf[SquaredDistanceSlice].getName)
    inject("graft_simhash", 1, c => SimHashAgg(c(0)),
      classOf[SimHashAgg].getName)
    inject("graft_hausdorff", 2, c => HausdorffDistance(c(0), c(1)),
      classOf[HausdorffDistance].getName)
    inject("graft_bottomk", 2, c => BottomKAgg(c(0), c(1)),
      classOf[BottomKAgg].getName)
    inject("graft_mg", 2, c => MisraGriesAgg(c(0), c(1)),
      classOf[MisraGriesAgg].getName)
    inject("graft_wbk", 5, c =>
      WeightedBottomKAgg(c(0), c(1), c(2), c(3), c(4)),
      classOf[WeightedBottomKAgg].getName)
  }
}
