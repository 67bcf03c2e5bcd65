package graft

import graft.functions.native.{BottomKAgg, CosineSimilarity, DotProduct, HausdorffDistance, MisraGriesAgg, SimHashAgg, SquaredDistance, SquaredDistanceSlice, WeightedBottomKAgg}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's SparkSessionExtensions entry point — the PUBLIC extension
  * mechanism (no internal APIs): install with
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  *
  * Injects the native codegen'd vector kernels as SQL-callable functions:
  *   graft_dot(a, b)     — fused dot product over array<float|double>
  *   graft_cosine(a, b)  — fused cosine similarity
  *
  * Similarity.dot/cosine pick these up automatically (via
  * `call_function`) when the active session has them registered, and fall
  * back to the equivalent zip_with/aggregate HOF plan when not — sessions
  * without the extension lose only speed, never answers.
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
    // squared-L2 kernels: the k-means/IVF assignment and PQ-subspace
    // distance folds (their HOF twins are interpreted CodegenFallbacks,
    // evaluated per row per centroid/codeword — r09's measured hot path)
    inject("graft_dist2", 2, c => SquaredDistance(c(0), c(1)),
      classOf[SquaredDistance].getName)
    inject("graft_dist2s", 3, c => SquaredDistanceSlice(c(0), c(1), c(2)),
      classOf[SquaredDistanceSlice].getName)
    // native SimHash signature aggregate (one long[64] buffer per group
    // instead of 64 conditional-sum aggregates)
    inject("graft_simhash", 1, c => SimHashAgg(c(0)),
      classOf[SimHashAgg].getName)
    // fused early-break Hausdorff over trajectory struct arrays
    inject("graft_hausdorff", 2, c => HausdorffDistance(c(0), c(1)),
      classOf[HausdorffDistance].getName)
    // bottom-k (KMV) sketch aggregate: ≤k-long partial states, so the
    // shuffle ships 8k bytes per group however many distinct hashes a
    // partition saw (the collect_set fallback ships them all)
    inject("graft_bottomk", 2, c => BottomKAgg(c(0), c(1)),
      classOf[BottomKAgg].getName)
    // Misra–Gries heavy-hitter summary: ≤k (key,count) counters per
    // partial state — the bounded candidate pass of the exact two-scan
    // heavy-hitters plan (the expression fallback is a full groupBy
    // census, which ships every distinct key)
    inject("graft_mg", 2, c => MisraGriesAgg(c(0), c(1)),
      classOf[MisraGriesAgg].getName)
    // per-group weighted bottom-k (priority-sampling) sketch: ≤(k+1)
    // (p,h,v,w) slots per partial state — the bounded-state form of
    // the keyed weighted-quantile sketch (the window fallback sorts
    // whole groups)
    inject("graft_wbk", 5, c =>
      WeightedBottomKAgg(c(0), c(1), c(2), c(3), c(4)),
      classOf[WeightedBottomKAgg].getName)
  }
}

object GraftExtensions {
  /** True when the GIVEN session carries the named injected function.
    * Checked at plan-build time on the driver; SPARK_GRAFT_HOF is the A/B
    * kill-switch that forces every call site onto its HOF/expression
    * fallback for benchmarking.
    *
    * Callers must pass the session the plan is BUILT against
    * (df.sparkSession), not the thread-local active session: in a
    * multi-session process the active session may carry the extension
    * while the DataFrame's does not, and the optimistic
    * `call_function` would then fail analysis instead of falling back. */
  def has(spark: org.apache.spark.sql.SparkSession, fn: String): Boolean =
    !sys.env.contains("SPARK_GRAFT_HOF") && {
      try spark.catalog.functionExists(fn)
      catch { case _: Throwable => false }
    }
}
