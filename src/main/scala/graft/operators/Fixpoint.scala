package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** The one owner of iterative state. Every lineage cut an iterative
  * operator makes goes through a [[Scope]], which records the RDD each cut
  * pinned, keeps round state at the newest two per series, and on exit
  * frees every pin the operator's returned frame does not read. The three
  * loop runners on the scope — [[Scope.iterate]] (fixed rounds),
  * [[Scope.probe]] (a broadcast delta probed after each round) and
  * [[Scope.until]] (a driver-side check) — are the only iterative loops of
  * the graph family and of Dedup's connected components.
  */
object Fixpoint {

  /** Eager lineage cut that also returns the RDD it pinned, read from the
    * checkpointed plan's LogicalRDD — never the context's newest persisted
    * id, which a concurrent caller may own.
    *
    * `durable = false` → `localCheckpoint()`: blocks pinned in executor
    * memory — fastest on a single box, but NOT fault-tolerant (a lost
    * executor loses the blocks and kills the whole multi-round job).
    * `durable = true` → reliable `checkpoint()` against the SparkContext
    * checkpoint directory: each round's state is written to the
    * (distributed) filesystem, so a lost executor re-reads instead of
    * recomputing 40 rounds of lineage, at the cost of one state write per
    * round. Both cut lineage eagerly (one job per cut, no geometric plan
    * growth) and produce bit-identical state ([[graft.GraphClusterPlanSpec]]
    * pins the hash parity). */
  def pin(df: DataFrame, durable: Boolean): (DataFrame, RDD[_]) = {
    val out = if (durable) df.checkpoint() else df.localCheckpoint()
    (out, read(out).headOption
      .getOrElse(sys.error("checkpointed plan has no LogicalRDD")))
  }

  /** Free a pin: drop its blocks and, for a durable pin, delete its
    * checkpoint files. */
  def release(rdd: RDD[_]): Unit = {
    rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true): Unit
    }
  }

  /** The RDDs a frame's analyzed plan reads. */
  private def read(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd }

  /** Run `body` with a fresh scope and free what it pinned, except what the
    * returned frame reads. `checkpointDir` makes every cut durable: the
    * directory is routed to the context for the call and the PREVIOUS
    * setting restored afterwards — without this the per-operator override
    * leaks into every later `checkpoint()` user of the session.
    * Restoration writes the raw internal value back (reflection on the
    * bytecode-public `checkpointDir_$eq` setter): re-calling
    * `setCheckpointDir` would mint a fresh UUID subdir instead of the
    * original one. The cuts are eager, so every checkpoint has
    * materialized before `body` returns. */
  def run(df: DataFrame, checkpointDir: Option[String])
      (body: Scope => DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val saved = sc.getCheckpointDir
    checkpointDir.foreach(sc.setCheckpointDir)
    val scope = new Scope(checkpointDir.isDefined)
    var out: DataFrame = null
    try { out = body(scope); out }
    finally {
      if (checkpointDir.isDefined) {
        val setter = sc.getClass.getMethods
          .find(_.getName == "checkpointDir_$eq")
          .getOrElse(throw new NoSuchMethodException(
            "SparkContext.checkpointDir_$eq"))
        setter.invoke(sc, saved): Unit
      }
      val kept = Option(out).map(read(_).map(_.id).toSet).getOrElse(Set.empty)
      scope.pins.filterNot(r => kept(r.id)).foreach(release)
    }
  }

  /** Everything one operator invocation pinned. */
  final class Scope private[Fixpoint] (durable: Boolean) {
    private val longLived = mutable.ArrayBuffer.empty[RDD[_]]
    private val series = mutable.Map.empty[String, List[RDD[_]]]

    private[Fixpoint] def pins: Seq[RDD[_]] =
      longLived.toSeq ++ series.values.flatten

    /** A frame later rounds re-read (edge sets, Brandes level frames):
      * pinned until the scope exits. */
    def cut(df: DataFrame): DataFrame = {
      val (out, rdd) = pin(df, durable)
      longLived += rdd
      out
    }

    /** Round state of series `name`: each cut frees the one from two cuts
      * back. Two stay because [[probe]] hands back the PREVIOUS state when
      * its probe trips. */
    def round(df: DataFrame, name: String = "state"): DataFrame = {
      val (out, rdd) = pin(df, durable)
      val kept = rdd :: series.getOrElse(name, Nil)
      kept.drop(2).foreach(release)
      series(name) = kept.take(2)
      out
    }

    /** `k` rounds of `step` (given the state and the 0-based round). */
    def iterate(init: DataFrame, k: Int)
        (step: (DataFrame, Int) => DataFrame): DataFrame = {
      var state = round(init)
      var i = 0
      while (i < k) {
        state = round(step(state, i))
        i += 1
      }
      state
    }

    /** Rounds of `step` (given the state and the 0-based round) until
      * `stop(state, rounds run)` holds — checked on the driver after the
      * init cut and after every round — or `maxIter` rounds. Returns
      * (state, rounds run, whether `stop` held). */
    def until(init: DataFrame, maxIter: Int)
        (step: (DataFrame, Int) => DataFrame)
        (stop: (DataFrame, Int) => Boolean): (DataFrame, Int, Boolean) = {
      var state = round(init)
      var i = 0
      var done = stop(state, 0)
      while (!done && i < maxIter) {
        state = round(step(state, i))
        i += 1
        done = stop(state, i)
      }
      (state, i, done)
    }

    /** Run `step` (which must emit a broadcast `__delta` column — null on
      * the first round) until the probed delta drops below `tol` or
      * `maxIter` rounds, returning (final state, rounds run, final
      * delta). Round k+1's output carries Δ_k, so the stop check is a
      * limit-1 probe of the just-cut state: when it shows Δ_k < tol the
      * PREVIOUS state (round k) is returned — the state an eager check
      * before round k+1 would return, with k probes in place of k full
      * aggregation jobs. If `maxIter` caps the loop instead, the final
      * delta needs the one direct aggregate (`capDelta`) the probe never
      * ran. */
    def probe(init: DataFrame, tol: Double, maxIter: Int,
              capDelta: DataFrame => Double)
        (step: DataFrame => DataFrame): (DataFrame, Int, Double) = {
      var state = round(init)
      var it = 0
      var result: DataFrame = null
      var delta = Double.NaN
      while (result == null && it < maxIter) {
        val next = round(step(state))
        // a state with NO ROWS (e.g. SSSP with zero matching seeds) is its
        // own fixed point — probe it as converged-at-zero instead of
        // head()-ing an empty frame
        val probed: Any = next.select(col("__delta")).take(1) match {
          case Array(row) => row.get(0)
          case _ => java.lang.Double.valueOf(0.0)
        }
        if (probed != null && probed.asInstanceOf[Double] < tol) {
          delta = probed.asInstanceOf[Double]
          result = state
        } else {
          state = next
          it += 1
        }
      }
      if (result == null) {
        delta = capDelta(state)
        result = state
      }
      (result, it, delta)
    }
  }
}
