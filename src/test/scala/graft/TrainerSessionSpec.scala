package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import graft.operators.{Clustering, Quantization}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The trainers (Lloyd k-means, PQ codebooks) run their rounds under
  * static plans without writing the session's conf: other threads on
  * the session still get adaptive plans while they run, and two trainers
  * on one session run at the same time. */
class TrainerSessionSpec extends SparkSpec {
  import TrainerSessionSpec._

  /** `n` 4-dim points in three blobs, read by one task, each vector
    * passed through `gate` on its way in. */
  private def points(n: Int, gate: Seq[Double] => Seq[Double]): DataFrame = {
    val g = udf(gate)
    spark.range(0, n, 1, 1).select(col("id"), g(array(
      (col("id") % 3 * 5 + col("id") * 0.01).cast("double"),
      (col("id") % 3).cast("double"),
      (col("id") % 5 * 0.1).cast("double"),
      (col("id") % 3 * 2).cast("double"))).as("v"))
  }

  private def kmeans(df: DataFrame) =
    Clustering.kmeansAssign(df, "id", "v", k = 3, iters = 2).collect().toSet
  private def codebook(df: DataFrame) =
    Quantization.trainCodebook(df, "id", "v", k = 3, m = 2, dims = 4, iters = 2)

  test("a trainer's rounds leave the session adaptive for other threads") {
    held = new CountDownLatch(1)
    go = new CountDownLatch(1)
    val df = points(30, v => { held.countDown(); go.await(60, TimeUnit.SECONDS); v })
    val pool = Executors.newSingleThreadExecutor()
    try {
      val trained = pool.submit(() => kmeans(df))
      assert(held.await(60, TimeUnit.SECONDS), "the trainer never read its input")
      val plan = spark.range(100).groupBy(col("id") % 7).count()
        .queryExecution.executedPlan
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
        s"planned while a trainer ran:\n$plan")
      go.countDown()
      assert(trained.get(120, TimeUnit.SECONDS) == kmeans(points(30, identity)))
    } finally {
      go.countDown()
      pool.shutdown()
    }
  }

  test("two trainers on one session run at once and match their single-threaded results") {
    val wantK = kmeans(points(40, identity))
    val wantC = codebook(points(40, identity))
    // each trainer's first row waits until the other trainer has read
    // one too: they finish only if both are inside their rounds at once
    both = new CountDownLatch(2)
    val gate: Seq[Double] => Seq[Double] = v => {
      both.countDown()
      if (!both.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("the other trainer never started")
      v
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val k = pool.submit(() => kmeans(points(40, gate)))
      val c = pool.submit(() => codebook(points(40, gate)))
      assert(k.get(120, TimeUnit.SECONDS) == wantK)
      assert(c.get(120, TimeUnit.SECONDS) == wantC)
    } finally pool.shutdown()
  }
}

/** Latches the UDFs reach statically, so no closure has to carry them. */
object TrainerSessionSpec {
  @volatile var held = new CountDownLatch(0)
  @volatile var go = new CountDownLatch(0)
  @volatile var both = new CountDownLatch(0)
}
