package perfbench

import java.io.File
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable

/** What a workload runs with: the session, the tracer, its input and
  * scratch directories, and the per-op records. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val in: File,
    val work: File) {

  /** Layer values recorded in traced passes (counts, ratios), summed per
    * name; the runner divides by the number of traced passes. */
  val values = mutable.LinkedHashMap[String, Double]()
  def add(name: String, v: Double): Unit =
    if (tr.enabled) values(name) = values.getOrElse(name, 0.0) + v

  /** Persisted RDDs and MB read after every op, before any cleanup. */
  val persistedAfterOp = mutable.ArrayBuffer[(String, Int, Double)]()

  private val forced = mutable.ArrayBuffer[Int]()

  /** Nanoseconds spent in checks inside a pass; the pass's wall excludes
    * them. */
  var untimedNs = 0L
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** Traced runs materialize each layer's output inside its span, so the
    * span covers that layer's own work; untraced runs pass the plan on. */
  def force[T](ds: Dataset[T]): Dataset[T] =
    if (!tr.enabled) ds
    else {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = ds.localCheckpoint(eager = true)
      forced ++= sc.getPersistentRDDs.keySet -- before
      out
    }

  /** Rows of a frame `force` materialized (traced runs only). */
  def rowsOut(stage: String, ds: Dataset[_]): Unit =
    if (tr.enabled) add(s"pipelines.transit.rows_out.$stage", ds.count().toDouble)

  /** Drop what `force` pinned. */
  def release(): Unit = {
    val sc = spark.sparkContext
    forced.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    forced.clear()
  }

  /** End of an op: drop what `force` pinned, then read what the library
    * left pinned. */
  def endOp(op: String): Unit = {
    release()
    val (n, mb) = Engine.persisted(spark)
    persistedAfterOp += ((op, n, mb))
  }

  def path(name: String): String = new File(work, name).getPath
}
