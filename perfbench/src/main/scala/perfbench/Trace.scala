package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Engine counters, cumulative since the listener was registered. */
final class EngineCounters(spark: SparkSession) {
  private val c = Engine.Names.map(_ -> new AtomicLong).toMap

  private def add(name: String, v: Long): Unit = c(name).addAndGet(v): Unit

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        add("task_run_ms", m.executorRunTime)
        add("gc_ms", m.jvmGCTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        // the Spark UI's scheduler delay, without the getting-result term
        if (info != null) add("sched_delay_ms", math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime))
      }
    }
  }
  // planning time of every action: analysis + optimization + planning
  // phases from the action's QueryPlanningTracker
  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add("plan_us", qe.tracker.phases.values.map(p => p.durationMs * 1000).sum)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Flush the asynchronous listener bus, then read every counter. */
  def snapshot(): Map[String, Double] = {
    Engine.drain(spark)
    c.map { case (k, v) => k -> v.get.toDouble }
  }
}

object Engine {
  val Names = Seq("jobs", "stages", "tasks", "task_run_ms", "sched_delay_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms", "plan_us")

  /** Reported per span: bytes as MB, planning in ms. */
  def reported(delta: Map[String, Double]): Map[String, Double] = Map(
    "jobs" -> delta("jobs"), "stages" -> delta("stages"), "tasks" -> delta("tasks"),
    "task_run_ms" -> delta("task_run_ms"), "sched_delay_ms" -> delta("sched_delay_ms"),
    "shuffle_read_mb" -> delta("shuffle_read_bytes") / 1e6,
    "shuffle_write_mb" -> delta("shuffle_write_bytes") / 1e6,
    "spill_mb" -> delta("spill_bytes") / 1e6, "gc_ms" -> delta("gc_ms"),
    "plan_ms" -> delta("plan_us") / 1000)

  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }

  /** Persisted RDDs and their cached bytes right now. */
  def persisted(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val ids = sc.getPersistentRDDs.keySet
    val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    (ids.size, bytes / 1e6)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** One recorded interval. `parent` is -1 at the root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {

  /** Length of the union of intervals, in ns. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover (children clipped to the parent's interval). */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.endNs - s.startNs - covered(cs)) / 1e9
    }.toMap
  }

  /** Self counters: the span's counter deltas minus its children's. */
  def selfCounters(spans: Seq[Span]): Map[Int, Map[String, Double]] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val own = kids.getOrElse(s.id, Nil).foldLeft(s.counters) { (acc, c) =>
        acc.map { case (k, v) => k -> (v - c.counters.getOrElse(k, 0.0)) }
      }
      s.id -> own
    }.toMap
  }
}

/** Spans around the benchmark's own calls into each layer. Disabled, it
  * runs the body and records nothing. Spans stay in memory until
  * written out at the end of the run. */
final class Tracer(val enabled: Boolean, counters: Option[EngineCounters]) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = counters.map(_.snapshot()).getOrElse(Map.empty)
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val t1 = System.nanoTime()
        val after = counters.map(_.snapshot()).getOrElse(Map.empty)
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        spans += Span(id, parent, name, t0, t1,
          if (delta.isEmpty) Map.empty else Engine.reported(delta))
      }
    }
}
