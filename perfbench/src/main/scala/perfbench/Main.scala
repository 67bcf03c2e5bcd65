package perfbench

import java.io.File
import graft.sources.Sinks
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** A workload: seeded inputs, and passes of ops run by one caller in a
  * closed loop, each op waiting for the previous one. */
trait Workload {
  def generate(in: File, seed: Long): Unit
  /** Rows of raw input one pass consumes. */
  def inputRows: Long
  def pass(c: Ctx, k: Int, op: Ops): Unit
  /** Output checks on the last pass; each string is a failure. */
  def check(c: Ctx): Seq[String]
  /** Workload-specific figures printed beside the metrics. */
  def side(c: Ctx): Seq[(String, Double, String)]
}

/** Times each op of a pass; a traced op is one `bench.op` span. */
final class Ops(c: Ctx) {
  val latencies = ArrayBuffer[Double]()
  var attempted = 0
  /** Ops the first pass ran. */
  var firstPassOps = -1

  def apply(name: String)(body: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    c.tr.span("bench.op") { body }
    latencies += (System.nanoTime() - t0) / 1e9
    c.endOp(name)
  }
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "transit_history" -> (() => new TransitHistory),
    "transit_daily" -> (() => new TransitDaily),
    "graph_fixpoint" -> (() => new GraphFixpoint),
    "taxi_mapmatch" -> (() => new TaxiMapMatch))

  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  /** The session `graft.Bench` ships, with every scratch path inside the
    * run's own directory and no more task slots than processors. */
  def session(work: File): SparkSession = {
    val slots = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", slots)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The first jobs of a session pay for executor threads and class
    * loading; every set-up runs them before anything is timed. */
  def warmup(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 1000)").collect()

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, spans: Option[File])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    require(Workloads.contains(need("--workload")),
      s"unknown workload ${need("--workload")}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")), m.get("--spans").map(new File(_)))
  }

  private val started = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${(System.nanoTime() - started) / 1e9}%.1f s")

  /** Any failure, of an op or of the set-up, ends the run with exit code
    * 1 and no result line. */
  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.println(s"[perfbench] FAILED: $e")
        sys.exit(1)
    }

  def run(a: Args): Unit = {
    val w = Workloads(a.workload)()
    Sinks.rmrf(a.work.getPath)
    val in = new File(a.work, "in")
    val untraced = new Tracer(false, None)

    // set-up: session start, input generation and a warm-up job,
    // repeated; setup_s is their median
    var spark: SparkSession = null
    val setups = (1 to Setups).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a.work)
      Sinks.rmrf(in.getPath)
      w.generate(in, a.seed)
      warmup(spark)
      (System.nanoTime() - t0) / 1e9
    }

    phase("set-up done")
    val counters = if (a.trace) Some(new EngineCounters(spark)) else None
    val traced = new Tracer(true, counters)
    val plain = new Ctx(spark, untraced, in, a.work)
    val tracedCtx = new Ctx(spark, traced, in, a.work)
    val plainOps = new Ops(plain)
    val tracedOps = new Ops(tracedCtx)
    val walls, tracedWalls = ArrayBuffer[Double]()
    def runPass(c: Ctx, ops: Ops, walls: ArrayBuffer[Double], k: Int): Unit = {
      val (t0, u0) = (System.nanoTime(), c.untimedNs)
      c.tr.span("bench.pass") { w.pass(c, k, ops) }
      walls += (System.nanoTime() - t0 - (c.untimedNs - u0)) / 1e9
      c.release()
      if (ops.firstPassOps < 0) ops.firstPassOps = ops.latencies.size
    }

    // closed loop: whole passes until the window has elapsed. A traced
    // run follows its first, untraced pass with pairs of a traced and an
    // untraced pass, so each traced pass has a warm untraced twin. The
    // last pass is untraced; the checks read its outputs.
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var k = 0
    runPass(plain, plainOps, walls, k)
    while (System.nanoTime() < deadline || (a.trace && tracedWalls.isEmpty)) {
      k += 1
      if (a.trace) { runPass(tracedCtx, tracedOps, tracedWalls, k); k += 1 }
      runPass(plain, plainOps, walls, k)
    }

    phase(s"${walls.size + tracedWalls.size} passes done")
    val failures = w.check(plain)
    phase("checks done")
    val side = w.side(plain)
    val persisted = (plain.persistedAfterOp ++ tracedCtx.persistedAfterOp)
    val peakRss = Engine.peakRssMb()
    val attempted = plainOps.attempted + tracedOps.attempted

    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
      spark.stop()
      sys.exit(1)
    }

    // the first pass of a run pays for JIT and code generation; when later
    // passes exist, the medians are theirs
    val warmFrom = if (walls.size > 1) 1 else 0
    val wall = Stats.median(walls.toSeq.drop(warmFrom))
    val lat = plainOps.latencies.toSeq.drop(if (warmFrom == 1) plainOps.firstPassOps else 0)
    val tail = Stats.tail(lat)
    val info = Seq(
      ("passes", walls.size.toDouble, "count"),
      ("first_pass_s", walls.head, "s"),
      ("ops", lat.size.toDouble, "count"),
      ("failed_ratio", 0.0, "ratio")) ++
      tail.toSeq.flatMap { case (p, v) => Seq(("op_tail_s", v, "s"), ("op_tail_pct", p.toDouble, "%")) } ++
      Seq(("persisted_rdds_max_after_op", persisted.map(_._2.toDouble).maxOption.getOrElse(0.0), "count"),
        ("persisted_mb_max_after_op", persisted.map(_._3).maxOption.getOrElse(0.0), "MB")) ++ side

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("wall_s", wall, "s"),
        ("rows_per_s", w.inputRows / wall, "1/s"),
        ("op_p50_s", Stats.median(lat), "s"),
        ("peak_rss_mb", peakRss, "MB"))
      else {
        val m = Layers.metrics(traced.spans.toSeq, tracedCtx, tracedWalls.size)
        val tw = Stats.median(tracedWalls.toSeq)
        Layers.PerLayer.map { case (name, unit) =>
          val v = name match {
            case "trace.wall_s" => tw
            case "trace.untraced_wall_s" => wall
            case "trace.overhead_ratio" => tw / wall - 1
            case "trace.layer_share" =>
              val names = traced.spans.map(s => s.id -> s.name).toMap
              Span.selfSeconds(traced.spans.toSeq).collect {
                case (id, s) if Layers.module(names(id)) != "bench" => s }.sum /
                traced.spans.filter(_.name == "bench.pass").map(_.seconds).sum
            case n => m.getOrElse(n, 0.0)
          }
          (name, v, unit)
        }
      }

    a.spans.foreach(f => Layers.writeSpans(f, traced.spans.toSeq))
    info.foreach { case (n, v, u) => println(s"[perfbench] info $n = $v $u") }
    metrics.foreach { case (n, v, u) => println(s"[perfbench] metric $n = $v $u") }
    val json = new java.util.LinkedHashMap[String, Any]()
    json.put("correct", true)
    json.put("attempted", attempted)
    json.put("failed", 0)
    val mj = new java.util.LinkedHashMap[String, Any]()
    metrics.foreach { case (n, v, u) =>
      val e = new java.util.LinkedHashMap[String, Any]()
      e.put("value", v); e.put("unit", u)
      mj.put(n, e)
    }
    json.put("metrics", mj)
    spark.stop()
    println(new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(json))
  }
}
