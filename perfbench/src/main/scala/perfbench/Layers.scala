package perfbench

import java.io.File

/** Per-layer metrics from a traced run's spans. Every run reports the
  * whole list; a layer its workload never calls reads 0. Values are per
  * traced pass. Which end-to-end metric each should move, and on which
  * workload, is written down in perfbench/METRICS.md. */
object Layers {

  /** Leaf calls, reported as self seconds. */
  val Calls = Seq(
    "sources.fixedwidth.read", "sources.gtfs.schedule", "sources.sinks.write",
    "sources.sinks.merge", "pipelines.transit.clean", "pipelines.transit.expand",
    "agg.ruleagg.trips", "pipelines.transit.weight", "agg.ruleagg.rollup",
    "pipelines.taxi.segment", "pipelines.taxi.trips", "pipelines.mapmatch.skim",
    "pipelines.mapmatch.candidates", "graph.viterbi.legs", "pipelines.mapmatch.allocate",
    "pipelines.mapmatch.linkstats")

  val Iterative = Seq("graph.pagerank_tol", "graph.lpa_tol", "graph.kcore",
    "operators.dedup.components")
  val IterMeasures = Seq("s" -> "s", "rounds" -> "count", "jobs" -> "count",
    "jobs_per_round" -> "count", "ms_per_job" -> "ms",
    "persisted_rdds_after" -> "count", "persisted_mb_after" -> "MB")

  val Modules = Seq("bench", "sources", "pipelines", "agg", "graph", "operators")
  val ModuleCounters = Seq("jobs" -> "count", "task_run_ms" -> "ms",
    "sched_delay_ms" -> "ms", "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "gc_ms" -> "ms", "plan_ms" -> "ms")

  val Stages = Seq("schedule", "parsed", "cleaned", "expanded", "trips", "route_day",
    "system_day")

  val PerLayer: Seq[(String, String)] =
    Calls.map(c => s"${c}_s" -> "s") ++
    Seq("sources.fixedwidth.rows_rejected" -> "count",
      "sources.sinks.partitions_rewritten" -> "count",
      "sources.sinks.files_written" -> "count",
      "sources.sinks.write_amp" -> "ratio",
      "pipelines.mapmatch.candidates_per_point" -> "count") ++
    Stages.map(s => s"pipelines.transit.rows_out.$s" -> "count") ++
    Iterative.flatMap(o => IterMeasures.map { case (m, u) => s"$o.$m" -> u }) ++
    Modules.flatMap(m => (("self_s" -> "s") +: ModuleCounters).map { case (k, u) => s"$m.$k" -> u }) ++
    Seq("bench.op.jobs" -> "count", "bench.op.plan_ms" -> "ms",
      "bench.op.sched_delay_ms" -> "ms",
      "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s",
      "trace.overhead_ratio" -> "ratio", "trace.layer_share" -> "ratio")

  def module(span: String): String = span.takeWhile(_ != '.')

  def metrics(spans: Seq[Span], c: Ctx, passes: Int): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    val self = Span.selfSeconds(spans)
    val selfC = Span.selfCounters(spans)
    val byName = spans.groupBy(_.name)
    def sumSelf(name: String) = byName.getOrElse(name, Nil).map(s => self(s.id)).sum
    val calls = Calls.map(cl => s"${cl}_s" -> sumSelf(cl) / n)
    val values = c.values.toMap
    val merges = values.getOrElse("sources.sinks.merges", 0.0)
    val counts = Seq("sources.fixedwidth.rows_rejected", "sources.sinks.partitions_rewritten",
      "sources.sinks.files_written").map(k => k -> values.getOrElse(k, 0.0) / n) ++
      Stages.map(s => s"pipelines.transit.rows_out.$s").map(k => k -> values.getOrElse(k, 0.0) / n) ++
      Seq("sources.sinks.write_amp" ->
        (if (merges > 0) values("sources.sinks.write_amp") / merges else 0.0),
        "pipelines.mapmatch.candidates_per_point" ->
          values.getOrElse("pipelines.mapmatch.candidates_per_point", 0.0) / n)
    val iter = Iterative.flatMap { o =>
      val ss = byName.getOrElse(o, Nil)
      val secs = ss.map(_.seconds).sum / n
      val jobs = ss.map(_.counters.getOrElse("jobs", 0.0)).sum / n
      val rounds = values.getOrElse(s"$o.rounds", 0.0) / n
      val after = c.persistedAfterOp.filter(_._1 == o)
      Seq(s"$o.s" -> secs, s"$o.rounds" -> rounds, s"$o.jobs" -> jobs,
        s"$o.jobs_per_round" -> (if (rounds > 0) jobs / rounds else 0.0),
        s"$o.ms_per_job" -> (if (jobs > 0) secs * 1000 / jobs else 0.0),
        s"$o.persisted_rdds_after" ->
          (if (after.isEmpty) 0.0 else after.map(_._2.toDouble).sum / after.size),
        s"$o.persisted_mb_after" ->
          (if (after.isEmpty) 0.0 else after.map(_._3).sum / after.size))
    }
    val mods = Modules.flatMap { m =>
      val ss = spans.filter(s => module(s.name) == m)
      (s"$m.self_s" -> ss.map(s => self(s.id)).sum / n) +:
        ModuleCounters.map { case (k, _) =>
          s"$m.$k" -> ss.map(s => selfC(s.id).getOrElse(k, 0.0)).sum / n }
    }
    val ops = byName.getOrElse("bench.op", Nil)
    val perOp = Seq("jobs", "plan_ms", "sched_delay_ms").map { k =>
      s"bench.op.$k" -> (if (ops.isEmpty) 0.0
        else ops.map(_.counters.getOrElse(k, 0.0)).sum / ops.size)
    }
    (calls ++ counts ++ iter ++ mods ++ perOp).toMap
  }

  /** Spans as JSON lines: name, parent, start/end seconds from the first
    * span, self seconds and the engine counters. */
  def writeSpans(f: File, spans: Seq[Span]): Unit = {
    f.getParentFile.mkdirs()
    val self = Span.selfSeconds(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
      m.put("start_s", (s.startNs - t0) / 1e9); m.put("end_s", (s.endNs - t0) / 1e9)
      m.put("self_s", self(s.id))
      s.counters.foreach { case (k, v) => m.put(k, v) }
      out.println(om.writeValueAsString(m))
    } finally out.close()
  }
}
