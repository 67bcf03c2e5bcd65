package graft

import org.apache.spark.sql.SparkSession

/** The session config graft ships: every entry point (Bench, Verify,
  * Plans, tools/Sf1Verify, tools/Explain) runs on this one, so timed
  * runs, the correctness dump and plan audits all see the plans that
  * ship. */
object Session {

  /** A local session on `cores` cores, one shuffle partition per core. */
  def local(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // events.ts may be parquet TIMESTAMP(NANOS), which Spark has no type
    // for: read it as raw long nanos (Tables.events truncates to µs)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // object-typed aggregates (graft_bottomk, graft_simhash) keep tiny
    // ≤8k-byte buffers per group; the default 128-key fallback turns
    // every such aggregation sort-based and spills the exploded input
    // (q202 spilled a constant 5.9 GB/iteration from exactly this)
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "1000000")
    // convert sort-merge joins to shuffled-hash AT RUNTIME when every
    // build-side partition is observed under the threshold (opt guide
    // §3.1): the iterative graph family pays 2-4 sorts per round under
    // SMJ for node-scale states that hash-build in microseconds. The
    // AQE rewrite (not the static preferSortMergeJoin flag) is the safe
    // form — the static planner sees checkpointed-RDD state with
    // unknown (defaultSizeInBytes = huge) stats and would build the
    // hash map on the EDGE side (measured: q182 18 s → 25-39 s under
    // the static flag; reverted). Runtime sizes pick the right side at
    // any scale; threshold = the advisory partition size class.
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      "256m")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
