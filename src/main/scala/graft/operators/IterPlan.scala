package graft.operators

import org.apache.spark.sql.SparkSession

/** Static (non-adaptive) planning for loops whose per-round plan is
  * ALREADY the right one (r09; full A/B in OPTIMIZATION_r09.md).
  *
  * AQE does two things to an iterative round: it converts joins whose
  * materialized side turns out tiny into runtime broadcasts (a big WIN
  * for the relational graph rounds — forcing static plans there
  * quintupled round task time, so those loops DO NOT use this), and it
  * re-plans/re-materializes after every exchange (pure per-round
  * LATENCY when the plan cannot improve). The collect-driven trainer
  * rounds (Lloyd iterations, PQ codebook training) are in the second
  * camp and run under this wrapper: each round's query is one
  * partial-aggregated scan with nothing for AQE to re-decide (q127:
  * 8.2 s → 6.5 s at sf0.1 local[32]; at 4 cores, q93 1.28 → 1.47 s and
  * q120 4.86 → 4.95 s without the wrapper). Restores the session's AQE
  * setting afterwards, so query-level plans outside the loop are
  * untouched.
  */
object IterPlan {
  private val Key = "spark.sql.adaptive.enabled"

  // The save/set/restore below mutates SESSION-GLOBAL state, so two
  // threads interleaving it on one session can leave AQE disabled for
  // every later query (T1 saves true + sets false, T2 saves false,
  // T1 restores true, T2 restores false) — exactly the r09 32-core
  // contamination cluster (q182 pass-2 at a core-count-independent
  // 49 s = the measured AQE-off regression). A per-session reentrant
  // lock serializes the toggle-and-body regions: concurrent callers on
  // the SAME session (q181 builds branches on a thread pool, and two of
  // them reach wrapped trainer loops) now run their loop bodies one at
  // a time, while nested calls on one thread (e.g. a trainer inside a
  // wrapped composite) re-enter freely and restore correctly because
  // the inner save observes the outer set. Sessions are weakly keyed so
  // test-suite sessions don't accumulate.
  private val locks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.locks.ReentrantLock])
  private def lockOf(spark: SparkSession) =
    locks.synchronized {
      var l = locks.get(spark)
      if (l == null) {
        l = new java.util.concurrent.locks.ReentrantLock
        locks.put(spark, l)
      }
      l
    }

  /** Run `body` with AQE off on `spark`, holding the session's lock.
    *
    * No cross-thread nesting: `body` must not hand work that itself calls
    * `withLoopPlanning` on the same session to another thread and then
    * wait for it. The lock is reentrant for the holding thread only, so
    * the worker blocks on the lock its waiting caller holds and both
    * hang. Callers that parallelize (q181's branch pool) must fork
    * OUTSIDE any wrapped loop, never inside one. */
  def withLoopPlanning[T](spark: SparkSession)(body: => T): T = {
    val lock = lockOf(spark)
    lock.lock()
    try {
      val saved = spark.conf.get(Key)
      spark.conf.set(Key, "false")
      try body finally spark.conf.set(Key, saved)
    } finally lock.unlock()
  }
}
