package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column profiling — the data-quality audit every ingest runs first:
  * per column, row/null/distinct counts and min/max. ONE scan for the
  * whole table: every statistic for every column lands in a single
  * aggregation row (partial-aggregated map-side), then unpivots to the
  * long (column, stats) shape with a map-side stack. No per-column
  * rescans, no shuffle beyond the one aggregation.
  *
  * Numeric min/max surface as doubles, everything else as ISO strings —
  * typed columns, not a stringly union, so engines cannot disagree on
  * float formatting.
  */
object Profiler {

  /** Inputs up to this size are spread over a hash key before
    * [[corrMatrix]]'s decimal pass (see there). */
  private val SpreadMaxBytes = BigInt(1L << 30)

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // count/null/min/max: all columns in ONE aggregation row, one scan.
    // Distinct counts deliberately do NOT join this aggregate: N
    // count-distincts in one agg plan through an Expand that replicates
    // every row N times into a single hash aggregate keyed on every
    // value column at once (measured 11 s at sf0.1 for 7 columns);
    // per-column two-phase distinct aggregates over pruned single-column
    // scans run independently and cost ~1 s total, then ride a
    // columns-count-sized broadcast join back.
    val aggs = cols.flatMap { c =>
      val isNum = df.schema(c).dataType match {
        case _: NumericType => true
        case _ => false
      }
      Seq(
        count(col(c)).as(s"__nn_$c"),
        count(when(col(c).isNull, 1)).as(s"__nu_$c"),
        (if (isNum) min(col(c)).cast("double")
         else lit(null).cast("double")).as(s"__minn_$c"),
        (if (isNum) max(col(c)).cast("double")
         else lit(null).cast("double")).as(s"__maxn_$c"),
        (if (isNum) lit(null).cast("string")
         else min(col(c)).cast("string")).as(s"__mins_$c"),
        (if (isNum) lit(null).cast("string")
         else max(col(c)).cast("string")).as(s"__maxs_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      s"'$c', __nn_$c, __nu_$c, __minn_$c, __maxn_$c, __mins_$c, __maxs_$c"
    }.mkString(", ")
    val base = one.selectExpr(
      s"stack(${cols.size}, $stacked) AS " +
        "(col_name, n_nonnull, n_null, min_num, max_num, min_txt, max_txt)")
    val distincts = cols.map { c =>
      df.select(col(c)).agg(countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_distinct"))
    }.reduce(_ unionByName _)
    base.join(broadcast(distincts), Seq("col_name"))
      .select(col("col_name"), col("n_nonnull"), col("n_null"),
        col("n_distinct"), col("min_num"), col("max_num"),
        col("min_txt"), col("max_txt"))
  }

  /** Pairwise Pearson correlation matrix over numeric measures in ONE
    * scan: every pair's sufficient statistics (n, Σx, Σy, Σx², Σy²,
    * Σxy) ride a single aggregation as 9-dp-rounded decimal-exact sums
    * (the q138 OLS regime), so adding a measure costs expressions, not
    * passes — the profiling shape that still works when the table is
    * 100 TB. corr is the textbook moment formula on the exact sums;
    * output rounds via [[graft.functions.Exprs.pround]]. Returns one
    * row per unordered pair: (m1, m2, n, corr), pair order = input
    * order. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    import graft.functions.Exprs.pround
    val dec = (c: Column) => sum(round(c, 9).cast("decimal(38,9)"))
    val aggs = count(lit(1)).as("__n") +:
      (cols.map(c => dec(col(c)).as(s"__s_$c")) ++
        cols.map(c => dec(col(c) * col(c)).as(s"__q_$c")) ++
        cols.combinations(2).toSeq.map { case Seq(a, b) =>
          dec(col(a) * col(b)).as(s"__p_${a}_$b")
        })
    // The sufficient-statistics pass is pure per-row BigDecimal work
    // (round + cast + exact sum ×15 expressions), so its parallelism is
    // the SCAN's — and the local testdata is one row group per table, a
    // single-task scan (q226 measured wall ≈ summed task time: one core
    // grinding 600k rows). Spread rows over a deterministic hash key
    // first (opt guide §2.5 input-skew remedy: "repartition immediately
    // after the read"; 20× more key values than partitions) whenever the
    // INPUT IS SMALL. The r09 guard compared the scan's partition count
    // to the parallelism — and did not fire in the driver's 32-core run,
    // because size-based file splitting manufactures ~np partition stubs
    // over a one-row-group file while every row still lands in ONE task
    // (r10 verdict item 4). Bytes are the honest signal: below the
    // threshold the extra exchange is noise (≤1 GB moved once) and the
    // decimal pass gains full parallelism; above it — any cluster-scale
    // table — the scan has real row groups and the spread would be a
    // data-scale shuffle, so it is skipped.
    val projected = df.select(cols.map(col): _*)
    val np = df.sparkSession.sparkContext.defaultParallelism
    val small =
      (try projected.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Throwable => BigInt(Long.MaxValue) }) <= SpreadMaxBytes
    val spread =
      if (small)
        projected.repartition(np, pmod(xxhash64(cols.map(col): _*),
          lit(np * 20)))
      else projected
    val one = spread.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    val frames = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      val n = col("__n").cast("double")
      val d = (x: String) => col(x).cast("double")
      val cov = n * d(s"__p_${a}_$b") - d(s"__s_$a") * d(s"__s_$b")
      val va = n * d(s"__q_$a") - d(s"__s_$a") * d(s"__s_$a")
      val vb = n * d(s"__q_$b") - d(s"__s_$b") * d(s"__s_$b")
      one.select(lit(a).as("m1"), lit(b).as("m2"),
        col("__n").as("n"),
        pround(when(va * vb > 0, cov / sqrt(va * vb)), 6).as("corr"))
    }
    frames.reduce(_ unionByName _)
  }
}
