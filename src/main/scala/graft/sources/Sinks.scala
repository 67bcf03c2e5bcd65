package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit, nullif}

/** K1 — partitioned parquet sink with idempotent partition rebuild
  * (SURVEY.md §2.2). The reference appends to per-year HDF5 files with
  * per-month table keys and removes a key before rewriting it
  * (SFMuniDataHelper.py:28-39,583-584; GTFSHelper.py:169-171). Spark-first:
  * `partitionBy(year, month)` + dynamic partition overwrite — only the
  * partitions present in the incoming DataFrame are replaced, everything
  * else is untouched, and downstream scans get partition pruning for free.
  */
object Sinks {

  /** Recursive local delete (idempotent; tolerates a vanished dir). */
  def rmrf(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  private val KeySep = "\u0000"
  private val NullKey = "\u0001"

  /** A partition tuple as one string key, Spark-side from the partition
    * columns; [[partitionKeyOf]] builds the same key driver-side from the
    * values' string forms (the partition column cast to string, or a
    * directory name's unescaped value). Values are joined with `\u0000`,
    * so ("a b", "c") and ("a", "b c") stay apart. A null value — and "",
    * which the partitioned writer files under the same default directory
    * and reads back as null — keys as `\u0001`, where `concat_ws` alone
    * would drop it and `String.valueOf` would render "null". */
  private[graft] def partitionKey(partitionCols: Seq[String]): Column =
    concat_ws(KeySep, partitionCols.map(c =>
      coalesce(nullif(col(c).cast("string"), lit("")), lit(NullKey))): _*)

  private[graft] def partitionKeyOf(values: Seq[String]): String =
    values.map(v => if (v == null || v.isEmpty) NullKey else v).mkString(KeySep)

  /** Eager localCheckpoint that also returns the RDD it persisted, read
    * from the checkpointed plan's LogicalRDD — not the context's newest
    * persisted id, which a concurrent caller may own. */
  private def pin(df: DataFrame): (DataFrame, RDD[_]) = {
    val out = df.localCheckpoint()
    val rdd = out.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .getOrElse(sys.error("localCheckpoint plan has no LogicalRDD"))
    (out, rdd)
  }

  /** Rows are clustered by the partition columns before the write: without
    * it, EVERY upstream task holding rows of a partition value opens its
    * own file in that directory — at 1000 executors that is up to 1000
    * small files per partition, the canonical small-files incident. One
    * exchange at write time buys one file per partition value (AQE
    * coalesces the tiny post-shuffle tasks). Callers with very large
    * single partitions can pre-salt; for the month/year grains this sink
    * serves, one file per partition is the right layout. */
  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(df.col): _*)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** K1+ — bucketed table sink: pre-shuffle a fact table by its join key
    * at WRITE time (hash buckets + per-bucket sort), so every subsequent
    * equi-join or aggregation on that key plans with ZERO shuffle
    * exchanges — the bucketing IS the exchange, paid once and amortized
    * over every downstream query. The 100 TB fact-to-fact join pattern
    * (two tables bucketed the same way co-locate bucket-for-bucket);
    * ScaleMechanicsSpec asserts the exchange-free plan, q99 puts the
    * round-trip under the correctness oracle. */
  def writeBucketed(
      df: DataFrame, table: String, buckets: Int, bucketCol: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // external table at a per-process scratch location: the default
    // spark-warehouse directory is SHARED across processes even though
    // the in-memory catalog is not, so two concurrent runs creating the
    // same table name would race each other's files (the q46-style
    // scratch race, sink flavor). Scratch.dir is unique per JVM.
    val loc = Scratch.dir(s"bkt_$table")
    rmrf(loc)
    // ONE FILE PER BUCKET (r09): without the pre-shuffle, every input
    // partition writes its own file per bucket, and Spark only trusts a
    // bucket's sortBy metadata when the bucket is a single file — so the
    // per-round SMJ above a multi-file bucketed scan RE-SORTED the edge
    // side on every iteration (the q232 gap: ~+1 s/round at sf0.1 over
    // the RDD path, ×20 rounds). Repartitioning on the bucket column
    // uses the same hash the writer buckets by, so each write task owns
    // exactly one bucket: scan reports sorted output, downstream
    // sort-merge reads it sort-free. Also the §6 layout discipline —
    // fewer, full-bucket files instead of input-partitions × buckets
    // shards.
    df.repartition(buckets, df.col(bucketCol))
      .write
      .mode("overwrite")
      .format("parquet")
      .option("path", loc)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
  }

  /** K1++ — keyed MERGE into a partitioned parquet table: upsert rows by
    * `keyCols` (a row in `changes` replaces the base row with the same
    * key, inserts if absent; `deleteCol` = true removes the key), while
    * REWRITING ONLY AFFECTED PARTITIONS — the incremental-ingest pattern
    * for a 100 TB partitioned fact table, where a daily changeset
    * touching 3 of 3,000 partitions must not rewrite the other 2,997.
    *
    * Affected = partitions the changeset lands in ∪ partitions its keys
    * currently live in (an update that MOVES a row across partitions
    * must rewrite both sides). The base read is pruned to exactly those
    * partitions (the semi-join key set is partition values, bounded by
    * the changeset, collected and pushed as a static partition filter —
    * so the merge's base-side I/O tracks the changeset's partition
    * footprint, not the table). Surviving base rows (anti-joined on key)
    * union the non-delete changeset rows and rewrite via dynamic
    * partition overwrite; an affected partition left EMPTY (all rows
    * deleted/moved away) is not in the output frame, so dynamic
    * overwrite would leave its stale files — those directories are
    * deleted explicitly.
    *
    * Idempotent for a fixed changeset: re-applying replaces rows with
    * identical rows, re-deletes absent keys, and re-moves already-moved
    * rows — the final state is a pure function of (base, changes).
    * MergeSpec pins semantics, the untouched-partition no-rewrite
    * guarantee, emptied-partition cleanup, and idempotency. */
  def mergeIntoPartitioned(
      path: String, changes: DataFrame, keyCols: Seq[String],
      partitionCols: Seq[String], deleteCol: Option[String] = None): Unit = {
    require(keyCols.nonEmpty && partitionCols.nonEmpty,
      "mergeIntoPartitioned needs key and partition columns")
    val spark = changes.sparkSession
    val base = spark.read.parquet(path)
    val pCols = partitionCols.map(col)
    val pinned = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    try {
      // the changeset is read four times below (landing, residence,
      // anti-join, incoming): evaluate its plan once
      val (ch, chRdd) = pin(changes)
      pinned += chRdd
      val chKeys = ch.select(keyCols.map(col): _*).distinct()
      // changeset partition footprint: where its rows land + where its
      // keys currently live. Both collects are changeset-bounded (a
      // changeset touching P partitions yields <= 2P values), never
      // table-scale; the key-residence probe is itself a pruned-by-nothing
      // read but only of the partition+key columns (column pruning).
      // Values are collected as strings: Spark's own cast is what both the
      // key and the writer's directory name are built from.
      def footprint(df: DataFrame): Array[Seq[String]] =
        df.select(pCols.map(_.cast("string")): _*).distinct().collect()
          .map(r => Seq.tabulate(r.length)(r.getString))
      val affected = (footprint(ch) ++ footprint(base.join(chKeys, keyCols, "semi")))
        .distinctBy(partitionKeyOf)
      if (affected.nonEmpty) {
        val pTuple = partitionKey(partitionCols)
        // pruned base read: only affected partitions' files are opened
        val pruned = base.where(pTuple.isin(affected.map(partitionKeyOf): _*))
        val survivors = pruned.join(chKeys, keyCols, "left_anti")
        val incoming = deleteCol.map(d => ch.where(!col(d)).drop(d))
          .getOrElse(ch)
          .select(base.columns.map(col).toIndexedSeq: _*)
        // materialize before the write: Spark refuses to overwrite a path
        // its plan is also reading (correctly — commit deletes the files
        // under the scan). The checkpoint holds only the AFFECTED
        // partitions' survivors + the changeset, i.e. the changeset's
        // footprint, never the table; a real lakehouse writes a staging
        // dir + atomic swap, same bounded intermediate.
        val (out, outRdd) = pin(survivors.unionByName(incoming))
        pinned += outRdd
        writePartitioned(out, path, partitionCols)
        // emptied partitions: affected but absent from the output — their
        // stale directories survive dynamic overwrite and must go
        val remaining = out.select(pTuple).distinct().collect()
          .map(_.getString(0)).toSet
        affected.filterNot(v => remaining.contains(partitionKeyOf(v)))
          .foreach { v =>
            val dir = partitionCols.zip(v)
              .map { case (c, x) => ExternalCatalogUtils.getPartitionPathString(c, x) }
              .mkString("/")
            rmrf(s"$path/$dir")
          }
      }
    } finally pinned.foreach(_.unpersist(blocking = false))
  }

  /** Per-partition parquet file census of a partitioned table: partition
    * values (from the directory names), file count, total bytes. Driver-
    * side listing only — the maintenance metadata pass, never a data
    * read. */
  def partitionFileStats(path: String, partitionCols: Seq[String])
      : Seq[(Seq[String], Int, Long)] = {
    def leaves(dir: java.io.File, vals: List[String],
        depth: Int): Seq[(Seq[String], java.io.File)] =
      if (depth == partitionCols.size) Seq((vals.reverse, dir))
      else Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory &&
          d.getName.startsWith(partitionCols(depth) + "="))
        .toIndexedSeq.flatMap(d => leaves(d,
          d.getName.drop(partitionCols(depth).length + 1) :: vals, depth + 1))
    leaves(new java.io.File(path), Nil, 0).map { case (vals, dir) =>
      val fs = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      (vals, fs.length, fs.map(_.length()).sum)
    }
  }

  /** Small-file compaction for a partitioned parquet table — the table-
    * maintenance pass every long-lived 100 TB sink needs: streaming
    * appends, per-executor writers and incremental merges leave
    * partitions holding dozens of small files, and scan cost degrades
    * with file count (footer reads, listing, task scheduling), not just
    * bytes. Each partition's TARGET file count is
    * max(1, ceil(bytes / targetBytes)); only partitions EXCEEDING their
    * target are rewritten (one pruned read + dynamic partition
    * overwrite over exactly those partitions — untouched partitions
    * keep their files, the [[mergeIntoPartitioned]] footprint
    * discipline), each into its target count via a deterministic salt
    * (hash of the row, mod target) so multi-file outputs stay
    * balanced without RNG state. Content-invariant, idempotent (a
    * compacted partition is at its target, so a second pass no-ops),
    * and CompactionSpec pins all of it. Returns the number of
    * partitions rewritten. */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession,
      path: String, partitionCols: Seq[String],
      targetBytes: Long = 128L << 20): Int = {
    import org.apache.spark.sql.functions.{pmod, xxhash64, when}
    val stats = partitionFileStats(path, partitionCols)
    val want = stats.map { case (vals, n, bytes) =>
      vals -> math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    }.toMap
    val affected = stats.collect {
      case (vals, n, _) if n > want(vals) => vals
    }
    if (affected.isEmpty) 0
    else {
      val base = spark.read.parquet(path)
      val dataCols = base.columns.filterNot(partitionCols.contains)
      val pTuple = partitionKey(partitionCols)
      // directory names → the values the scan reads back
      val key = affected.map(vals => vals -> partitionKeyOf(vals.map(v =>
        if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else ExternalCatalogUtils.unescapePathName(v)))).toMap
      val pruned = base.where(pTuple.isin(affected.map(key): _*))
      // per-partition salt: hash the data row into [0, target) — one
      // write task per (partition, salt) after the clustered exchange.
      // The target map is literal CASE arms (partition-count-bounded).
      val targetCol = affected.tail.foldLeft(
        when(pTuple === key(affected.head), lit(want(affected.head)))) {
        (acc, vals) => acc.when(pTuple === key(vals), lit(want(vals)))
      }
      val salted = pruned.withColumn("__salt",
        pmod(xxhash64(dataCols.map(col).toIndexedSeq: _*),
          coalesce(targetCol, lit(1L))))
      // reading and overwriting the same path: stage, write, release
      val (staged, rdd) = pin(salted
        .repartition((partitionCols :+ "__salt").map(col): _*)
        .drop("__salt"))
      try staged.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCols: _*)
        .parquet(path)
      finally rdd.unpersist(blocking = false)
      affected.size
    }
  }
}
