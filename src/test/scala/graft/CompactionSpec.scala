package graft

import graft.sources.{Scratch, Sinks}
import org.apache.spark.sql.functions._

/** compactPartitions must coalesce fragmented partitions to their
  * byte-derived target file counts, leave already-compact partitions'
  * files untouched, preserve content exactly, split oversize partitions
  * into multiple balanced files, and no-op on a second pass.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def fragmented(path: String, rowsPerYear: Int = 40): Unit =
    (2020 to 2022).foreach { yr =>
      (0 until 4).foreach { chunk =>
        Seq.tabulate(rowsPerYear / 4)(i =>
            (yr * 1000L + chunk * 100 + i, s"v$i", yr))
          .toDF("k", "v", "yr")
          .coalesce(1)
          .write.mode("append").partitionBy("yr").parquet(path)
      }
    }

  private def files(path: String, part: String): Map[String, Long] = {
    val d = new java.io.File(s"$path/$part")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("fragmented partitions compact to one file; content is invariant") {
    val path = Scratch.dir("compact_basic")
    fragmented(path)
    val before = spark.read.parquet(path)
      .select("k", "v", "yr").as[(Long, String, Int)].collect().toSet
    val stats0 = Sinks.partitionFileStats(path, Seq("yr"))
    assert(stats0.forall(_._2 == 4), s"fixture should be 4 files/partition: $stats0")
    val n = Sinks.compactPartitions(spark, path, Seq("yr"))
    assert(n == 3, s"expected 3 partitions rewritten, got $n")
    val stats1 = Sinks.partitionFileStats(path, Seq("yr"))
    assert(stats1.forall(_._2 == 1), s"not compacted to 1 file: $stats1")
    val after = spark.read.parquet(path)
      .select("k", "v", "yr").as[(Long, String, Int)].collect().toSet
    assert(after == before, "compaction changed the data")
  }

  test("already-compact partitions keep their exact files") {
    val path = Scratch.dir("compact_skip")
    // yr=2020 fragmented; yr=2021 written compact in one shot
    (0 until 4).foreach { chunk =>
      Seq.tabulate(10)(i => (2020 * 1000L + chunk * 100 + i, s"v$i", 2020))
        .toDF("k", "v", "yr").coalesce(1)
        .write.mode("append").partitionBy("yr").parquet(path)
    }
    Seq.tabulate(10)(i => (2021 * 1000L + i, s"v$i", 2021))
      .toDF("k", "v", "yr").coalesce(1)
      .write.mode("append").partitionBy("yr").parquet(path)
    val untouched = files(path, "yr=2021")
    assert(untouched.size == 1)
    val n = Sinks.compactPartitions(spark, path, Seq("yr"))
    assert(n == 1)
    assert(files(path, "yr=2021") == untouched,
      "already-compact partition was rewritten")
    assert(files(path, "yr=2020").size == 1)
  }

  test("an oversize partition splits into its byte-derived target count") {
    val path = Scratch.dir("compact_split")
    fragmented(path, rowsPerYear = 400)
    val (_, _, bytes) = Sinks.partitionFileStats(path, Seq("yr"))
      .find(_._1 == Seq("2020")).get
    // pick a target that demands 2-4 files for this partition's bytes
    val target = bytes / 3 + 1
    val wantFiles = ((bytes + target - 1) / target).toInt
    assert(wantFiles >= 2)
    val before = spark.read.parquet(path).count()
    Sinks.compactPartitions(spark, path, Seq("yr"), targetBytes = target)
    val after = Sinks.partitionFileStats(path, Seq("yr"))
    // salt-bounded: never MORE than the target; hash collisions can
    // only merge, and the parquet re-encode can shrink bytes below the
    // input census the target was derived from
    assert(after.forall { case (_, n, _) => n >= 1 && n <= wantFiles },
      s"file counts outside [1, $wantFiles]: $after")
    assert(spark.read.parquet(path).count() == before)
  }

  test("a second pass is a no-op") {
    val path = Scratch.dir("compact_idem")
    fragmented(path)
    assert(Sinks.compactPartitions(spark, path, Seq("yr")) == 3)
    val once = (2020 to 2022).map(y => files(path, s"yr=$y")).toList
    assert(Sinks.compactPartitions(spark, path, Seq("yr")) == 0)
    assert((2020 to 2022).map(y => files(path, s"yr=$y")).toList == once,
      "second pass rewrote files")
  }

  test("partition values that collide under a space, and a null value") {
    val path = Scratch.dir("compact_keys")
    def append(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("k", "p1", "p2").coalesce(1)
        .write.mode("append").partitionBy("p1", "p2").parquet(path)
    // ("a b", "c") and (null, "x") fragmented; ("a", "b c") compact — the
    // same "a b c" under a space-joined key
    (0 until 4).foreach { chunk =>
      append(Seq.tabulate(5)(i => (chunk * 10L + i, "a b", "c")))
      append(Seq.tabulate(5)(i => (100 + chunk * 10L + i, null, "x")))
    }
    append(Seq.tabulate(5)(i => (200L + i, "a", "b c")))
    val nullDir = "p1=__HIVE_DEFAULT_PARTITION__/p2=x"
    assert(files(path, nullDir).size == 4)
    val compact = files(path, "p1=a/p2=b c")
    assert(compact.size == 1)
    val before = spark.read.parquet(path)
      .select("k", "p1", "p2").as[(Long, String, String)].collect().toSet
    assert(Sinks.compactPartitions(spark, path, Seq("p1", "p2")) == 2)
    assert(files(path, "p1=a/p2=b c") == compact,
      "a partition that only collides under a space was rewritten")
    assert(files(path, "p1=a b/p2=c").size == 1)
    assert(files(path, nullDir).size == 1, "the null partition was not compacted")
    assert(spark.read.parquet(path).select("k", "p1", "p2")
      .as[(Long, String, String)].collect().toSet == before)
  }
}
