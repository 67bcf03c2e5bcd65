package graft

import graft.sources.{Scratch, Sinks}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The sinks' partition key must keep every distinct partition tuple
  * apart, whatever characters the values hold: the key itself over
  * values with spaces, `\u0000`, `\u0001`, nulls, "" and non-BMP code
  * points, and write, merge (with the emptied-partition cleanup) and
  * compaction against a driver-side model over the same values less
  * `\u0000`, which Spark's partitioned writer cannot put in a directory
  * name, and less any value the JVM's file-name encoding
  * (`sun.jnu.encoding`, from the locale) cannot encode: under a POSIX
  * locale that is every non-ASCII value. The last two cases pin that
  * such a write fails with an IllegalArgumentException naming the
  * column, the values' code points and the reason. Generators run with
  * fixed seeds (the PropertySpec convention); the hand-written tuples
  * are the ones a string key joined with `\u0000`, null as `\u0001`,
  * confuses.
  */
class SinkKeyPropertySpec extends SparkSpec {
  import spark.implicits._

  private type Row4 = (Long, String, String, String) // k, v, p1, p2

  private val keyValues = Seq(null, "", " ", "a b", "a", "b", "c", "b c",
    "\u0001", "\u0001a", "🚌", "x🚌 y", "\u0000", "a\u0000b", "b\u0000c")

  /** The values the partitioned writer can file on this JVM. */
  private val values = {
    val names = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    keyValues.filter(v => v == null || !v.contains('\u0000') && names.newEncoder().canEncode(v))
  }

  /** The partitioned writer files "" under the default directory and
    * reads it back as null. */
  private def norm(r: Row4): Row4 = {
    def n(s: String) = if (s == null || s.isEmpty) null else s
    (r._1, r._2, n(r._3), n(r._4))
  }

  private def write(path: String, rows: Seq[Row4]): Unit =
    Sinks.writePartitioned(rows.toDF("k", "v", "p1", "p2"), path, Seq("p1", "p2"))

  private def state(path: String): Set[Row4] =
    spark.read.parquet(path)
      .select(col("k"), col("v"), col("p1").cast("string"), col("p2").cast("string"))
      .as[Row4].collect().toSet

  /** Partition tuples on disk, from the directory names. */
  private def dirs(path: String): Set[(String, String)] =
    Sinks.partitionFileStats(path, Seq("p1", "p2")).map { case (vals, _, _) =>
      val v = vals.map(x =>
        if (x == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else ExternalCatalogUtils.unescapePathName(x))
      (v(0), v(1))
    }.toSet

  private def parts(rows: Iterable[Row4]): Set[(String, String)] =
    rows.map(r => (r._3, r._4)).toSet

  /** Applies `changes` (k, v, p1, p2, delete) with mergeIntoPartitioned
    * and holds table and directories to the model. */
  private def mergeAndCheck(path: String, base: Seq[Row4],
      changes: Seq[(Long, String, String, String, Boolean)]): Unit = {
    write(path, base)
    assert(state(path) == base.map(norm).toSet, "write lost or changed rows")
    Sinks.mergeIntoPartitioned(path, changes.toDF("k", "v", "p1", "p2", "del"),
      Seq("k"), Seq("p1", "p2"), deleteCol = Some("del"))
    val model = changes.foldLeft(base.map(r => r._1 -> norm(r)).toMap) {
      case (m, (k, _, _, _, true)) => m - k
      case (m, (k, v, p1, p2, false)) => m + (k -> norm((k, v, p1, p2)))
    }
    val got = state(path)
    assert(got == model.values.toSet,
      s"merge diverged: extra ${got -- model.values} missing ${model.values.toSet -- got}")
    assert(dirs(path) == parts(model.values),
      s"directories ${dirs(path)} != partitions ${parts(model.values)}")
  }

  test("a merge that empties p=\\u0001 beside a p=null partition removes it") {
    mergeAndCheck(Scratch.dir("sinkkey_nullkey"),
      Seq((1L, "x", "\u0001", "a"), (2L, "y", null, "a"), (3L, "z", "", "a")),
      Seq((1L, "x", "\u0001", "a", true)))
  }

  private val value = Gen.oneOf(values)

  test("two tuples key alike exactly when the writer files them alike") {
    val tuple = Gen.zip(Gen.oneOf(keyValues), Gen.oneOf(keyValues))
    val fixed = Seq((("a\u0000b", "c"), ("a", "b\u0000c")),
      (("\u0001", "a"), (null, "a")), (("", "a"), (null, "a")))
    val pairs = fixed ++ Gen.listOfN(200, Gen.zip(tuple, tuple))
      .apply(Gen.Parameters.default, Seed(1729L)).get
    val keys = pairs.map { case ((a1, a2), (b1, b2)) => (a1, a2, b1, b2) }
      .toDF("p1", "p2", "q1", "q2")
      .select(Sinks.partitionKey(Seq("p1", "p2")).as("kp"),
        (Sinks.partitionKey(Seq("p1", "p2")) === Sinks.partitionKey(Seq("q1", "q2")))
          .as("same"))
      .collect()
    pairs.zip(keys).foreach { case (((a1, a2), (b1, b2)), r) =>
      val want = norm((0L, "", a1, a2)) == norm((0L, "", b1, b2))
      assert(r.getBoolean(1) == want, s"($a1, $a2) vs ($b1, $b2)")
      assert(r.getSeq[String](0) == Sinks.partitionKeyOf(Seq(a1, a2)),
        s"driver and Spark keys differ for ($a1, $a2)")
    }
  }

  private val table: Gen[(Seq[Row4], Seq[(Long, String, String, String, Boolean)])] =
    for {
      n <- Gen.choose(4, 10)
      base <- Gen.listOfN(n, Gen.zip(Gen.alphaLowerStr.map(_.take(3)), value, value))
      picks <- Gen.listOfN(n + 2, Gen.zip(Gen.choose(1, n + 2), Gen.alphaLowerStr
        .map(_.take(3)), value, value, Gen.oneOf(true, false)))
    } yield {
      val rows = base.zipWithIndex.map { case ((v, p1, p2), i) => (i + 1L, v, p1, p2) }
      // one change per key: ids above n are inserts (or no-op deletes)
      val changes = picks.distinctBy(_._1).map { case (k, v, p1, p2, del) =>
        (k.toLong, v, p1, p2, del)
      }
      (rows, changes)
    }

  private def forAll[A](g: Gen[A], n: Int)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      g.apply(Gen.Parameters.default.withSize(8), Seed(1729L + i)).foreach(f)
    }

  test("write and merge over generated tuples match the model") {
    var i = 0
    forAll(table, 4) { case (base, changes) =>
      i += 1
      mergeAndCheck(Scratch.dir(s"sinkkey_gen$i"), base, changes)
    }
  }

  test("compaction over generated tuples keeps content and reaches one file each") {
    var i = 0
    forAll(table, 2) { case (base, _) =>
      i += 1
      val path = Scratch.dir(s"sinkkey_compact$i")
      // two appends: every partition of `base` holds two files
      Seq(base, base.map(r => r.copy(_1 = r._1 + 100))).foreach(rows =>
        rows.toDF("k", "v", "p1", "p2").write.mode("append")
          .partitionBy("p1", "p2").parquet(path))
      val before = state(path)
      val rewritten = Sinks.compactPartitions(spark, path, Seq("p1", "p2"))
      assert(rewritten == parts(before).size)
      assert(state(path) == before, "compaction changed the table")
      assert(Sinks.partitionFileStats(path, Seq("p1", "p2")).forall(_._2 == 1),
        "a partition still holds more than one file")
    }
  }

  /** The write's failure names the column, the values as code points
    * and the reason, and keeps the writer's own failure as its cause. */
  private def unnameable(column: String, points: String, reason: String)(f: => Unit): Unit = {
    val e = intercept[IllegalArgumentException](f)
    Seq(s"partition column $column: $points", reason).foreach(part =>
      assert(e.getMessage.contains(part), s"'$part' not in: ${e.getMessage}"))
    assert(e.getCause != null)
  }

  test("a NUL in a partition value fails the write loudly") {
    unnameable("p1", "[U+0061 U+0000 U+0062]", "NUL (U+0000) cannot appear") {
      write(Scratch.dir("sinkkey_nul"), Seq((1L, "x", "a\u0000b", "c"), (2L, "y", "a", "c")))
    }
    val path = Scratch.dir("sinkkey_nul_merge")
    write(path, Seq((1L, "x", "a", "c")))
    unnameable("p2", "[U+0000]", "NUL (U+0000) cannot appear") {
      Sinks.mergeIntoPartitioned(path,
        Seq((1L, "y", "a", "\u0000")).toDF("k", "v", "p1", "p2"), Seq("k"), Seq("p1", "p2"))
    }
  }

  test("a value the file-name encoding cannot encode fails the write by name, or writes") {
    val names = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    val path = Scratch.dir("sinkkey_encoding")
    val rows = Seq((1L, "x", "a", "x\ud83d\ude8c y"))
    if (names.newEncoder().canEncode("\ud83d\ude8c")) {
      write(path, rows)
      assert(state(path) == rows.toSet)
    } else unnameable("p2", "[U+0078 U+1F68C U+0020 U+0079]",
        s"the file-name encoding ${names.name} (sun.jnu.encoding) cannot encode them") {
      write(path, rows)
    }
  }
}
