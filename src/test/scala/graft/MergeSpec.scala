package graft

import graft.sources.{Scratch, Sinks}
import org.apache.spark.sql.functions._

/** mergeIntoPartitioned must apply upsert/move/delete semantics while
  * rewriting ONLY the changeset's partition footprint — untouched
  * partitions keep their exact files; an emptied partition's directory
  * disappears; re-applying the same changeset is a no-op on state.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def writeBase(path: String): Unit =
    Sinks.writePartitioned(
      Seq((1L, "a", 10.0, 2020), (2L, "b", 20.0, 2020),
        (3L, "c", 30.0, 2021), (4L, "d", 40.0, 2021),
        (5L, "e", 50.0, 2022))
        .toDF("k", "v", "amt", "yr"),
      path, Seq("yr"))

  private def files(path: String, part: String): Map[String, Long] = {
    val d = new java.io.File(s"$path/$part")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  private def state(path: String): Set[(Long, String, Double, Int)] =
    spark.read.parquet(path).select(col("k"), col("v"), col("amt"), col("yr"))
      .as[(Long, String, Double, Int)].collect().toSet

  test("upsert + move + delete, rewriting only affected partitions") {
    val path = Scratch.dir("merge_sem")
    writeBase(path)
    val untouchedBefore = files(path, "yr=2020")
    assert(untouchedBefore.nonEmpty)
    // k=3: in-place update; k=4: moves 2021 -> 2022; k=6: insert into
    // 2022; k=5: delete (2022 keeps k=4 and k=6, loses k=5)
    val changes = Seq(
      (3L, "c2", 33.0, 2021, false),
      (4L, "d", 40.0, 2022, false),
      (6L, "f", 60.0, 2022, false),
      (5L, "e", 50.0, 2022, true))
      .toDF("k", "v", "amt", "yr", "del")
    Sinks.mergeIntoPartitioned(path, changes, Seq("k"), Seq("yr"),
      deleteCol = Some("del"))
    assert(state(path) == Set(
      (1L, "a", 10.0, 2020), (2L, "b", 20.0, 2020),
      (3L, "c2", 33.0, 2021),
      (4L, "d", 40.0, 2022), (6L, "f", 60.0, 2022)))
    // yr=2020 was not in the footprint: exact same files, same mtimes
    assert(files(path, "yr=2020") == untouchedBefore,
      "untouched partition was rewritten")
  }

  test("a partition emptied by the merge disappears from disk") {
    val path = Scratch.dir("merge_empty")
    writeBase(path)
    // delete k=5 — yr=2022's only row
    val changes = Seq((5L, "e", 50.0, 2022, true))
      .toDF("k", "v", "amt", "yr", "del")
    Sinks.mergeIntoPartitioned(path, changes, Seq("k"), Seq("yr"),
      deleteCol = Some("del"))
    assert(!new java.io.File(s"$path/yr=2022").exists(),
      "emptied partition directory survived")
    assert(state(path).map(_._1) == Set(1L, 2L, 3L, 4L))
  }

  test("re-applying the same changeset is idempotent") {
    val path = Scratch.dir("merge_idem")
    writeBase(path)
    val changes = Seq(
      (3L, "c2", 33.0, 2021, false),
      (4L, "d", 40.0, 2022, false),
      (5L, "e", 50.0, 2022, true))
      .toDF("k", "v", "amt", "yr", "del")
    Sinks.mergeIntoPartitioned(path, changes, Seq("k"), Seq("yr"),
      deleteCol = Some("del"))
    val once = state(path)
    Sinks.mergeIntoPartitioned(path, changes, Seq("k"), Seq("yr"),
      deleteCol = Some("del"))
    assert(state(path) == once, "second apply changed the state")
  }

  test("the base-side read is pruned to the affected partitions") {
    val path = Scratch.dir("merge_prune")
    writeBase(path)
    // the merge's pruning predicate is an expression over partition
    // attributes only (the shared partition key) — assert it
    // reaches PartitionFilters AND that the executed scan opened only
    // the affected partition's files (numFiles metric; inputFiles would
    // report the unpruned listing by definition)
    val pTuple = Sinks.partitionKey(Seq("yr"))
    val pruned = spark.read.parquet(path)
      .where(pTuple.isin(typedLit(Sinks.partitionKeyOf(Seq("2021")))))
    val qe = pruned.queryExecution
    assert(qe.toRdd.count() == 2)
    val scan = qe.executedPlan.collectLeaves().head
    assert(scan.toString.contains("PartitionFilters") &&
      scan.toString.contains("array("),
      s"partition-attribute predicate missing from the scan:\n$scan")
    val numFiles = scan.metrics.get("numFiles").map(_.value)
    val want = files(path, "yr=2021").size.toLong
    assert(numFiles.contains(want),
      s"scan read $numFiles files, expected $want (the affected partition)")
  }

  test("a merge releases every RDD it pinned; results are unchanged") {
    val path = Scratch.dir("merge_pins")
    writeBase(path)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a lazy changeset with a shuffle: evaluated once, then released
    val changes = Seq((3L, "c2", 33.0, 2021, false), (5L, "e", 50.0, 2022, true))
      .toDF("k", "v", "amt", "yr", "del").repartition(3)
    Sinks.mergeIntoPartitioned(path, changes, Seq("k"), Seq("yr"),
      deleteCol = Some("del"))
    assert(sc.getPersistentRDDs.keySet == before,
      s"merge left ${sc.getPersistentRDDs.keySet -- before} persisted")
    assert(state(path) == Set((1L, "a", 10.0, 2020), (2L, "b", 20.0, 2020),
      (3L, "c2", 33.0, 2021), (4L, "d", 40.0, 2021)))
    assert(!new java.io.File(s"$path/yr=2022").exists())
  }

  test("partition values that collide under a space, and null values") {
    val path = Scratch.dir("merge_keys")
    Sinks.writePartitioned(Seq(
        (1L, "x", "a b", "c"), (2L, "y", "a", "b c"),
        (3L, "z", null, "n"), (4L, "w", null, "n"), (5L, "v", null, "gone"))
      .toDF("k", "v", "p1", "p2"), path, Seq("p1", "p2"))
    val neighbour = files(path, "p1=a/p2=b c")
    assert(neighbour.nonEmpty)
    // k=1 updated in place; k=3 updated inside a null partition that also
    // holds k=4; k=5, the only row of (null, "gone"), deleted
    val changes = Seq(
        (1L, "x2", "a b", "c", false), (3L, "z2", null, "n", false),
        (5L, "v", null, "gone", true))
      .toDF("k", "v", "p1", "p2", "del")
    Sinks.mergeIntoPartitioned(path, changes, Seq("k"), Seq("p1", "p2"),
      deleteCol = Some("del"))
    val got = spark.read.parquet(path).select("k", "v", "p1", "p2")
      .as[(Long, String, String, String)].collect().toSet
    assert(got == Set((1L, "x2", "a b", "c"), (2L, "y", "a", "b c"),
      (3L, "z2", null, "n"), (4L, "w", null, "n")))
    assert(files(path, "p1=a/p2=b c") == neighbour,
      "a partition that only collides under a space was rewritten")
    assert(!new java.io.File(s"$path/p1=__HIVE_DEFAULT_PARTITION__/p2=gone").exists(),
      "emptied null partition directory survived")
  }
}
