package graft

import graft.operators.{Dedup, Joins, Similarity}
import org.apache.spark.sql.functions._

/** Contract tests for the round-2 advisory findings: lookupCascade's
  * unique-key precondition, connectedComponents on empty/deep inputs, and
  * hyperplaneSketch's dims guard.
  */
class LookupCascadeSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    (1, Option.empty[String], "Base"),
    (2, Some("a"), "A-rule")
  ).toDF("priority", "k", "mode")

  test("lookupCascade: highest-priority match wins, default fills no-match") {
    val facts = Seq(("e1", "a", 10.0), ("e2", "b", 20.0))
      .toDF("id", "k", "v")
    val cond = rules("k").isNull || rules("k") === facts("k")
    val out = Joins.lookupCascade(facts, Seq("id"), rules, cond,
        "priority", "mode", "MODE", lit("Other"))
      .select("id", "MODE").as[(String, String)].collect().toSeq.sorted
    assert(out == Seq(("e1", "A-rule"), ("e2", "Base")))
  }

  test("lookupCascade: non-unique factKeys collapse rows — the documented precondition") {
    // two DISTINCT fact rows share the key tuple: the cascade emits ONE
    // row for that key (first() carries one arbitrary row's attributes).
    // This is the contract callers must respect — keys must be unique.
    val facts = Seq(("e1", "a", 10.0), ("e1", "b", 99.0)).toDF("id", "k", "v")
    val cond = rules("k").isNull || rules("k") === facts("k")
    val out = Joins.lookupCascade(facts, Seq("id"), rules, cond,
      "priority", "mode", "MODE", lit("Other"))
    assert(out.count() == 1L)
  }

  test("connectedComponents: empty pair set returns empty labels, no NPE") {
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.connectedComponents(pairs).count() == 0L)
  }

  test("connectedComponents: fails loudly when diameter exceeds the budget") {
    // a 6-node chain needs ~3 doubling-free propagation rounds; maxIter=1
    // cannot converge and must throw rather than return partial labels
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("id1", "id2")
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connectedComponents: chain still converges within the default budget") {
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert((0L to 5L).forall(labels(_) == 0L))
  }

  test("hyperplaneSketch: dims mismatch fails loudly instead of bucket 0") {
    val vecs = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val ex = intercept[Exception] {
      vecs.select(Similarity.hyperplaneSketch(col("v"), 4, 8)).collect()
    }
    assert(ex.getMessage.contains("hyperplaneSketch") ||
      Option(ex.getCause).exists(_.getMessage.contains("hyperplaneSketch")))
  }
}
