package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, GraftFrames}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.reflect.ClassTag

/** The one owner of iterative state. Every lineage cut an iterative
  * operator makes goes through a [[Scope]], which records the RDD each cut
  * pinned, keeps round state at the newest two per series, and on exit
  * frees every pin the operator's returned frame does not read. The four
  * loop runners on the scope — [[Scope.iterate]] (fixed rounds),
  * [[Scope.probe]] (a broadcast delta probed after each round),
  * [[Scope.until]] (a driver-side check) and [[Scope.messages]]
  * (message-passing rounds of one job each over a pinned adjacency) — are
  * the only iterative loops of the graph family and of Dedup's connected
  * components. Each labels its round jobs `<op>/round <k>` (the Spark job
  * description), so per-round cost is attributable from any listener.
  *
  * [[Scope.messages]] keeps its state as one block per partition: the
  * adjacency is one `Array[(node, nbrs)]` per partition, each round's
  * state one `Array[InternalRow]`, and each sending task ships one map of
  * merged messages per destination partition. Spark then sizes and
  * shuffles a handful of objects per round, not one per node. Its result
  * frame reads the pinned state through a flattening view, so the exit
  * rule of [[run]] keeps every pin in the lineage of what the returned
  * frame reads.
  */
object Fixpoint {

  /** Eager lineage cut that also returns the RDD it pinned, read from the
    * checkpointed plan's LogicalRDD — never the context's newest persisted
    * id, which a concurrent caller may own.
    *
    * `durable = false` → `localCheckpoint()`: blocks pinned in executor
    * memory — fastest on a single box, but NOT fault-tolerant (a lost
    * executor loses the blocks and kills the whole multi-round job).
    * `durable = true` → reliable `checkpoint()` against the SparkContext
    * checkpoint directory: each round's state is written to the
    * (distributed) filesystem, so a lost executor re-reads instead of
    * recomputing 40 rounds of lineage, at the cost of one state write per
    * round. Both cut lineage eagerly (one job per cut, no geometric plan
    * growth) and produce bit-identical state ([[graft.GraphClusterPlanSpec]]
    * pins the hash parity). */
  def pin(df: DataFrame, durable: Boolean): (DataFrame, RDD[_]) = {
    val out = if (durable) df.checkpoint() else df.localCheckpoint()
    (out, read(out).headOption
      .getOrElse(sys.error("checkpointed plan has no LogicalRDD")))
  }

  /** Free a pin: drop its blocks and, for a durable pin, delete its
    * checkpoint files. Goes to the context directly: `RDD.unpersist`
    * warns, for every locally checkpointed RDD, that its lineage is
    * gone — which is the point of a pin. */
  def release(rdd: RDD[_]): Unit = {
    GraftFrames.unpersist(rdd.context, rdd.id)
    rdd.getCheckpointFile.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true): Unit
    }
  }

  /** The RDDs a frame's analyzed plan reads. */
  private def read(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd }

  /** The ids of `roots` and of every RDD they depend on. A pin's
    * dependencies end at its checkpoint, so the walk stops there. */
  private def lineage(roots: Seq[RDD[_]]): Set[Int] = {
    val seen = mutable.Set.empty[Int]
    var todo = roots.toList
    while (todo.nonEmpty) {
      val r = todo.head
      todo = todo.tail
      if (seen.add(r.id)) todo = r.dependencies.map(_.rdd).toList ++ todo
    }
    seen.toSet
  }

  /** Run `body` with a fresh scope for operator `op` and free what it
    * pinned, except what the returned frame reads: the RDDs of its plan
    * and their lineage, which reaches the pin under a view such as
    * [[Scope.messages]]' result. `checkpointDir` makes
    * every cut durable: the directory is routed to the context for the
    * call and the PREVIOUS setting restored afterwards — without this the
    * per-operator override leaks into every later `checkpoint()` user of
    * the session. Restoration writes the raw internal value back
    * (reflection on the bytecode-public `checkpointDir_$eq` setter):
    * re-calling `setCheckpointDir` would mint a fresh UUID subdir instead
    * of the original one. The cuts are eager, so every checkpoint has
    * materialized before `body` returns. */
  def run(op: String, df: DataFrame, checkpointDir: Option[String])
      (body: Scope => DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val saved = sc.getCheckpointDir
    checkpointDir.foreach(sc.setCheckpointDir)
    val scope = new Scope(op, df, checkpointDir.isDefined)
    var out: DataFrame = null
    try { out = body(scope); out }
    finally {
      if (checkpointDir.isDefined) {
        val setter = sc.getClass.getMethods
          .find(_.getName == "checkpointDir_$eq")
          .getOrElse(throw new NoSuchMethodException(
            "SparkContext.checkpointDir_$eq"))
        setter.invoke(sc, saved): Unit
      }
      val kept = Option(out).map(o => lineage(read(o))).getOrElse(Set.empty)
      scope.pins.filterNot(r => kept(r.id)).foreach(release)
    }
  }

  /** A graph for [[Scope.messages]]: one (node, neighbours) entry per
    * node, hash-partitioned by node, with its node count and how many
    * nodes have no neighbour. Nodes are Catalyst internal values of
    * `keyType`. `blocks` holds each partition's entries as one array and
    * is pinned for the scope; `entries` is a flattening view of it, one
    * record per node in block order. */
  final class Adjacency private[Fixpoint] (
      private[Fixpoint] val blocks: RDD[Array[(Any, Array[Any])]],
      val nodes: Long, val sinks: Long, val keyType: DataType) {
    val entries: RDD[(Any, Array[Any])] = blocks.mapPartitions(_.flatMap(_.iterator))
  }

  /** What a node does in one round of [[Scope.messages]]. `M` is a
    * message — `merge` may update its first argument and return it — and
    * `C` the census of a state: every round's census rides the job that
    * materializes the state, and the next round's `send` and `update`
    * see it. */
  trait Kernel[M, C] extends Serializable {
    def send(node: Any, nbrs: Array[Any], state: InternalRow, c: C): Iterator[(Any, M)]
    def merge(a: M, b: M): M
    /** The node's next state row; `in`, its merged messages, is null (0
      * for a primitive `M`) when nothing arrived. */
    def update(node: Any, nbrs: Array[Any], state: InternalRow, in: M, c: C): InternalRow
    def census(rows: Iterator[InternalRow]): C
    def combine(a: C, b: C): C
  }

  private val JobDescription = "spark.job.description"

  /** Everything one operator invocation pinned. */
  final class Scope private[Fixpoint] (op: String, input: DataFrame,
                                       durable: Boolean) {
    private val longLived = mutable.ArrayBuffer.empty[RDD[_]]
    private val series = mutable.Map.empty[String, List[RDD[_]]]

    private[Fixpoint] def pins: Seq[RDD[_]] =
      longLived.toSeq ++ series.values.flatten

    /** Run `body` with the job description `<op>/round <k>`, restoring the
      * caller's afterwards. Descriptions are thread-local, so concurrent
      * callers on one context do not mix. */
    private def labelled[T](k: Int)(body: => T): T = {
      val sc = input.sparkSession.sparkContext
      val saved = sc.getLocalProperty(JobDescription)
      sc.setJobDescription(s"$op/round $k")
      try body finally sc.setLocalProperty(JobDescription, saved)
    }

    /** A frame later rounds re-read (edge sets, Brandes level frames):
      * pinned until the scope exits. */
    def cut(df: DataFrame): DataFrame = {
      val (out, rdd) = pin(df, durable)
      longLived += rdd
      out
    }

    /** Round state of series `name`: each cut frees the one from two cuts
      * back. Two stay because [[probe]] hands back the PREVIOUS state when
      * its probe trips. */
    def round(df: DataFrame, name: String = "state"): DataFrame = {
      val (out, rdd) = pin(df, durable)
      keep(rdd, name)
      out
    }

    private def keep(rdd: RDD[_], name: String): Unit = {
      val kept = rdd :: series.getOrElse(name, Nil)
      kept.drop(2).foreach(release)
      series(name) = kept.take(2)
    }

    /** Pin `state` as round state, in one job that materializes it and
      * reduces `k`'s census over its partitions. */
    private def pinned[C: ClassTag](state: RDD[Array[InternalRow]], k: Kernel[_, C]): C = {
      if (durable) state.checkpoint() else state.localCheckpoint()
      val parts = state.context.runJob(state,
        (it: Iterator[Array[InternalRow]]) => k.census(it.flatMap(_.iterator)))
      keep(state, "state")
      parts.reduce(k.combine)
    }

    /** `k` rounds of `step` (given the state and the 0-based round). */
    def iterate(init: DataFrame, k: Int)
        (step: (DataFrame, Int) => DataFrame): DataFrame = {
      var state = labelled(0)(round(init))
      var i = 0
      while (i < k) {
        state = labelled(i + 1)(round(step(state, i)))
        i += 1
      }
      state
    }

    /** Rounds of `step` (given the state and the 0-based round) until
      * `stop(state, rounds run)` holds — checked on the driver after the
      * init cut and after every round — or `maxIter` rounds. Returns
      * (state, rounds run, whether `stop` held). */
    def until(init: DataFrame, maxIter: Int)
        (step: (DataFrame, Int) => DataFrame)
        (stop: (DataFrame, Int) => Boolean): (DataFrame, Int, Boolean) = {
      var state = labelled(0)(round(init))
      var i = 0
      var done = labelled(0)(stop(state, 0))
      while (!done && i < maxIter) {
        val k = i + 1
        state = labelled(k)(round(step(state, i)))
        i = k
        done = labelled(k)(stop(state, i))
      }
      (state, i, done)
    }

    /** Run `step` (which must emit a broadcast `__delta` column — null on
      * the first round) until the probed delta drops below `tol` or
      * `maxIter` rounds, returning (final state, rounds run, final
      * delta). Round k+1's output carries Δ_k, so the stop check is a
      * limit-1 probe of the just-cut state: when it shows Δ_k < tol the
      * PREVIOUS state (round k) is returned — the state an eager check
      * before round k+1 would return, with k probes in place of k full
      * aggregation jobs. If `maxIter` caps the loop instead, the final
      * delta needs the one direct aggregate (`capDelta`) the probe never
      * ran. */
    def probe(init: DataFrame, tol: Double, maxIter: Int,
              capDelta: DataFrame => Double)
        (step: DataFrame => DataFrame): (DataFrame, Int, Double) = {
      var state = labelled(0)(round(init))
      var it = 0
      var result: DataFrame = null
      var delta = Double.NaN
      while (result == null && it < maxIter) {
        val (next, probed) = labelled(it + 1) {
          val next = round(step(state))
          // a state with NO ROWS (e.g. SSSP with zero matching seeds) is
          // its own fixed point — probe it as converged-at-zero instead of
          // head()-ing an empty frame
          (next, next.select(col("__delta")).take(1) match {
            case Array(row) => row.get(0)
            case _ => java.lang.Double.valueOf(0.0)
          })
        }
        if (probed != null && probed.asInstanceOf[Double] < tol) {
          delta = probed.asInstanceOf[Double]
          result = state
        } else {
          state = next
          it += 1
        }
      }
      if (result == null) {
        delta = labelled(it)(capDelta(state))
        result = state
      }
      (result, it, delta)
    }

    /** The adjacency of `edges`' `(src, dst)` for [[messages]], built by
      * one shuffle and pinned for the scope as one `Array[(node, nbrs)]`
      * per partition: `pairs` maps each edge, as Catalyst internal values
      * of the two columns' common type, to the (node, neighbour) entries
      * it contributes — `None` adds the node with no neighbour. Each map
      * task groups its entries per destination partition in a plain hash
      * map and ships one map per non-empty destination through a shuffle
      * with no aggregator. Neighbours are deduplicated. The edge frame is
      * evaluated once. Node ids of a type without value equality are
      * rejected. */
    def adjacency(edges: DataFrame, src: String, dst: String)
        (pairs: (Any, Any) => Iterator[(Any, Option[Any])]): Adjacency = {
      // the type a union of the two columns widens to — what the
      // relational node set of both endpoints would carry
      val keyType = edges.select(col(src).as("n"))
        .unionByName(edges.select(col(dst).as("n"))).schema("n").dataType
      require(keyType match {
          case _: NumericType | _: StringType | BooleanType | DateType |
               TimestampType | TimestampNTZType => true
          case _ => false
        }, s"$op: node ids of type ${keyType.sql} are not supported")
      val key = keyOf(keyType)
      val parts = partitions
      labelled(0) {
      val ends = edges.select(col(src).cast(keyType), col(dst).cast(keyType))
        .queryExecution.toRdd
        .mapPartitions { rows =>
          combineByPartition(rows.flatMap(r => pairs(key(r, 0), key(r, 1))), parts,
            (v: Option[Any]) => mutable.HashSet.empty[Any] ++= v,
            (s: mutable.HashSet[Any], v: Option[Any]) => s ++= v)
        }
      val blocks = shuffled(ends, parts).mapPartitions { in =>
        val m = gather(in, (a: mutable.HashSet[Any], b: mutable.HashSet[Any]) => a ++= b)
        val out = new Array[(Any, Array[Any])](m.size)
        var j = 0
        m.forEach((n, nbrs) => { out(j) = (n, nbrs.toArray); j += 1 })
        Iterator(out)
      }
      if (durable) blocks.checkpoint() else blocks.localCheckpoint()
      val counts = blocks.context.runJob(blocks,
        (it: Iterator[Array[(Any, Array[Any])]]) => {
          val b = it.next()
          (b.length.toLong, b.count(_._2.isEmpty).toLong)
        })
      longLived += blocks
      new Adjacency(blocks, counts.map(_._1).sum, counts.map(_._2).sum, keyType)
      }
    }

    private def partitions: Int =
      input.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

    /** Message-passing rounds (the Pregel model, Malewicz et al. SIGMOD
      * 2010) over `g`, from `init` — one state row per adjacency entry, in
      * the order of [[Adjacency.entries]] — whose census is `c0`. The
      * state is kept as one `Array[InternalRow]` per partition, row j
      * beside entry j of the adjacency block. Each round is ONE job: each
      * node sends its messages, the sending task merges them with
      * `k.merge` into one map per destination partition and ships those
      * maps (at most P² shuffle records for P partitions), and each
      * node's next row is computed beside its adjacency entry — no join,
      * no broadcast. The job pins the new state (series "state", so the
      * newest two stay) and reduces its census, which
      * `stop(census, rounds run)` reads on the driver — checked on `c0`
      * and after every round — up to `maxRounds` rounds. Returns (the
      * final state as a frame of `schema`, rounds run, its census, whether
      * `stop` held). The frame reads the pinned state through a
      * flattening view, whose lineage the exit rule of [[run]] follows to
      * keep exactly that pin. */
    def messages[M, C: ClassTag](g: Adjacency,
        init: RDD[InternalRow], c0: C, maxRounds: Int, k: Kernel[M, C],
        schema: StructType)
        (stop: (C, Int) => Boolean): (DataFrame, Int, C, Boolean) = {
      val parts = g.blocks.getNumPartitions
      var state = init.mapPartitions(rows => Iterator(rows.toArray))
      var c = c0
      var i = 0
      var done = stop(c, 0)
      while (!done && i < maxRounds) {
        val ci = c
        val sent = g.blocks.zipPartitions(state) { (a, s) =>
          val (nb, st) = (a.next(), s.next())
          combineByPartition(Iterator.range(0, nb.length).flatMap { j =>
              k.send(nb(j)._1, nb(j)._2, st(j), ci)
            }, parts, (m: M) => m, k.merge)
        }
        val next = g.blocks.zipPartitions(state, shuffled(sent, parts)) { (a, s, in) =>
          val got = gather(in, k.merge)
          val (nb, st) = (a.next(), s.next())
          Iterator(Array.tabulate(nb.length) { j =>
            val (n, nbrs) = nb(j)
            k.update(n, nbrs, st(j), got.get(n), ci)
          })
        }
        i += 1
        c = labelled(i)(pinned(next, k))
        state = next
        done = stop(c, i)
      }
      if (i == 0) labelled(0)(pinned(state, k))
      (GraftFrames.fromInternal(input.sparkSession, state.mapPartitions(_.flatMap(_.iterator)),
        schema), i, c, done)
    }
  }

  /** The partitioner of a [[shuffled]] block: its key is the partition. */
  private final class ByPartition(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Groups `(node, v)` records by the partition of `parts` the node
    * hashes to, into one plain hash map per destination — `create` starts a
    * node's value, `add` folds one more in — and emits one (partition,
    * map) record per non-empty destination. */
  private def combineByPartition[V, B](records: Iterator[(Any, V)], parts: Int,
      create: V => B, add: (B, V) => B): Iterator[(Int, java.util.HashMap[Any, B])] = {
    val part = new HashPartitioner(parts)
    val maps = new Array[java.util.HashMap[Any, B]](parts)
    records.foreach { case (n, v) =>
      val p = part.getPartition(n)
      if (maps(p) == null) maps(p) = new java.util.HashMap[Any, B]
      val m = maps(p)
      m.put(n, if (m.containsKey(n)) add(m.get(n), v) else create(v))
    }
    Iterator.range(0, parts).collect { case p if maps(p) != null => (p, maps(p)) }
  }

  /** Ships each (partition, map) record to its partition with no
    * aggregator: the bypass-merge writer, with nothing for Spark to size
    * record by record. */
  private def shuffled[B](blocks: RDD[(Int, java.util.HashMap[Any, B])], parts: Int)
      : RDD[(Int, java.util.HashMap[Any, B])] =
    new ShuffledRDD[Int, java.util.HashMap[Any, B], java.util.HashMap[Any, B]](
      blocks, new ByPartition(parts))

  /** The maps a partition received, merged into one with `merge` (which
    * may update its first argument). */
  private def gather[B](in: Iterator[(Int, java.util.HashMap[Any, B])],
                        merge: (B, B) => B): java.util.HashMap[Any, B] = {
    val got = if (in.hasNext) in.next()._2 else new java.util.HashMap[Any, B]
    in.foreach { case (_, m) =>
      m.forEach((n, b) => got.put(n, if (got.containsKey(n)) merge(got.get(n), b) else b))
    }
    got
  }

  /** Reads column `i` of a row as the internal value a node key holds:
    * strings copied out of the (reused) row buffer, floating-point zero
    * and NaN normalized the way Spark's grouping and joins normalize
    * them. */
  private def keyOf(dt: DataType): (InternalRow, Int) => Any = dt match {
    case _: StringType => (r, i) => if (r.isNullAt(i)) null else r.getUTF8String(i).clone()
    case DoubleType => (r, i) =>
      if (r.isNullAt(i)) null
      else { val d = r.getDouble(i); if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d }
    case FloatType => (r, i) =>
      if (r.isNullAt(i)) null
      else { val f = r.getFloat(i); if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f }
    case _ => (r, i) => if (r.isNullAt(i)) null else r.get(i, dt)
  }
}
