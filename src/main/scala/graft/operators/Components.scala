package graft.operators

import org.apache.spark.{Aggregator, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.{KryoSerializer, Serializer}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list — the
  * clustering step a corpus-scale dedup pipeline runs AFTER pair generation
  * (MinHash/SimHash/Jaccard emit near-dup PAIRS; collapsing them to "keep
  * one representative per duplicate cluster" is a connected-components
  * problem over the pair graph).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", ACM SoCC 2014 — public).
  * The round count is O(log^2 n) INDEPENDENT of graph diameter, unlike
  * naive min-label propagation whose round count is the graph diameter (a
  * chain of 10^6 near-identical docs would need 10^6 rounds).
  *
  * Round plan. The edge set lives as both orientations (x, y) of every
  * edge, partitioned by x and sorted by (x, y) within each partition, so
  * the first record of each x-run carries x's smallest neighbour. A round
  * is two shuffles, each a sort-based exchange keyed by the edge (x, y),
  * routed on x alone and de-duplicated map- and reduce-side:
  *  1. large-star, one streaming pass: every node x with closed-
  *     neighbourhood minimum m emits (y, m) for each neighbour y > x —
  *     keyed by the LARGER endpoint y, the key small-star needs;
  *  2. small-star, one streaming pass over the first exchange: node y
  *     with smallest neighbour m (its run's first record) emits (m, y)
  *     and (m, u) for its other smaller neighbours u; each output edge is
  *     emitted in both orientations into the second exchange, which is
  *     the next round's edge set.
  * The min-aggregate and the re-join of each star step are thus one pass
  * over a sorted partition: per-node state is one scalar (the current
  * run's minimum), never a collected neighbour list or a per-node map, so
  * a celebrity node with 10^9 duplicates costs nothing beyond its edge
  * rows, and both exchanges spill like any sort-based shuffle.
  *
  * Why RDD jobs: the rounds are driver-side iterations over a graph that
  * is usually small next to the pair pipeline that made it. As DataFrame
  * plans every round paid analysis, optimization, one adaptive stage job
  * per exchange and a fresh set of generated classes; as RDD rounds one
  * job materializes a round (`localCheckpoint`) and signs it in the same
  * pass. Shuffle records are (Long, Long) keys written by an explicit Kryo
  * serializer (tuples are outside the primitive types Spark hands to Kryo
  * on its own), so an exchanged edge costs its two longs and a class tag,
  * not a Java-serialized object graph.
  */
object Components {

  /** Connected components of the undirected graph given by
    * (`srcCol`, `dstCol`) edge rows. Returns one row per distinct node id
    * appearing in `edges`: (id, component) where component is the MINIMUM
    * node id of the node's component (so `id === component` marks the
    * canonical representative). Self-loops are ignored; isolated nodes
    * (ids absent from `edges`) are the caller's to union in — see
    * `labelNodes`.
    *
    * The canonical edges (least, greatest; no self-loops, no nulls) enter
    * once as internal rows; every round after that is one job. Each round
    * truncates lineage with `localCheckpoint` — without truncation each
    * round's job would replay every earlier round. The fixpoint test is
    * the edge set's signature (count, XOR of `xxhash64(u, v)` over the
    * canonical orientation u < v). When the session has a reliable
    * checkpoint dir set, `reliableEvery > 0` upgrades every that-many-th
    * round to a reliable `checkpoint` so a lost executor on a real cluster
    * can't force a replay of the whole round history.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 50, reliableEvery: Int = 0): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val qe = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
              greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .queryExecution
    val ser = new KryoSerializer(sc.getConf)
    // the edge plan runs in the first round's job; one recorded SQL
    // execution around both lets listeners and plan audits see that plan
    val (part, first, firstSig) = SQLExecution.withNewExecutionId(qe, Some("connectedComponents")) {
      val canonical = qe.toRdd.map(r => (r.getLong(0), r.getLong(1)))
      val part = new EdgePartitioner(math.max(1, canonical.getNumPartitions))
      val e = exchange(canonical.flatMap { case (u, v) => both(u, v) }, part, ser)
      e.localCheckpoint()
      (part, e, signature(e))
    }
    var e = first
    var prev = firstSig
    var round = 0
    var done = prev._1 == 0L
    while (!done && round < maxRounds) {
      val next = exchange(smallStar(exchange(largeStar(e), part, ser)), part, ser)
      val reliable = reliableEvery > 0 && (round + 1) % reliableEvery == 0 &&
        sc.getCheckpointDir.isDefined
      if (reliable) next.persist().checkpoint() else next.localCheckpoint()
      val sig = signature(next)
      e.unpersist(blocking = false)
      e = next
      done = sig == prev
      prev = sig
      round += 1
    }
    // fixpoint is a forest of stars (root = component min): a member's
    // only neighbour is its root, a root's neighbours are all larger — so
    // each node's first record names its component. Boxed longs keep the
    // columns nullable, as the DataFrame plan's were.
    val labels = e.mapPartitions(runMin(_).collect {
      case (x, y, m) if y == m => (Long.box(x), Long.box(math.min(x, m)))
    })
    spark.createDataset(labels)(Encoders.tuple(Encoders.LONG, Encoders.LONG))
      .toDF("id", "component")
  }

  /** Component labels for EVERY id in `nodes` (one column `idCol`):
    * nodes untouched by any edge become their own singleton component. */
  def labelNodes(nodes: DataFrame, idCol: String,
                 edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val cc = connectedComponents(edges, srcCol, dstCol)
    nodes.select(col(idCol).cast("long").as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id").as(idCol),
              coalesce(col("component"), col("id")).as("component"))
  }

  /** Large-star over the symmetric edge set: node x, with m the minimum
    * of its closed neighbourhood, attaches each STRICTLY LARGER neighbour
    * y to m. Emitted as (y, m), keyed by the larger endpoint (m <= x < y). */
  private def largeStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
    e.mapPartitions(runMin(_).collect {
      case (x, y, mn) if y > x => (y, math.min(x, mn))
    })

  /** Small-star over large-star's (larger, smaller) edges: node y, with m
    * its smallest neighbour, attaches itself and all its other smaller
    * neighbours u to m (m < u by minimality). Emits both orientations. */
  private def smallStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
    e.mapPartitions(runMin(_).flatMap {
      case (y, u, m) => if (u == m) both(m, y) else both(m, u)
    })

  private def both(a: Long, b: Long): Iterator[(Long, Long)] =
    Iterator((a, b), (b, a))

  /** Each record of a partition sorted by (key, value), with the first —
    * smallest — value of its key's run. */
  private def runMin(it: Iterator[(Long, Long)]): Iterator[(Long, Long, Long)] = {
    var key = 0L
    var min = 0L
    var started = false
    it.map { case (k, v) =>
      if (!started || k != key) { key = k; min = v; started = true }
      (k, v, min)
    }
  }

  private val distinctEdges =
    Aggregator[(Long, Long), Null, Null](_ => null, (_, _) => null, (_, _) => null)

  /** Distinct edges, partitioned by their first endpoint and sorted by
    * (first, second) within each partition. */
  private def exchange(e: RDD[(Long, Long)], part: EdgePartitioner,
                       ser: Serializer): RDD[(Long, Long)] =
    new ShuffledRDD[(Long, Long), Null, Null](e.map(x => (x, null)), part)
      .setSerializer(ser)
      .setAggregator(distinctEdges)
      .setMapSideCombine(true)
      .setKeyOrdering(Ordering.Tuple2[Long, Long])
      .map(_._1)

  /** Cheap fixpoint test, materializing the round in the same job: (edge
    * count, order-independent XOR of edge hashes) over the canonical
    * orientation. XOR, not sum, so the fold can't overflow; the edge set
    * is distinct so set-XOR is a sound set signature. The hash is Spark
    * SQL's `xxhash64(u, v)`. */
  private def signature(e: RDD[(Long, Long)]): (Long, Long) =
    e.aggregate((0L, 0L))(
      { case ((n, h), (u, v)) =>
        if (u < v) (n + 1, h ^ XXH64.hashLong(v, XXH64.hashLong(u, 42L))) else (n, h) },
      { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 ^ h2) })

  /** Routes an edge key (x, y) by its first endpoint, so every record of
    * node x — its whole neighbour run — lands in one partition. */
  private final class EdgePartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key match {
      case (x: Long, _) => Math.floorMod(java.lang.Long.hashCode(x), numPartitions)
    }
  }
}
