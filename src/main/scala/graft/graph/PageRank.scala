package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank by power iteration over a weighted edge list — the graph
  * centrality companion to [[graft.vectorize.FastRP]] (same `A·x`
  * message-passing core, scalar state instead of a vector): per round
  * every node sends `rank · w/outw` along its out-edges (one equi-join +
  * one map-side-combined sum), dangling mass is folded back uniformly,
  * and `rank ← (1−d)/n + d·(msgs + dangling/n)`.
  *
  * Rank state is INTEGER picos (rank · 10¹²): each per-edge contribution
  * is `round(r · p)` lifted to BIGINT and the per-node message sum is a
  * plain long HashAggregate — order-independent, so the result is exact
  * and partition-layout-free, and the DuckDB oracle replays the same
  * recursion as a fixed-depth recursive CTE with bit-identical doubles
  * at every step (the q_lm_cross_entropy integer-micros discipline
  * applied per iteration; every float expression below is mirrored
  * op-for-op in `q_pagerank`'s SQL). Quantization drift is ≤ 0.5 pico
  * per edge per round — seven orders below the 9-dp output rounding.
  *
  * Scale shape: the (src, dst, p) transition table is cached once and
  * re-joined each round; every round shuffles only (node, long) pairs —
  * never payloads. Each round's rank frame is materialized with an EAGER
  * `localCheckpoint` so lineage stays one round deep (the
  * [[graft.dedup.ConnectedComponents]] lesson: the frame is referenced
  * by both the dangling aggregate and the next round's join, so an
  * uncheckpointed chain doubles per round), and round N−1's checkpoint
  * storage is RELEASED as soon as round N materializes
  * ([[graft.core.Caches.releaseMaterialized]] — plain unpersist cannot
  * reach localCheckpoint blocks, and holding all rounds pins ~10× node
  * state at 10⁹ nodes). The dangling aggregate is the per-round driver
  * action that GraphX's Pregel also pays; sink-free graphs (the common
  * symmetrized case) skip it entirely. On a real cluster the
  * localCheckpoint becomes a reliable checkpoint every few rounds.
  *
  * SESSION-CONF SIDE EFFECT (documented contract, measured +2 s at
  * sf0.1 without it): the loop scopes `spark.sql.shuffle.partitions`
  * down to the node-table's scale for the duration of the call
  * ([[graft.core.SessionConf.scoped]]) — AQE coalescing alone leaves ~35%
  * per-round scheduling overhead on small graphs. A CONCURRENT query on
  * the same SparkSession runs at the reduced partition count until the
  * restore; the engine's own entries are single-threaded per session
  * (the Bench/Verify/operator-registry execution model — also noted at
  * the `pagerank` registration in [[graft.pipeline.Operators]]).
  * Callers driving a multi-threaded session should snapshot/restore the
  * conf around `ranks` or accept the window.
  */
object PageRank {

  /** rank · SCALE is the integer state; 10¹² keeps quantization three
    * orders below the 9-dp output contract while `round(r · p)` stays
    * exact in a double (r ≤ 10¹² < 2⁵³). */
  private val SCALE = 1.0e12

  /** (node, rank) for every node appearing in `edges` (src, dst, weight);
    * ranks sum to 1 (± pico quantization). Fixed iteration count —
    * deterministic output shape regardless of convergence, the form a
    * scheduled corpus-refresh job wants. */
  def ranks(edgesIn: DataFrame, iters: Int = 10,
      damping: Double = 0.85): DataFrame = {
    val spark = edgesIn.sparkSession
    val edges = edgesIn.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"),
      col("weight").cast("double").as("weight")).cache()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().cache()
    val n = nodes.count()
    val parts = math.max(4L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toLong, n / 20000L + 1L))
    graft.core.SessionConf.scoped(spark,
        "spark.sql.shuffle.partitions" -> parts.toString) {
      // released in the finally: a failed round (executor loss, OOM in a
      // dangling collect) must not leave four frames pinned in storage
      val pinned = scala.collection.mutable.Buffer[DataFrame](edges, nodes)
      try {
        val outw = edges.groupBy("src").agg(sum("weight").as("outw"))
        // repartitioned to the loop's parallelism before caching: the scan
        // may have many small input splits, and every round re-reads these
        // cached partitions — task count per round should match `parts`
        val trans = edges.join(outw, "src")
          .select(col("src"), col("dst"), (col("weight") / col("outw")).as("p"))
          .repartition(parts.toInt, col("src"))
          .cache()
        // nodes with no out-edges: their rank leaks unless redistributed.
        // Counted once up front — a sink-free graph (the common symmetrized
        // case) skips the per-round dangling aggregate entirely, halving the
        // driver-job count of the loop.
        val sinks = nodes.join(outw.select(col("src").as("node")),
          Seq("node"), "left_anti").cache()
        pinned += trans; pinned += sinks
        val hasSinks = sinks.limit(1).count() > 0
        // mirrored in the oracle: round(SCALE / n) — half-up on a positive
        // double, identical on both engines
        var rank = nodes.select(col("node"),
          lit(math.round(SCALE / n)).as("r")).localCheckpoint(true)
        val base = (1.0 - damping) * SCALE / n
        for (_ <- 1 to iters) {
          val prev = rank
          val dangling = if (!hasSinks) 0.0
            else sinks.join(rank, Seq("node"))
              .agg(coalesce(sum("r"), lit(0L))).head().getLong(0) / n.toDouble
          // per-edge contribution: ONE double multiply + half-up round,
          // op-for-op the oracle's expression — then an order-free long sum
          val msgs = trans.join(rank, trans("src") === rank("node"))
            .select(trans("dst").as("node"),
              round(col("r").cast("double") * col("p"), 0).cast("long").as("c"))
            .groupBy("node").agg(sum("c").as("m"))
          rank = nodes.join(msgs, Seq("node"), "left")
            .select(col("node"),
              round(lit(base) + lit(damping) *
                (coalesce(col("m"), lit(0L)).cast("double") + lit(dangling)), 0)
                .cast("long").as("r"))
            .localCheckpoint(true)
          // round N is materialized (eager checkpoint) — round N−1's blocks
          // are dead; release them so the loop holds ≤2 rank states, not 10
          graft.core.Caches.releaseMaterialized(prev)
        }
        rank.select(col("node"),
          (col("r").cast("double") / lit(SCALE)).as("rank"))
      } finally pinned.foreach(f => { f.unpersist(); () })
    }
  }
}
