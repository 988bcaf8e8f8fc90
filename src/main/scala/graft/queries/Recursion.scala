package graft.queries

import graft.core.{SessionConf, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** Recursive-CTE query entries — `WITH RECURSIVE` executed by Spark's
  * native iterative plan (`UnionLoopExec`, available since Spark 4.0) and
  * replayed verbatim by DuckDB, so the recursion itself runs under the
  * cross-engine oracle rather than beside it.
  *
  * Two deliberately different topologies:
  *  - [[q_recursive_tree]] walks a FAN-OUT hierarchy (each step doubles
  *    the frontier: the org-chart / category-tree shape) — iteration
  *    count is O(log n), per-iteration work grows;
  *  - [[q_recursive_chain]] walks MANY PARALLEL CHAINS (one linked list
  *    per customer: the sessionization / event-succession shape) —
  *    iteration count is the longest chain, per-iteration work is one
  *    frontier row per still-active chain.
  *
  * Scale shape: each recursion step is ONE equi-join of the frontier
  * against the base table — a shuffle (or broadcast, when the frontier is
  * small) per level, never an all-pairs product; the number of levels is
  * a property of the DATA's hierarchy depth (log₂ n for the tree, max
  * chain length for the chains), not its row count, so a 100 TB corpus
  * with a 30-deep hierarchy runs 30 bounded joins. Spark guards runaway
  * recursion with `spark.sql.cteRecursionLevelLimit` (default 100) and
  * `spark.sql.cteRecursionRowLimit`. The tree walk's ceil(log2 n) depth
  * never approaches the default, but the CHAIN walk's depth is the max
  * per-customer order count — ~25 at sf0.1 with only 4x headroom under
  * the default 100, and it GROWS with corpus size, so [[levelLimit]]
  * raises the limit explicitly for every entry here (round-15 advice):
  * the guard then trips on a genuine cycle/runaway, not on a large
  * corpus's legitimately deeper data.
  *
  * Determinism: money accumulates through the shared DECIMAL(18,2)
  * discipline ([[Sql.dsum]]'s cast, re-cast at every recursive step so
  * Spark's widen-on-add cannot drift the type), integers surface as
  * BIGINT on both engines, and every ORDER BY is on a unique key.
  */
object Recursion {

  /** Raise the recursion level limit for a data-depth walk (see the
    * class doc): 10,000 levels keeps the runaway guard real (a cycle
    * without a visited-guard still trips it fast) while never failing
    * on a corpus whose longest chain legitimately outgrew the default
    * 100. SESSION-WIDE by design (the ONE place the engine touches this
    * conf — [[FuzzRecursion]] routes through it too, round-15 advice):
    * every recursive entry here wants the same stance, non-recursive
    * queries never consult the conf, and a save/restore per entry would
    * leave the guard's effective value dependent on entry ordering. */
  private[queries] def levelLimit(s: SparkSession): Unit =
    s.conf.set("spark.sql.cteRecursionLevelLimit", "10000")

  /** Execute a recursive statement EAGERLY at `parts` shuffle partitions
    * and return the materialized result (round 18). The count is set
    * through [[SessionConf.scoped]], which restores the session's count
    * when the body returns; a lazily returned frame would run its
    * per-level jobs after that restore, so the body counts the frame
    * while the scoped count still holds. The materialization is an entry-result-class cache (released
    * between bench passes, so every timed pass pays the full recursion);
    * the consumer's action reads the cache built here, within the same
    * invocation. */
  private[queries] def runScoped(s: SparkSession, parts: Int)(
      build: => DataFrame): DataFrame = {
    // measured and REJECTED (round 18): raising
    // spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation to
    // 100k so bounded frontiers ride the loop as driver-local relations
    // — chain 5.2 → 6.5 s, fuzzr_18 3.0 → 4.2 s (min-of-3 standalone,
    // idle host): the per-level driver collect + LocalRelation planning
    // costs more than the per-level broadcast jobs it removes.
    SessionConf.scoped(s,
        "spark.sql.shuffle.partitions" -> parts.toString) {
      val df = graft.core.Caches.cachedTransient(build)
      df.count()
      df
    }
  }

  /** Shuffle-partition count for a recursion whose per-level work is one
    * bounded join: sized from the INPUT's bytes (⌈bytes/64 MB⌉, capped
    * at the session's configured shuffle partitions), never from the
    * core count. UnionLoop replans and schedules several jobs per level,
    * so every extra partition multiplies per-level task overhead across
    * all levels — the r17 scaling row measured q_recursive_chain's
    * 32-core wall at 2.8× its 8-core wall on identical data (pure
    * scheduling cost). At sf0.1 this derives 1; at a 100 TB input
    * bytes/64 MB saturates the cap and the session's cluster-tuned
    * value wins. An input whose size cannot be read (missing path,
    * unreadable filesystem) gets the cap: sizing fails safe, never to a
    * single partition for an input of unknown size. */
  private[queries] def recursionParts(s: SparkSession, dir: String,
      table: String): Int = {
    val cap = s.conf.get("spark.sql.shuffle.partitions").toInt
    // Hadoop content summary, not Files.size: a production table is a
    // DIRECTORY of part files (so is the 10x scale corpus), and the
    // flat-file size of a directory entry would derive 1 partition for
    // an arbitrarily large input
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
      val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      math.max(1, math.min(cap, (bytes / (64L * 1024 * 1024)).toInt + 1))
    } catch { case scala.util.control.NonFatal(_) => cap }
  }

  /** Register the tables an entry's SQL references under stable view
    * names (idempotent per session — `createOrReplaceTempView`), then
    * run the recursive statement under the size-derived partition scope
    * (first named table = the recursion's input). */
  private def withViews(s: SparkSession, dir: String, names: String*)(
      sql: String): DataFrame = {
    levelLimit(s)
    names.foreach(n => Tables(s, dir, n).createOrReplaceTempView(n))
    runScoped(s, recursionParts(s, dir, names.head))(s.sql(sql))
  }

  /** Org-chart walk over the supplier table arranged as a binary heap
    * (contiguous keys 0..n−1, parent(k) = ⌊(k−1)/2⌋): depth of every
    * node and the account-balance total along its root path — the
    * canonical "roll costs down the reporting chain" recursion. The
    * frontier doubles each level, so the walk terminates after ⌈log₂ n⌉
    * joins with every supplier visited exactly once (a tree has one
    * path per node; UNION ALL is exact, no dedup needed). */
  private val treeSql = """
    |WITH RECURSIVE walk AS (
    |  SELECT s_suppkey AS k, CAST(0 AS BIGINT) AS depth,
    |         CAST(s_acctbal AS DECIMAL(18,2)) AS path_bal
    |  FROM supplier WHERE s_suppkey = 0
    |  UNION ALL
    |  SELECT s.s_suppkey, w.depth + CAST(1 AS BIGINT),
    |         CAST(w.path_bal + CAST(s.s_acctbal AS DECIMAL(18,2))
    |           AS DECIMAL(18,2))
    |  FROM supplier s JOIN walk w
    |    ON CAST(floor((s.s_suppkey - 1) / 2.0) AS BIGINT) = w.k
    |  WHERE s.s_suppkey >= 1)
    |SELECT k AS s_suppkey, depth, CAST(path_bal AS DOUBLE) AS path_bal
    |FROM walk ORDER BY s_suppkey
    |""".stripMargin

  val q_recursive_tree = Q(
    "q_recursive_tree",
    (s, dir) => withViews(s, dir, "supplier")(treeSql),
    Some(treeSql))

  /** Per-customer order-succession walk: `nxt` materializes each order's
    * successor pointer (lead over the customer's chronological order
    * history — a plain window, outside the recursion), then the
    * recursion starts every chain at its first order and follows the
    * pointers, carrying position-in-chain and the running spend. One
    * frontier row per still-active chain per level; the recursion ends
    * at the longest order history (≈25 here), independent of total
    * order count. The running total is exactly the prefix sum a window
    * would give — which is what makes the entry a semantic pin of the
    * recursion (join direction, frontier carry, per-step type
    * discipline) rather than the only way to compute it. */
  private val chainSql = """
    |WITH RECURSIVE nxt AS (
    |  SELECT o_orderkey AS k,
    |         lead(o_orderkey) OVER (PARTITION BY o_custkey
    |           ORDER BY o_orderdate, o_orderkey) AS nk,
    |         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
    |         row_number() OVER (PARTITION BY o_custkey
    |           ORDER BY o_orderdate, o_orderkey) AS rn
    |  FROM orders),
    |walk AS (
    |  SELECT k, nk, CAST(1 AS BIGINT) AS pos, price AS run_total
    |  FROM nxt WHERE rn = 1
    |  UNION ALL
    |  SELECT n.k, n.nk, w.pos + CAST(1 AS BIGINT),
    |         CAST(w.run_total + n.price AS DECIMAL(18,2))
    |  FROM nxt n JOIN walk w ON n.k = w.nk)
    |SELECT k AS o_orderkey, pos, CAST(run_total AS DOUBLE) AS run_total
    |FROM walk ORDER BY o_orderkey
    |""".stripMargin

  /** The successor-pointer table, split out of [[chainSql]] so the Spark
    * side can MATERIALIZE it once: Spark inlines non-recursive CTE
    * references into each UnionLoop level, so leaving `nxt` inside the
    * recursive statement re-runs the two windows over the full orders
    * table at every level (~35 times at sf0.1 — measured 11.4 s; cached
    * it is one window pass + cheap per-level hash joins). DuckDB
    * materializes CTEs, so the oracle keeps the single-statement form —
    * same rows either way. */
  private val nxtSql = """
    |SELECT o_orderkey AS k,
    |       lead(o_orderkey) OVER (PARTITION BY o_custkey
    |         ORDER BY o_orderdate, o_orderkey) AS nk,
    |       CAST(o_totalprice AS DECIMAL(18,2)) AS price,
    |       row_number() OVER (PARTITION BY o_custkey
    |         ORDER BY o_orderdate, o_orderkey) AS rn
    |FROM orders
    |""".stripMargin

  private val walkOverNxtSql = """
    |WITH RECURSIVE walk AS (
    |  SELECT k, nk, CAST(1 AS BIGINT) AS pos, price AS run_total
    |  FROM nxt_chain WHERE rn = 1
    |  UNION ALL
    |  SELECT n.k, n.nk, w.pos + CAST(1 AS BIGINT),
    |         CAST(w.run_total + n.price AS DECIMAL(18,2))
    |  FROM nxt_chain n JOIN walk w ON n.k = w.nk)
    |SELECT k AS o_orderkey, pos, CAST(run_total AS DOUBLE) AS run_total
    |FROM walk ORDER BY o_orderkey
    |""".stripMargin

  /** CYCLIC-graph walk (round 15 — the first two entries walk acyclic
    * topologies, where recursion terminates because the data runs out;
    * here it terminates ONLY because the query says stop): a 25-node
    * directed graph over the nation table with a ring edge
    * n → (n+1) mod 25 and a doubling chord n → 2n mod 25 — strongly
    * cyclic (including a self-loop at 0). The walk starts at node 0 and
    * follows every path to depth 12, guarded by the explicit
    * `w.depth < 12` predicate — remove it and the recursion never
    * drains; Spark then fails at `spark.sql.cteRecursionLevelLimit`
    * (RecursionSpec pins exactly that failure), which is the limit's
    * intended role: a backstop behind the query's own guard, not a
    * substitute for one. UNION ALL enumerates PATHS (2 out-edges → ≤2^12
    * rows, bounded by the guard, never by dedup), so the aggregate
    * reports min-hop distance and path counts per node — both engines
    * run the statement verbatim. */
  private val graphSql = """
    |WITH RECURSIVE
    |ring AS (
    |  SELECT CAST(n_nationkey AS BIGINT) AS src,
    |         CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
    |  UNION ALL
    |  SELECT CAST(n_nationkey AS BIGINT),
    |         CAST((n_nationkey * 2) % 25 AS BIGINT) FROM nation),
    |walk AS (
    |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
    |  UNION ALL
    |  SELECT r.dst, w.depth + CAST(1 AS BIGINT)
    |  FROM ring r JOIN walk w ON r.src = w.node
    |  WHERE w.depth < 12)
    |SELECT node, min(depth) AS hops, count(*) AS paths
    |FROM walk GROUP BY node ORDER BY node
    |""".stripMargin

  val q_recursive_graph = Q(
    "q_recursive_graph",
    (s, dir) => withViews(s, dir, "nation")(graphSql),
    Some(graphSql))

  /** UNION-distinct (frontier-dedup) REACHABILITY — the recursion shape
    * a graph user actually writes (`WITH RECURSIVE reach AS (anchor
    * UNION step)`): NO depth guard anywhere; on a cyclic graph the walk
    * terminates ONLY because rows already produced are removed from the
    * frontier. The 25-node graph is the nation table under two
    * multiplicative chords n → 2n mod 25 and n → 7n mod 25 (strongly
    * cyclic — every node sits on a ×2 orbit), walked from node 5: the
    * reachable set is 5·⟨2,7⟩ mod 25 = {5, 10, 15, 20}, a PROPER subset
    * of the nodes — deliberately not the additive ring+chord graph,
    * whose reachable set from any start is all 25 nodes and whose hash
    * therefore could not distinguish a wrong walk from a right one.
    *
    * ENGINE BOUNDARY (round 16): Spark 4.1 rejects UNION inside a
    * recursive CTE outright (error condition
    * `UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE` — only UNION ALL executes
    * through UnionLoop), so the Spark side runs [[reachable]], the
    * distributed frontier-dedup loop (the Pregel BFS shape) with
    * IDENTICAL semantics; DuckDB executes the UNION statement natively
    * and verbatim as the oracle. RecursionSpec pins the rejection
    * loudly — the day Spark learns UNION-distinct recursion, that spec
    * fails and this entry should switch to the native statement. */
  private val reachSql = """
    |WITH RECURSIVE
    |chords AS (
    |  SELECT CAST(n_nationkey AS BIGINT) AS src,
    |         CAST((n_nationkey * 2) % 25 AS BIGINT) AS dst FROM nation
    |  UNION ALL
    |  SELECT CAST(n_nationkey AS BIGINT),
    |         CAST((n_nationkey * 7) % 25 AS BIGINT) FROM nation),
    |reach AS (
    |  SELECT CAST(5 AS BIGINT) AS node
    |  UNION
    |  SELECT r.dst FROM chords r JOIN reach w ON r.src = w.node)
    |SELECT node FROM reach ORDER BY node
    |""".stripMargin

  /** Distributed frontier-dedup reachability — UNION-distinct recursion
    * semantics composed from existing operators, since Spark's UnionLoop
    * executes UNION ALL only (see [[q_recursive_reach]]). Level-synchronous
    * BFS: per level ONE equi-join of the edge table against the frontier
    * plus one anti-join against the visited set, both distributed; the
    * driver holds only the loop counter and the frontier's row COUNT.
    * Iteration count is the graph's eccentricity from the start set — a
    * property of the topology, not the row count, exactly like
    * UnionLoop's level count — and `localCheckpoint` truncates lineage
    * each level so plans stay O(1) deep instead of O(levels).
    *
    * SIZE-GATED frontier strategy (round 17, the
    * `chooseContainStrategy` discipline): the frontier of a real
    * web/citation graph can outgrow a broadcast (8 GB hard cap, driver
    * OOM before that), so each level picks by the measured frontier
    * count — BROADCAST the frontier while it fits
    * (`broadcastMaxRows`, defaulting to the session's
    * `autoBroadcastJoinThreshold` at 16 bytes/node id, 0 when broadcast
    * is disabled), SHUFFLE join above. The first time the gate flips to
    * shuffle, the edge table is hash-partitioned by `src` ONCE and
    * checkpointed — `LogicalRDD` preserves the physical partitioning,
    * so every later level's join moves only the frontier while the
    * (static, huge) edge side stays put: per-level cost is O(frontier)
    * shuffle, never O(edges). The count that drives the gate is the
    * same count the loop's termination already needs. For
    * diameter-bound pathologies (long chains) the pointer-jumping
    * doubling of [[graft.dedup.ConnectedComponents]] is the
    * O(log n)-round alternative. RecursionSpec pins that both branches
    * produce identical reach sets; SCALE.md's `reach_fixture` row
    * measures the gate firing on a 12M-edge random digraph whose
    * frontier crosses 10⁶ nodes. */
  private[graft] def reachable(edges: DataFrame, startNode: Long,
      broadcastMaxRows: Option[Long] = None): DataFrame = {
    val spark = edges.sparkSession
    val maxRows = broadcastMaxRows.getOrElse {
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val bytes =
        try {
          if (thr.trim.startsWith("-")) -1L
          else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(thr)
        } catch { case scala.util.control.NonFatal(_) => 10L * 1024 * 1024 }
      if (bytes <= 0) 0L else bytes / 16
    }
    // partitioned-by-src edge snapshot, built lazily on first shuffle-mode
    // level; the checkpoint pins HashPartitioning(src) so later levels
    // reuse it exchange-free
    var edgesBySrc: DataFrame = null
    var seen = spark.range(1).select(lit(startNode).as("node"))
      .localCheckpoint()
    var frontier = seen
    var frontierRows = 1L
    var more = true
    while (more) {
      val fk = frontier.select(col("node").as("src"))
      val stepped =
        if (frontierRows <= maxRows) edges.join(broadcast(fk), Seq("src"))
        else {
          if (edgesBySrc == null)
            edgesBySrc = edges.repartition(col("src")).localCheckpoint()
          edgesBySrc.join(fk, Seq("src"))
        }
      val next = stepped
        .select(col("dst").as("node")).distinct()
        .join(seen, Seq("node"), "left_anti")
        .localCheckpoint()
      frontierRows = next.count()
      more = frontierRows > 0
      if (more) {
        seen = seen.unionByName(next).localCheckpoint()
        frontier = next
      }
    }
    seen
  }

  val q_recursive_reach = Q(
    "q_recursive_reach",
    (s, dir) => {
      val nk = Tables(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("k"))
      val edges = nk.select(col("k").as("src"), (col("k") * 2 % 25).as("dst"))
        .unionByName(
          nk.select(col("k").as("src"), (col("k") * 7 % 25).as("dst")))
      reachable(edges, 5L).orderBy(col("node"))
    },
    Some(reachSql))

  val q_recursive_chain = Q(
    "q_recursive_chain",
    (s, dir) => {
      levelLimit(s)
      Tables(s, dir, "orders").createOrReplaceTempView("orders")
      // eager, size-scoped recursion (see runScoped): the successor
      // table materializes once (Spark inlines non-recursive CTEs per
      // level — see nxtSql), then the ~25-level walk runs under the
      // derived partition count instead of the session's scan
      // parallelism
      runScoped(s, recursionParts(s, dir, "orders")) {
        val nxt = graft.core.Caches.cachedTransient(s.sql(nxtSql))
        nxt.createOrReplaceTempView("nxt_chain")
        s.sql(walkOverNxtSql)
      }
    },
    Some(chainSql))

  val all: Seq[Q] = Seq(q_recursive_tree, q_recursive_chain,
    q_recursive_graph, q_recursive_reach)
}
