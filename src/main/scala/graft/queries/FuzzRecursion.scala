package graft.queries

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Randomized differential fuzzing of the recursive-CTE surface (round
  * 15 — the engine's newest execution path, `UnionLoopExec`, gets the
  * same treatment as the windowed-agg, interval-join, and dedup
  * admission state machines): a seeded generator draws a recursion
  * topology and its parameters, renders ONE `WITH RECURSIVE` statement,
  * and executes it three ways — natively on Spark's iterative plan, as
  * a DRIVER-SIDE Scala BFS over collected arrays (zero Catalyst in the
  * loop: the most independent second implementation available — a
  * frontier-propagation bug in UnionLoop cannot also live in a HashMap
  * walk), and (for the fixed [[driverSeeds]]) verbatim in DuckDB.
  *
  * The three hand-written entries ([[Recursion]]) pin one point each;
  * the drawn axes are where recursion bugs live:
  *  - TREE: the supplier heap walk with a drawn fan-in m ∈ {2, 3, 4}
  *    (parent(k) = ⌊(k−1)/m⌋ — m=2 is the hand entry; other fans change
  *    the frontier-growth schedule and the iteration count) and a drawn
  *    carry (depth only, or the DECIMAL(18,2) root-path sum re-cast at
  *    every level);
  *  - CHAIN: the per-customer order-succession walk over a drawn
  *    customer residue (o_custkey % p = r — different chain population,
  *    same max-depth shape), successor table materialized once outside
  *    the recursion (the [[Recursion.q_recursive_chain]] fix; the
  *    oracle keeps the single-statement form);
  *  - GRAPH: the cyclic ring+chord walk with a drawn chord multiplier
  *    ∈ {2, 3, 7}, drawn start node, and drawn depth cap ∈ {6, 9, 12} —
  *    termination comes ONLY from the explicit depth guard, and path
  *    multiplicity (UNION ALL = bag semantics) must agree: an engine
  *    that deduplicates frontier rows returns the right nodes with the
  *    wrong path counts.
  *
  * FuzzRecursionSpec soaks N seeds Spark-vs-BFS (knob
  * SPARK_GRAFT_FUZZ_RECURSION); the driver seeds export as `q_fuzzr_*`
  * entries whose SQL rendering IS the DuckDB oracle.
  */
object FuzzRecursion {

  final case class RPlan(seed: Long) {
    private val rnd = new scala.util.Random(seed * 7577 + 41)
    val topo: Int = rnd.nextInt(3) // 0=tree 1=chain 2=graph
    val fan: Int = Seq(2, 3, 4)(rnd.nextInt(3))
    val carry: Boolean = rnd.nextBoolean()
    val custMod: (Int, Int) = {
      val p = Seq(2, 3, 5)(rnd.nextInt(3)); (p, rnd.nextInt(p))
    }
    val chordMul: Int = Seq(2, 3, 7)(rnd.nextInt(3))
    val depthCap: Int = Seq(6, 9, 12)(rnd.nextInt(3))
    val startNode: Int = rnd.nextInt(5)
    /** UNION-distinct axis (round 16, appended LAST — the FuzzStream
      * append discipline: seeds 10/18/17 keep their drawn fields AND,
      * checked by replaying the RNG, their reach draw is false, so the
      * three existing driver oracles are bit-stable). Applies to the
      * GRAPH topology only: when true the walk is REACHABILITY — a
      * multiplicative two-chord graph (×chordMul, ×7) from startNode,
      * `UNION` (frontier dedup), NO depth guard — the
      * [[Recursion.q_recursive_reach]] shape on drawn parameters. Spark
      * rejects UNION-distinct recursion (UNION_NOT_SUPPORTED_IN_
      * RECURSIVE_CTE), so the Spark side runs [[Recursion.reachable]];
      * DuckDB executes the statement natively — the fuzz now covers the
      * composed-loop implementation against a second engine's native
      * UNION recursion. startNode = 0 is a legitimate draw: 0's only
      * out-edges are self-loops, so the reachable set is exactly {0}. */
    private val reachDraw = rnd.nextBoolean() // consumed for EVERY topo,
    // so the draw stream stays aligned for any future appended axis
    val reach: Boolean = topo == 2 && reachDraw

    def topoName: String = Seq("tree", "chain", "graph")(topo)

    def describe: String = topo match {
      case 0 => s"tree fan=$fan carry=${if (carry) "path_bal" else "depth"}"
      case 1 => s"chain o_custkey%${custMod._1}=${custMod._2}"
      case _ if reach => s"graph-reach chords=*$chordMul,*7 start=$startNode"
      case _ => s"graph chord=*$chordMul start=$startNode cap=$depthCap"
    }

    // ---- the one WITH RECURSIVE statement (both engines, verbatim
    // modulo the chain's materialization split) ----

    private def treeSql: String = {
      val (initBal, stepBal, outBal) =
        if (carry) (",\n         CAST(s_acctbal AS DECIMAL(18,2)) AS path_bal",
          ",\n         CAST(w.path_bal + CAST(s.s_acctbal AS DECIMAL(18,2)) AS DECIMAL(18,2))",
          ", CAST(path_bal AS DOUBLE) AS path_bal")
        else ("", "", "")
      s"""
      |WITH RECURSIVE walk AS (
      |  SELECT s_suppkey AS k, CAST(0 AS BIGINT) AS depth$initBal
      |  FROM supplier WHERE s_suppkey = 0
      |  UNION ALL
      |  SELECT s.s_suppkey, w.depth + CAST(1 AS BIGINT)$stepBal
      |  FROM supplier s JOIN walk w
      |    ON CAST(floor((s.s_suppkey - 1) / $fan.0) AS BIGINT) = w.k
      |  WHERE s.s_suppkey >= 1)
      |SELECT k AS s_suppkey, depth$outBal
      |FROM walk ORDER BY s_suppkey
      |""".stripMargin
    }

    /** nxt over the residue-filtered orders; `from` lets the Spark side
      * swap in the materialized view. */
    private def nxtSql(from: String): String =
      s"""SELECT o_orderkey AS k,
         |       lead(o_orderkey) OVER (PARTITION BY o_custkey
         |         ORDER BY o_orderdate, o_orderkey) AS nk,
         |       CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         |       row_number() OVER (PARTITION BY o_custkey
         |         ORDER BY o_orderdate, o_orderkey) AS rn
         |FROM $from WHERE o_custkey % ${custMod._1} = ${custMod._2}""".stripMargin

    private def chainWalkSql(nxtName: String): String =
      s"""
      |WITH RECURSIVE walk AS (
      |  SELECT k, nk, CAST(1 AS BIGINT) AS pos, price AS run_total
      |  FROM $nxtName WHERE rn = 1
      |  UNION ALL
      |  SELECT n.k, n.nk, w.pos + CAST(1 AS BIGINT),
      |         CAST(w.run_total + n.price AS DECIMAL(18,2))
      |  FROM $nxtName n JOIN walk w ON n.k = w.nk)
      |SELECT k AS o_orderkey, pos, CAST(run_total AS DOUBLE) AS run_total
      |FROM walk ORDER BY o_orderkey
      |""".stripMargin

    private def chainSql: String =
      s"""
      |WITH RECURSIVE nxt AS (
      |${nxtSql("orders")}),
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

    private def reachGraphSql: String =
      s"""
      |WITH RECURSIVE
      |chords AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS src,
      |         CAST((n_nationkey * $chordMul) % 25 AS BIGINT) AS dst FROM nation
      |  UNION ALL
      |  SELECT CAST(n_nationkey AS BIGINT),
      |         CAST((n_nationkey * 7) % 25 AS BIGINT) FROM nation),
      |reach AS (
      |  SELECT CAST($startNode AS BIGINT) AS node
      |  UNION
      |  SELECT r.dst FROM chords r JOIN reach w ON r.src = w.node)
      |SELECT node FROM reach ORDER BY node
      |""".stripMargin

    private def graphSql: String =
      s"""
      |WITH RECURSIVE
      |ring AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS src,
      |         CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
      |  UNION ALL
      |  SELECT CAST(n_nationkey AS BIGINT),
      |         CAST((n_nationkey * $chordMul) % 25 AS BIGINT) FROM nation),
      |walk AS (
      |  SELECT CAST($startNode AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
      |  UNION ALL
      |  SELECT r.dst, w.depth + CAST(1 AS BIGINT)
      |  FROM ring r JOIN walk w ON r.src = w.node
      |  WHERE w.depth < $depthCap)
      |SELECT node, min(depth) AS hops, count(*) AS paths
      |FROM walk GROUP BY node ORDER BY node
      |""".stripMargin

    /** DuckDB rendering (the driver-seed oracle). */
    def sql: String = topo match {
      case 0 => treeSql
      case 1 => chainSql
      case _ if reach => reachGraphSql
      case _ => graphSql
    }

    /** Native execution on Spark's UnionLoop plan. The chain follows
      * [[Recursion.q_recursive_chain]]'s materialization (Spark
      * re-inlines non-recursive CTE references per level). */
    def runSpark(s: SparkSession, dir: String): DataFrame = {
      Recursion.levelLimit(s) // the engine's one (documented) guard knob
      topo match {
        case 0 =>
          Tables(s, dir, "supplier").createOrReplaceTempView("supplier")
          Recursion.runScoped(s,
            Recursion.recursionParts(s, dir, "supplier"))(s.sql(treeSql))
        case 1 =>
          Tables(s, dir, "orders").createOrReplaceTempView("orders")
          Recursion.runScoped(s,
            Recursion.recursionParts(s, dir, "orders")) {
            val nxt = graft.core.Caches.cachedTransient(s.sql(nxtSql("orders")))
            val view = s"nxt_fuzzr_$seed"
            nxt.createOrReplaceTempView(view)
            s.sql(chainWalkSql(view))
          }
        case _ if reach =>
          // Spark rejects UNION-distinct recursion — composed loop
          // (Recursion.reachable) with identical frontier-dedup semantics
          val nk = Tables(s, dir, "nation")
            .select(col("n_nationkey").cast("long").as("k"))
          val edges = nk.select(col("k").as("src"),
              (col("k") * chordMul % 25).as("dst"))
            .unionByName(nk.select(col("k").as("src"),
              (col("k") * 7 % 25).as("dst")))
          Recursion.reachable(edges, startNode.toLong).orderBy(col("node"))
        case _ =>
          Tables(s, dir, "nation").createOrReplaceTempView("nation")
          Recursion.runScoped(s,
            Recursion.recursionParts(s, dir, "nation"))(s.sql(graphSql))
      }
    }

    // ---- driver-side BFS twin (spec comparator; zero Catalyst in the
    // loop) ----

    /** Mirror of Spark's double → DECIMAL(18,2) cast (HALF_UP over the
      * canonical string form — `Decimal(double)` wraps
      * `BigDecimal.valueOf`). */
    private def dec2(d: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(d).setScale(2, java.math.RoundingMode.HALF_UP)

    def runBfs(s: SparkSession, dir: String): DataFrame = {
      import s.implicits._
      topo match {
        case 0 =>
          val sup = Tables(s, dir, "supplier")
            .select(col("s_suppkey").cast("long"), col("s_acctbal").cast("double"))
            .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
          val children = sup.keys.filter(_ >= 1L)
            .groupBy(k => math.floor((k - 1).toDouble / fan).toLong)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, java.math.BigDecimal)]
          var frontier =
            if (sup.contains(0L)) Seq((0L, 0L, dec2(sup(0L)))) else Nil
          while (frontier.nonEmpty) {
            out ++= frontier
            frontier = frontier.flatMap { case (k, d, bal) =>
              children.getOrElse(k, Nil).toSeq.sorted.map(c =>
                (c, d + 1, bal.add(dec2(sup(c)))))
            }
          }
          val rows = out.sortBy(_._1).toSeq
          if (carry)
            rows.map(t => (t._1, t._2, t._3.doubleValue))
              .toDF("s_suppkey", "depth", "path_bal")
          else rows.map(t => (t._1, t._2)).toDF("s_suppkey", "depth")
        case 1 =>
          // succession pointers computed in Scala: per customer, orders
          // sorted by (date, key) — the windows' semantics, re-derived
          val ords = Tables(s, dir, "orders")
            .filter(pmod(col("o_custkey"), lit(custMod._1)) === lit(custMod._2))
            .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
              col("o_orderdate").cast("string"), col("o_totalprice").cast("double"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, java.math.BigDecimal)]
          ords.groupBy(_._2).foreach { case (_, os) =>
            val chain = os.sortBy(o => (o._3, o._1))
            var run = java.math.BigDecimal.ZERO
            chain.zipWithIndex.foreach { case (o, i) =>
              run = run.add(dec2(o._4))
              out += ((o._1, i + 1L, run))
            }
          }
          out.sortBy(_._1).toSeq
            .map(t => (t._1, t._2, t._3.doubleValue))
            .toDF("o_orderkey", "pos", "run_total")
        case _ if reach =>
          // set-closure BFS (frontier dedup IS set insertion here)
          val nk = Tables(s, dir, "nation")
            .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0))
          val adj = (nk.map(n => n -> (n * chordMul) % 25) ++
            nk.map(n => n -> (n * 7) % 25))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
          val seen = scala.collection.mutable.Set(startNode.toLong)
          var frontier: Set[Long] = Set(startNode.toLong)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
              .filterNot(seen)
            seen ++= frontier
          }
          seen.toSeq.sorted.toDF("node")
        case _ =>
          val nk = Tables(s, dir, "nation")
            .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0))
          val edges = nk.map(n => n -> (n + 1) % 25) ++
            nk.map(n => n -> (n * chordMul) % 25)
          val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
          // bag-semantics BFS: per depth, a multiset of frontier nodes
          val paths = scala.collection.mutable.Map.empty[Long, Long]
          val hops = scala.collection.mutable.Map.empty[Long, Long]
          var frontier = Map(startNode.toLong -> 1L)
          (0 to depthCap).foreach { d =>
            frontier.foreach { case (n, c) =>
              paths(n) = paths.getOrElse(n, 0L) + c
              if (!hops.contains(n)) hops(n) = d.toLong
            }
            if (d < depthCap)
              frontier = frontier.toSeq
                .flatMap { case (n, c) => adj.getOrElse(n, Nil).map(_ -> c) }
                .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          }
          paths.keys.toSeq.sorted
            .map(n => (n, hops(n), paths(n)))
            .toDF("node", "hops", "paths")
      }
    }
  }

  /** Fixed driver seeds under the DuckDB oracle, one per topology on
    * parameters the hand entries don't pin (see each seed's `describe`
    * in FuzzRecursionSpec output): 10 = tree, fan-in 3 (a non-binary
    * frontier schedule) WITH the decimal path carry; 18 = chain over
    * o_custkey%3=2 (a different chain population than the full-corpus
    * hand entry); 17 = graph, chord ×2 from start node 2 with depth cap
    * 12 (a different reachable set and path-count profile than the
    * hand entry's node-0 walk); 27 (round 16) = graph-REACH, chords
    * ×3/×7 from start node 4 — UNION-distinct frontier-dedup
    * reachability (reachable set = the 20 units of Z/25, a proper
    * subset) running the composed [[Recursion.reachable]] loop against
    * DuckDB's native UNION recursion, on parameters the hand
    * `q_recursive_reach` entry (×2/×7 from 5) doesn't pin. */
  val driverSeeds: Seq[Long] = Seq(10L, 18L, 17L, 27L)

  val all: Seq[Q] = driverSeeds.map { s =>
    val p = RPlan(s)
    Q(s"q_fuzzr_$s", (spark, dir) => p.runSpark(spark, dir), Some(p.sql))
  }
}
