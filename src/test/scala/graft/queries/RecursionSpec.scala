package graft.queries

import graft.TestSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** The recursive-CTE walks checked against independent non-recursive
  * computations of the same facts (closed-form heap depths; windowed
  * prefix sums), plus a plan pin that the recursion really runs through
  * Spark's iterative `UnionLoop` operator rather than some rewrite.
  */
class RecursionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("q_recursive_tree: heap depths and root-path sums, every node once") {
    val rows = Recursion.q_recursive_tree.run(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val bal = graft.core.Tables(spark, dir, "supplier")
      .select(col("s_suppkey"),
        col("s_acctbal").cast(DecimalType(18, 2)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(rows.keySet == bal.keySet, "walk must visit every supplier once")
    rows.foreach { case (k, (depth, pathBal)) =>
      // closed-form heap depth: node k sits at ⌊log₂(k+1)⌋
      val want = (63 - java.lang.Long.numberOfLeadingZeros(k + 1)).toLong
      assert(depth == want, s"depth($k) = $depth, want $want")
      // root-path balance by climbing parents directly
      var sum = java.math.BigDecimal.ZERO
      var n = k
      while (n > 0) { sum = sum.add(bal(n)); n = (n - 1) / 2 }
      sum = sum.add(bal(0L))
      assert(math.abs(pathBal - sum.doubleValue()) < 1e-9,
        s"path_bal($k) = $pathBal, want $sum")
    }
  }

  test("q_recursive_chain: positions and running totals equal the window form") {
    val got = Recursion.q_recursive_chain.run(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val want = graft.core.Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
      .select(col("o_orderkey"), row_number().over(w).cast("long").as("pos"),
        sum(col("p")).over(w).cast("double").as("run_total"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "recursive walk must equal the windowed prefix sum exactly")
  }

  test("q_recursive_graph: min-hop distances and path counts equal a " +
      "driver-side DP over the cyclic graph") {
    val got = Recursion.q_recursive_graph.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the same 25-node ring + doubling-chord graph, walked by dynamic
    // programming: level_d[node] = number of length-d walks from 0
    val edges = (0 until 25).flatMap(n => Seq(n -> ((n + 1) % 25), n -> ((2 * n) % 25)))
    var level = Map(0 -> 1L)
    val visits = scala.collection.mutable.Map(0 -> 1L)
    val hops = scala.collection.mutable.Map(0 -> 0L)
    for (d <- 1 to 12) {
      val next = scala.collection.mutable.Map.empty[Int, Long]
      edges.foreach { case (s, t) =>
        level.get(s).foreach(c => next(t) = next.getOrElse(t, 0L) + c) }
      level = next.toMap
      level.foreach { case (n, c) =>
        visits(n) = visits.getOrElse(n, 0L) + c
        if (!hops.contains(n)) hops(n) = d.toLong
      }
    }
    val want = visits.keys
      .map(n => n.toLong -> ((hops(n), visits(n)))).toMap
    assert(got == want)
  }

  test("unguarded cyclic recursion trips cteRecursionLevelLimit — the " +
      "backstop behind the query's own depth guard") {
    graft.core.Tables(spark, dir, "nation").createOrReplaceTempView("nation")
    val prev = spark.conf.get("spark.sql.cteRecursionLevelLimit")
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "40")
    try {
      // ring-only walk (one out-edge -> one frontier row per level) with
      // NO depth predicate: on a cyclic graph the frontier never drains,
      // so the level limit is the only thing that stops it
      val e = intercept[Exception] {
        spark.sql("""
          |WITH RECURSIVE walk AS (
          |  SELECT CAST(0 AS BIGINT) AS node
          |  UNION ALL
          |  SELECT CAST((w.node + 1) % 25 AS BIGINT)
          |  FROM nation n JOIN walk w ON CAST(n.n_nationkey AS BIGINT) = w.node)
          |SELECT count(*) FROM walk
          |""".stripMargin).collect()
      }
      assert(e.getMessage.toLowerCase.contains("recursion"),
        s"expected a recursion-limit failure, got: ${e.getMessage}")
    } finally spark.conf.set("spark.sql.cteRecursionLevelLimit", prev)
  }

  test("q_recursive_reach: frontier-dedup reachability equals the set " +
      "closure, and terminates with no depth guard") {
    val got = Recursion.q_recursive_reach.run(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // independent closure of {5} under ×2 and ×7 mod 25
    val seen = scala.collection.mutable.Set(5L)
    var frontier = Set(5L)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(n => Seq(n * 2 % 25, n * 7 % 25))
        .filterNot(seen)
      seen ++= frontier
    }
    assert(got == seen.toSet && got == Set(5L, 10L, 15L, 20L),
      s"reachable set $got != closure $seen")
  }

  test("frontier size gate: broadcast and shuffle branches produce " +
      "identical reach sets") {
    import org.apache.spark.sql.functions.{col, expr}
    val nk = graft.core.Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("k"))
    val edges = nk.select(col("k").as("src"), expr("k * 2 % 25").as("dst"))
      .unionByName(nk.select(col("k").as("src"), expr("k * 7 % 25").as("dst")))
    def reachSet(maxRows: Option[Long]): Set[Long] =
      Recursion.reachable(edges, 5L, maxRows)
        .collect().map(_.getLong(0)).toSet
    val viaBroadcast = reachSet(Some(Long.MaxValue)) // every level broadcasts
    val viaShuffle = reachSet(Some(0L)) // gate trips immediately: all shuffle
    val viaDefault = reachSet(None)
    assert(viaBroadcast == Set(5L, 10L, 15L, 20L))
    assert(viaShuffle == viaBroadcast,
      s"shuffle branch diverged: $viaShuffle vs $viaBroadcast")
    assert(viaDefault == viaBroadcast)
  }

  test("shuffle-mode edge snapshot: the checkpointed repartition(src) " +
      "pins its partitioning, so the per-level join moves only the frontier") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SparkPlan
    val edges = spark.range(1000).select(
      col("id").as("src"), ((col("id") * 3) % 1000).as("dst"))
      .repartition(col("src")).localCheckpoint()
    val frontier = spark.range(10).select(col("id").as("src"))
    val joined = edges.join(frontier, Seq("src"))
    joined.count()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val shuffles = flatten(joined.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1,
      s"expected at most the frontier-side exchange, got ${shuffles.size}: " +
        shuffles.map(_.outputPartitioning).mkString("; "))
  }

  test("ENGINE BOUNDARY: Spark still rejects UNION-distinct recursion " +
      "(UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) — when this test fails, " +
      "Spark learned it and q_recursive_reach should go native") {
    graft.core.Tables(spark, dir, "nation").createOrReplaceTempView("nation")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("""
        |WITH RECURSIVE reach AS (
        |  SELECT CAST(5 AS BIGINT) AS node
        |  UNION
        |  SELECT CAST(w.node * 2 % 25 AS BIGINT)
        |  FROM nation n JOIN reach w ON CAST(n.n_nationkey AS BIGINT) = w.node)
        |SELECT node FROM reach ORDER BY node
        |""".stripMargin).collect()
    }
    assert(e.getCondition == "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
      s"expected the UNION-in-recursion rejection, got: ${e.getCondition} / ${e.getMessage}")
  }

  test("recursion sizing: an unreadable input gets the session cap, " +
      "not 1 partition") {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(cap > 1, "the check needs a session cap above 1")
    assert(Recursion.recursionParts(spark, dir, "no_such_table") === cap)
    assert(Recursion.recursionParts(spark, s"$dir/no_such_dir", "orders") ===
      cap)
    // a readable sf0.001 input is far below 64 MB: one partition
    assert(Recursion.recursionParts(spark, dir, "orders") === 1)
  }

  test("the recursion executes through UnionLoop, one join per level") {
    val plan = Recursion.q_recursive_tree.run(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("UnionLoop"),
      s"expected an iterative UnionLoop execution, got:\n$plan")
  }
}
