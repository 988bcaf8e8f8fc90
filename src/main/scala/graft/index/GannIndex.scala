package graft.index

import graft.functions.{TextF, VectorF}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed GANN-equivalent: a FOREST of hyperplane spill trees built as
  * iterative DataFrame jobs, whose (tree, leaf) posting lists are searched
  * in one probed scan with exact ranking and cross-tree candidate dedup.
  *
  * Reference semantics (radient/tasks/sinks/local/gann.py:113-193 +
  * _gkmeans.py): per level, fit 2 centers per node, hyperplane = the
  * perpendicular bisector of the centers (w = c1−c0,
  * bias = −(c0+c1)·w/2, gann.py:146-147), children take the
  * |leaf|·(0.5+spill) nearest rows on each side (overlapping spill,
  * gann.py:150-166), recurse until leaves ≤ leafSize (MAX_LEAF_SIZE=200,
  * gann.py:15). `nTrees` mirrors the reference's `n_trees` recall knob
  * (gann.py:201): the C kernel searches every tree and de-duplicates
  * candidates across trees in an open-addressing set inside the scan
  * (gann.c:851-869, 944-993, one pthread per tree); here each tree gets
  * its own seed (sampling salt + sample order), the driver routes each
  * query through every tree to its (tree, leaf) keys, and
  * [[Search.scan]] scores only those posting lists, its per-query heaps
  * holding each id once at its smallest distance — the cross-tree and
  * spill dedup happens inside the scan, as in the C kernel.
  *
  * Divergences (documented, SURVEY.md §7.4): centers come from a
  * deterministic driver-side 2-means over a hash-sampled subset (VC-bound
  * subsampling in spirit, _gkmeans.py:26-36) and the split point is the
  * exact per-node percentile of the projection — exactly balanced and
  * deterministic, where the reference's gradient balanced k-means is
  * stochastic.
  *
  * Scale shape: the forest (a few KB of hyperplanes per tree) lives on the
  * driver and is broadcast; every level's leaf assignment is derived FRESH
  * from the base table by routing each vector through the tree-so-far — a
  * single scan + UDF + explode whose logical plan stays constant-size per
  * level. (The round-1 implementation instead stacked
  * `union(untouched, left, right)` per level on top of the previous
  * level's plan, growing the Catalyst plan ~3^depth — at sf0.1 that hit
  * the 2 GB plan-string ceiling and spent 35 minutes in analysis alone.)
  * Only per-node statistics (counts, samples, quantiles) ever reach the
  * driver. The final assignment table is the index; it is saved
  * partitioned by `(tree, leaf)`, so a search reads only the probed
  * leaves' directories.
  */
object GannIndex {

  /** One split node; leaves have left = -1. */
  final case class Node(id: Int, w: Array[Double], bias: Double,
      loCut: Double, hiCut: Double, left: Int, right: Int)

  /** Route a vector to its leaf set in ONE tree: descend by hyperplane
    * sign, taking BOTH children inside the spill band (gann.c:917-940's
    * multi-probe). Shared by the build (data-side assignment) and the
    * search (query-side probe), so the two sides agree by construction. */
  private[index] def routeLeaves(nodes: Map[Int, Node], v: Array[Double]): Seq[Int] = {
    def go(id: Int): Seq[Int] = nodes.get(id) match {
      case None => Seq(id)
      case Some(n) if n.left < 0 => Seq(n.id)
      case Some(n) =>
        val p = dotd(v, n.w) + n.bias
        if (p <= n.loCut) go(n.left)
        else if (p > n.hiCut) go(n.right)
        else go(n.left) ++ go(n.right)
    }
    go(0)
  }

  /** Route a vector through EVERY tree → (tree, leaf) pairs
    * (gann.c:851-869's per-tree search loop). */
  private[index] def routeForest(trees: IndexedSeq[Map[Int, Node]],
      v: Array[Double]): Seq[(Int, Int)] =
    trees.zipWithIndex.flatMap { case (t, ti) =>
      routeLeaves(t, v).map(l => (ti, l))
    }

  /** Search-time-only widened probe: the natural spill-routed leaves of
    * one tree plus the next-nearest leaves up to `beam` total, found by a
    * best-first traversal ordered by path slack (annoy's `search_k`
    * generalized to the spill band; the reference gets the same recall
    * lever from extra trees, gann.py:201-202). For a split with band
    * [loCut, hiCut] the left child is naturally taken iff p <= hiCut and
    * the right iff p > loCut, so `hiCut - p` / `p - loCut` is the signed
    * slack of each branch; a leaf's priority is the minimum slack along
    * its path and leaves pop in least-violation order. Query-side only —
    * the DATA assignment is untouched, so widening the probe can only
    * grow the candidate set (recall is monotone in `beam`,
    * GannBeamSpec). Deterministic: slack ties break on node id. */
  private[index] def routeLeavesBeam(nodes: Map[Int, Node],
      v: Array[Double], beam: Int): Seq[Int] = {
    val natural = routeLeaves(nodes, v)
    if (beam <= natural.size) return natural
    val seen = natural.toSet
    val slackOrd: Ordering[(Double, Int)] =
      Ordering.by { t: (Double, Int) => (t._1, -t._2) }
    val pq = scala.collection.mutable.PriorityQueue(
      (Double.MaxValue, 0))(slackOrd)
    val extra = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (pq.nonEmpty && natural.size + extra.size < beam) {
      val (slack, id) = pq.dequeue()
      nodes.get(id) match {
        case None => if (!seen(id)) extra += id
        case Some(n) if n.left < 0 => if (!seen(n.id)) extra += n.id
        case Some(n) =>
          val p = dotd(v, n.w) + n.bias
          pq.enqueue((math.min(slack, n.hiCut - p), n.left))
          pq.enqueue((math.min(slack, p - n.loCut), n.right))
      }
    }
    natural ++ extra
  }

  /** Forest probe with a per-tree leaf beam; beam <= 1 is exactly
    * [[routeForest]] (the natural spill set). */
  private[index] def routeForestBeam(trees: IndexedSeq[Map[Int, Node]],
      v: Array[Double], beam: Int): Seq[(Int, Int)] =
    if (beam <= 1) routeForest(trees, v)
    else trees.zipWithIndex.flatMap { case (t, ti) =>
      routeLeavesBeam(t, v, beam).map(l => (ti, l))
    }

  /** Single-tree (id, vec, leaf) with one row per (row, routed leaf) —
    * constant-size plan regardless of tree depth. Build-time only. */
  private def routed(base: DataFrame, nodes: Map[Int, Node],
      idCol: String, vecCol: String): DataFrame = {
    val spark = base.sparkSession
    if (nodes.isEmpty) base.withColumn("leaf", lit(0))
    else {
      val bc = spark.sparkContext.broadcast(nodes)
      val routeUdf = udf { (v: Seq[Double]) => routeLeaves(bc.value, v.toArray) }
      base.withColumn("leaf", explode(routeUdf(col(vecCol))))
    }
  }

  /** Forest assignment: one row per (row, tree, routed leaf). */
  private def routedForest(base: DataFrame, trees: IndexedSeq[Map[Int, Node]],
      idCol: String, vecCol: String): DataFrame = {
    val spark = base.sparkSession
    val bc = spark.sparkContext.broadcast(trees)
    val routeUdf = udf { (v: Seq[Double]) => routeForest(bc.value, v.toArray) }
    base.select(col(idCol), col(vecCol),
        explode(routeUdf(col(vecCol))).as("tl"))
      .select(col(idCol), col(vecCol),
        col("tl._1").as("tree"), col("tl._2").as("leaf"))
  }

  final case class Model(trees: IndexedSeq[Map[Int, Node]],
      leaves: Seq[(Int, Int)], assign: DataFrame,
      idCol: String, vecCol: String, appends: Int = 0,
      metric: String = "l2") {

    /** Single-tree view (forest of 1) — kept for tree-shape inspection. */
    def nodes: Map[Int, Node] = trees.head

    /** Exact-rank top-k (qid, idCol, dist, rnk) over the union of the
      * probed leaves of EVERY tree for a batch of queries (qid, qvec), in
      * one Spark job ([[Search.scan]]): the driver routes each prepped
      * query through the forest ([[routeForestBeam]]) to its (tree, leaf)
      * keys, and the scan scores only those posting lists with the L2
      * fold of IVF-flat's identity codec ([[IvfIndex.Codec]], bit-identical
      * to `VectorF.l2Dist`). With spill > 0 or nTrees > 1 a row can be
      * reached through several probed leaves; the scan's heaps hold each
      * id once, at its smallest distance — the twin of the C kernel's
      * open-addressing candidate set across trees (gann.c:944-993) and its
      * k-sized max-heap (gann.c:498-574).
      *
      * It runs when called and returns a local frame, so the query batch
      * and its k·|queries| rows must fit on the driver; a streaming query
      * frame is rejected (serve a stream through `foreachBatch`). A query
      * whose vector is null or holds a null element gets no rows.
      * `idCol` must be integral (ranked as a long, cast back on output —
      * [[Search.requireIntegralId]]), and so must the qid under
      * `excludeSelf`, which follows the id-domain convention of
      * [[Search.scan]].
      *
      * `beam` > 1 probes up to that many leaves PER TREE (natural spill
      * set first, then next-nearest by path slack — routeLeavesBeam);
      * the data assignment is untouched so the candidate set only
      * grows. beam = 1 is the natural probe.
      *
      * `allowedIds` is the filtered-search contract (Milvus `filter=`,
      * radient/tasks/sinks/milvus.py:122), same semantics as
      * [[IvfIndex.Model.search]] ([[Search.allowedOnly]]): the id frame
      * semi-joins the probed leaves BEFORE the distance fold — pre-filter,
      * so the k returned are the true top-k of the allowed set within
      * probed leaves. */
    def search(queries: DataFrame, qid: String, qvec: String, k: Int,
        excludeSelf: Boolean = true, beam: Int = 1,
        allowedIds: Option[DataFrame] = None): DataFrame =
      Search.scan(queries, qid, qvec, k, metric, excludeSelf, assign, idCol,
          col(vecCol).cast("array<double>"),
          Some(shiftleft(col("tree").cast("long"), 32).bitwiseOR(col("leaf"))),
          allowedIds, IvfIndex.Codec(vecCol)) { v =>
        routeForestBeam(trees, v, beam).map { case (t, l) => ((t.toLong << 32) | l, v) }
      }
  }

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Deterministic driver-side 2-means (Lloyd, farthest-pair init) on a
    * per-node sample. */
  private def twoMeans(xs: Array[Array[Double]], iters: Int = 10): (Array[Double], Array[Double]) = {
    val dim = xs(0).length
    // deterministic init: first point + the point farthest from it
    val c0 = xs(0).clone()
    var far = xs(0); var fd = -1.0
    for (x <- xs) {
      val d = sqDist(x, c0); if (d > fd) { fd = d; far = x }
    }
    var a = c0; var b = far.clone()
    var it = 0
    while (it < iters) {
      val sa = new Array[Double](dim); val sb = new Array[Double](dim)
      var na = 0; var nb = 0
      for (x <- xs) {
        if (sqDist(x, a) <= sqDist(x, b)) { add(sa, x); na += 1 }
        else { add(sb, x); nb += 1 }
      }
      if (na > 0) scale(sa, 1.0 / na) else sa.indices.foreach(i => sa(i) = a(i))
      if (nb > 0) scale(sb, 1.0 / nb) else sb.indices.foreach(i => sb(i) = b(i))
      a = sa; b = sb
      it += 1
    }
    (a, b)
  }

  private def sqDist(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
    s
  }
  private def add(acc: Array[Double], x: Array[Double]): Unit = {
    var i = 0; while (i < x.length) { acc(i) += x(i); i += 1 }
  }
  private def scale(x: Array[Double], f: Double): Unit = {
    var i = 0; while (i < x.length) { x(i) *= f; i += 1 }
  }

  /** Incremental insert — the GANN half of the reference's
    * insert → index lifecycle (gann.py:196-216 insert buffers rows,
    * index() builds): new vectors route through the FROZEN forest with
    * the exact build-side spill routing (routeLeaves, including the
    * both-children spill band), so search and data stay in agreement by
    * construction. Leaf sizes drift past leafSize as data arrives —
    * rebuild when the drift matters, like any frozen-structure ANN
    * index. */
  def insert(model: Model, df: DataFrame): Model = {
    val newAssign = encodeWith(model, df)
    model.copy(
      assign = Compact.append(model.assign, newAssign, model.appends),
      appends = model.appends + 1)
  }

  /** Route a batch through the FROZEN forest into assignment rows with
    * the model's column layout — shared by the in-memory insert and the
    * persisted block append ([[Blocks]]). */
  private def encodeWith(model: Model, df: DataFrame): DataFrame =
    routedForest(
        Search.prepVectors(
          df.select(col(model.idCol),
            col(model.vecCol).cast("array<double>").as(model.vecCol)),
          model.vecCol, model.metric),
        model.trees, model.idCol, model.vecCol)
      .select(model.assign.columns.map(col).toIndexedSeq: _*)

  /** O(batch) persisted insert: route the batch through the frozen
    * forest and append new parquet files under the saved assignment dir
    * — existing blocks are never read or rewritten (see [[Blocks]]). */
  def appendToSaved(model: Model, path: String, df: DataFrame): Unit =
    encodeWith(model, df).write.mode("append")
      .partitionBy("tree", "leaf").parquet(s"$path/assign")

  /** IDEMPOTENT streaming block append (round 12): encode like
    * [[appendToSaved]], but land the block under a batch-keyed
    * subdirectory with OVERWRITE semantics. Structured Streaming's
    * foreachBatch contract is at-least-once — after a restart the first
    * micro-batch may replay — but its batchId is stable across restarts
    * (it comes from the checkpointed offset log), so a replay REPLACES
    * its own directory instead of appending duplicate vectors: the
    * composition is exactly-once end to end. Still O(batch): existing
    * blocks (base assign and other batches) are never read or
    * rewritten.
    *
    * Blocks land UNPARTITIONED — tree/leaf ride as data columns — where
    * the base assignment is (tree, leaf)-partitioned (round 13): a
    * spill-routed batch touches up to |batch|·spillFanout distinct
    * leaves, and a dynamic-partition write of a small block into
    * thousands of leaf dirs is pure task/commit overhead growing with
    * FOREST DEPTH, not batch size — measured 54 s/batch at a 10× base
    * (fan-out ~18 leaves/vector/tree) vs ~1 s at 1×, same batch.
    * Serving reads blocks whole (they are batch-sized until
    * maintenance), and [[Blocks.compactStreamBlocks]] restores the
    * partition-pruned layout when it folds blocks into the base. */
  def appendStreamBlock(model: Model, path: String, df: DataFrame,
      batchId: Long): Unit =
    encodeWith(model, df).write.mode("overwrite")
      .parquet(s"$path/assign_stream/batch=$batchId")

  /** Load the SERVING view of a stream-maintained index: the saved base
    * assignment plus every [[appendStreamBlock]] batch directory, unioned
    * at rest (leaf set recomputed over the union so probes reach inserted
    * leaves the base never populated). With no stream blocks this is
    * exactly [[load]]. */
  def loadServing(spark: SparkSession, path: String, idCol: String,
      vecCol: String): Model = {
    val base = load(spark, path, idCol, vecCol)
    Blocks.streamBlocks(spark, path, base.assign.columns.toIndexedSeq) match {
      case None => base
      case Some(extra) =>
        import spark.implicits._
        val assign = base.assign.unionByName(extra)
        val leaves = assign.select("tree", "leaf").distinct()
          .as[(Int, Int)].collect().toSeq.sorted
        base.copy(assign = assign, leaves = leaves)
    }
  }

  /** Persist the index (GANN.index(path) parity,
    * radient/tasks/sinks/local/gann.py:222-232: .npy dataset +
    * leaves.json → here two parquet tables). The assignment is written
    * PARTITIONED BY (tree, leaf) — at scale a search reads only the
    * probed leaves' partitions (the scan's (tree, leaf) key filter
    * prunes to them), the distributed twin of the C loader's per-leaf
    * files. */
  def save(model: Model, path: String): Unit = {
    val spark = model.assign.sparkSession
    import spark.implicits._
    model.trees.zipWithIndex.flatMap { case (t, ti) =>
      t.values.map(n =>
        (ti, n.id, n.w, n.bias, n.loCut, n.hiCut, n.left, n.right))
    }.toDF("tree", "id", "w", "bias", "lo", "hi", "left", "right")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/nodes")
    Blocks.writeMeta(spark, path, model.metric)
    model.assign
      .write.mode("overwrite").partitionBy("tree", "leaf").parquet(s"$path/assign")
  }

  /** Load a persisted index (GANN.load parity, gann.py:241-250). */
  def load(spark: SparkSession, path: String, idCol: String, vecCol: String): Model = {
    import spark.implicits._
    val byTree = spark.read.parquet(s"$path/nodes").collect().map { r =>
      (r.getInt(0), Node(r.getInt(1), r.getSeq[Double](2).toArray,
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getInt(6), r.getInt(7)))
    }.groupBy(_._1)
    val nTrees = if (byTree.isEmpty) 1 else byTree.keys.max + 1
    val trees = IndexedSeq.tabulate(nTrees)(ti =>
      byTree.getOrElse(ti, Array.empty).map { case (_, n) => n.id -> n }.toMap)
    val assign = spark.read.parquet(s"$path/assign")
    val leaves = assign.select("tree", "leaf").distinct()
      .as[(Int, Int)].collect().toSeq.sorted
    Model(trees, leaves, assign, idCol, vecCol,
      metric = Blocks.readMetric(spark, path))
  }

  /** Build ONE spill tree over the cached base; `t` is the tree seed.
    *
    * Per level the data is scanned exactly TWICE: one combined
    * count+hash-sample aggregate (sampling rates come from the parent
    * level's exact counts — children are estimated at parent·(0.5+spill),
    * so no extra counting pass is needed before sampling), and one
    * projection-percentile aggregate for the split cuts. Only per-node
    * statistics reach the driver. */
  private def buildTree(base: DataFrame, total: Double, t: Int,
      idCol: String, vecCol: String,
      leafSize: Int, spill: Double, sampleSize: Int, maxDepth: Int): Map[Int, Node] = {
    val spark = base.sparkSession
    import spark.implicits._
    var nodes = Map.empty[Int, Node]
    // estimated row count per current leaf, refined to exact each level
    var est = Map(0 -> total)
    var depth = 0
    var done = false
    while (!done && depth < maxDepth) {
      // candidates = leaves whose estimate says they may still need a
      // split (median splits keep children within rounding of the
      // estimate; 0.8 head-room absorbs the drift). Completed leaves are
      // excluded from BOTH the sample and the count — at scale they are
      // most of the data, and sampling them at rate min(1, k/count) = 1
      // would collect the whole dataset to the driver.
      val candidates = est.filter(_._2 > leafSize * 0.8)
      if (candidates.isEmpty) { done = true }
      else {
      val assign = routed(base, nodes, idCol, vecCol)
      // per-candidate sampling rates as a broadcast (leaf, rate) table —
      // an inner join both restricts the pass to candidate leaves and
      // binds the rate with O(1) expression depth (a when-chain would
      // grow the plan linearly in the number of active leaves)
      val ratesDf = broadcast(candidates.toSeq.map { case (n, e) =>
        (n, math.min(1.0, sampleSize * 1.5 / math.max(e, 1.0)))
      }.toDF("leaf", "rate"))
      // the salt carries the TREE seed — different trees sample different
      // rows per node, so their hyperplanes (and hence probe paths)
      // diverge, which is what makes the forest raise recall
      val sampleCond =
        (TextF.h32(concat(lit(s"gann$t#$depth#"), col(idCol).cast("string"))) % 10000)
          .cast("double") < col("rate") * 10000
      val stats = assign.join(ratesDf, Seq("leaf"))
        .groupBy("leaf")
        .agg(count(lit(1)).as("cnt"),
          collect_list(when(sampleCond, struct(col(idCol), col(vecCol)))).as("smp"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Row](2)))
      val counts = stats.map { case (n, c, _) => n -> c }.toMap
      // refine estimates with the exact candidate counts
      est = est ++ counts.view.mapValues(_.toDouble).toMap
      val active = counts.filter(_._2 > leafSize).keys.toSeq.sorted
      if (active.isEmpty) done = true
      else {
        val sampled = stats.map { case (n, _, smp) => n -> smp }.toMap
        val planes = active.flatMap { n =>
          val rows = sampled.getOrElse(n, Seq.empty)
          if (rows.isEmpty) None
          else {
            // per-tree deterministic sample order: varies the 2-means
            // init point between trees without any RNG
            val xs = rows
              .sortBy(r => scala.util.hashing.MurmurHash3.stringHash(s"$t#${r.get(0)}"))
              .take(sampleSize).map(_.getSeq[Double](1).toArray).toArray
            val (c0, c1) = twoMeans(xs)
            val w = c0.indices.map(i => c1(i) - c0(i)).toArray
            val bias = -0.5 * c0.indices.map(i => (c0(i) + c1(i)) * w(i)).sum
            Some((n, w, bias))
          }
        }
        if (planes.isEmpty) done = true
        else {
          // children inherit the parent's exact count scaled by the
          // spill-adjusted halving — good enough to size sampling rates
          est = est -- planes.map(_._1) ++ planes.flatMap { case (n, _, _) =>
            val childEst = counts(n) * (0.5 + spill)
            Seq((2 * n + 1) -> childEst, (2 * n + 2) -> childEst)
          }
          val planeDf = broadcast(planes.toDF("leaf", "w", "bias"))
          val cuts = assign.join(planeDf, Seq("leaf"))
            .withColumn("proj", VectorF.dot(col(vecCol), col("w")) + col("bias"))
            .groupBy("leaf")
            .agg(expr(s"percentile(proj, ${0.5 - spill})").as("lo"),
              expr(s"percentile(proj, ${0.5 + spill})").as("hi"))
            .as[(Int, Double, Double)].collect()
            .map { case (n, lo, hi) => n -> (lo, hi) }.toMap
          nodes = nodes ++ planes.flatMap { case (n, w, bias) =>
            cuts.get(n).map { case (lo, hi) =>
              n -> Node(n, w, bias, lo, hi, 2 * n + 1, 2 * n + 2)
            }
          }
          depth += 1
        }
      }
      }
    }
    nodes
  }

  /** Build the spill forest over (idCol, vecCol). `nTrees` is the
    * reference's recall knob (gann.py:201): trees are built independently
    * with per-tree seeds, and the assignment table holds one copy of the
    * data per (tree, routed leaf) — the same n_trees× memory trade the C
    * engine makes. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      leafSize: Int = 200, spill: Double = 0.0,
      sampleSize: Int = 256, maxDepth: Int = 20, nTrees: Int = 1,
      metric: String = "l2"): Model = {
    require(nTrees >= 1, s"nTrees must be >= 1, got $nTrees")
    Search.checkMetric(metric)
    val spark = df.sparkSession
    import spark.implicits._
    val base = Search.prepVectors(
        df.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol)),
        vecCol, metric)
      .cache()
    val total = base.count().toDouble
    // trees are independent and deterministic given their seed, so they
    // build CONCURRENTLY — each tree is a chain of small driver-coordinated
    // jobs, and running the chains in parallel overlaps their scheduling
    // latency (the C engine's one-pthread-per-tree, gann.c:851-869, made
    // distributed). The count() above has already materialized the cache,
    // so the concurrent first scans hit cached blocks.
    val trees = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(
        Future.sequence((0 until nTrees).map(t => Future(
          buildTree(base, total, t, idCol, vecCol, leafSize, spill,
            sampleSize, maxDepth)))),
        Duration.Inf).toIndexedSeq
    }
    val assign = graft.core.Caches.cached(
      routedForest(base, trees, idCol, vecCol))
    val leaves = assign.select("tree", "leaf").distinct()
      .as[(Int, Int)].collect().toSeq.sorted
    base.unpersist() // assign is materialized by the distinct above
    Model(trees, leaves, assign, idCol, vecCol, metric = metric)
  }
}
