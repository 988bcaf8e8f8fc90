package graft.index

import graft.functions.VectorF
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: seeded k-means++ coarse quantizer →
  * cluster-partitioned posting lists → nprobe-nearest-centroid probe →
  * exact re-rank inside the probed clusters.
  *
  * This is the scale path for similarity search (SURVEY.md §4.3): the
  * posting-list table is partitioned by `cluster`, so a probe reads
  * nprobe/k of the data; the centroid table is tiny, and the probe runs
  * on the driver. The brute-force path (VectorSearch.q_knn_*) is the
  * recall oracle.
  *
  * IVF-flat is the [[Quantized]] core over the identity [[Codec]]:
  * search, encode, insert, append, save and load are the core's. This
  * object keeps the coarse fit ([[fitCoarse]]) the whole IVF family
  * shares, and the verbs of a stream-maintained IVF-flat index. */
object IvfIndex {

  final case class Model(centroids: Array[(Int, Array[Double])],
      assign: DataFrame, idCol: String, vecCol: String,
      appends: Int = 0, metric: String = "l2")
      extends Quantized.Indexed[Model] {

    def codes: DataFrame = assign
    private[index] def core = new Quantized.Core(Codec(vecCol),
      Some(centroids), assign, idCol, metric)
    private[index] def withCodes(codes: DataFrame, appends: Int) =
      copy(assign = codes, appends = appends)

    /** Batch search: probe the `nprobe` nearest clusters per query and
      * rank their posting lists exactly, by the L2Distance fold, into the
      * top-k rows (qid, idCol, dist, rnk) — one Spark job over the probed
      * lists ([[Search.scan]]). It runs when called and returns a local
      * frame, so the query batch and its k·|queries| rows must fit on the
      * driver; a streaming query frame is rejected. `idCol` must be
      * integral (ranked as a long, cast back on output — see
      * [[Search.requireIntegralId]]). `excludeSelf` follows the id-domain
      * convention in [[Search.scan]].
      *
      * `allowedIds` is the filtered-search contract (the reference's
      * Milvus `filter=` search kwarg, radient/tasks/sinks/milvus.py:122):
      * an id frame semi-joined onto the posting lists BEFORE the
      * distance fold, so the returned k are the true top-k of the
      * ALLOWED set within the probed clusters — pre-filter semantics,
      * never the post-filtered (and arbitrarily short) unfiltered
      * top-k. The semi join may cost the search one more job. */
    def search(queries: DataFrame, qid: String, qvec: String,
        k: Int, nprobe: Int, excludeSelf: Boolean = true,
        allowedIds: Option[DataFrame] = None): DataFrame =
      core.search(queries, qid, qvec, k, nprobe, excludeSelf, allowedIds)
  }

  /** The identity codec: the code is the metric-prepped vector under its
    * own column name (`codeCol` is the vector column) and input type;
    * no params. The kernel is √Σ(qᵢ − vᵢ)² over the raw vectors, the
    * same sequential fold as the codegen'd
    * [[graft.functions.L2Distance]], so distances are bit-identical to
    * `VectorF.l2Dist`. */
  private[index] final case class Codec(codeCol: String)
      extends Quantized.Codec[Seq[Double], Array[Double], Array[Double]] {
    override def raw = true
    def encode(v: IndexedSeq[Double]): Seq[Double] = v
    def query(v: IndexedSeq[Double]): Array[Double] = v.toArray
    def read(row: InternalRow, ord: Int): Array[Double] = {
      val a = Search.arrayAt(row, ord)
      if (a == null) null else a.toDoubleArray()
    }
    def dist(v: Array[Double], q: Array[Double]): Double =
      if (v.length != q.length) Double.NaN
      else {
        var s = 0.0; var i = 0
        while (i < v.length) { s = s + (q(i) - v(i)) * (q(i) - v(i)); i += 1 }
        math.sqrt(s)
      }
    def write(spark: SparkSession, path: String): Unit = ()
  }

  /** Incremental insert — the streaming-ingest half of the reference's
    * insert → index → search lifecycle (tasks/sinks/milvus.py:83 insert,
    * gann.py:196 insert-then-index): new vectors are assigned to the
    * FROZEN centroids (one broadcast-probe pass, no retrain — the coarse
    * quantizer is fit statistics, not per-row state) and appended to the
    * posting lists. Cluster balance drifts only as far as the data
    * does; rebuild when it matters. */
  def insert(model: Model, df: DataFrame): Model =
    model.inserted(df, model.vecCol)

  /** Deterministic, storage-order-INDEPENDENT fit sample: the first n
    * rows in xxhash64(id) order — a spread sample at TakeOrdered cost
    * (orderBy+limit never materializes a full sort), where a bare
    * `.limit(n)` takes whole partitions in storage order and trains the
    * quantizer on however the corpus happens to be laid out (e.g. one
    * shard of a time-partitioned 100 TB table). Shared by the coarse fit
    * and every codec fit; storage-order independence is pinned in
    * FitSampleSpec. */
  private[index] def hashSample(df: DataFrame, idCol: String, vec: Column,
      n: Int): Array[Array[Double]] =
    df.select(vec.as("_v"), col(idCol).as("_id"))
      .orderBy(xxhash64(col("_id").cast("string")), col("_id"))
      .limit(n)
      .collect().map(_.getSeq[Double](0).toArray)

  /** Persist centroids + cluster-partitioned posting lists (the IVF twin
    * of GannIndex.save — probes prune to nprobe partitions). */
  def save(model: Model, path: String): Unit = model.core.save(path)

  def load(spark: SparkSession, path: String, idCol: String, vecCol: String): Model =
    Model(Quantized.readCentroids(spark, path), spark.read.parquet(s"$path/assign"),
      idCol, vecCol, metric = Blocks.readMetric(spark, path))

  /** O(batch) persisted insert: encode the batch against the FROZEN
    * centroids and append it as new parquet files under the saved
    * index's assignment dir — no read, union, or rewrite of the
    * existing blocks (the distributed twin of the reference's flat
    * in-memory append, gann.py:216-220; contrast [[insert]] +
    * [[Compact.append]], whose per-insert materialization is O(corpus)).
    * Reload with [[load]] to search the grown index. */
  def appendToSaved(model: Model, path: String, df: DataFrame): Unit =
    model.core.appendToSaved(path, df, model.vecCol)

  /** IDEMPOTENT streaming block append — the IVF twin of
    * [[GannIndex.appendStreamBlock]]: the batch lands under a
    * batch-keyed directory with overwrite semantics, so foreachBatch's
    * at-least-once replays replace their own block (batchId is stable
    * across restarts via the checkpointed offset log). Unpartitioned
    * like the GANN block (cluster rides as a data column): with a
    * production √n coarse book a batch touches up to |batch| distinct
    * clusters, and the dynamic-partition commit of a small block into
    * that many dirs is overhead compaction exists to avoid — blocks are
    * batch-sized until [[graft.index.Blocks.compactStreamBlocks]] folds
    * them into the cluster-partitioned base. */
  def appendStreamBlock(model: Model, path: String, df: DataFrame,
      batchId: Long): Unit =
    model.core.encodeWith(df, model.vecCol).write.mode("overwrite")
      .parquet(s"$path/assign_stream/batch=$batchId")

  /** Serving view of a stream-maintained IVF index: base posting lists
    * plus every [[appendStreamBlock]] batch, unioned at rest. */
  def loadServing(spark: SparkSession, path: String, idCol: String,
      vecCol: String): Model = {
    val base = load(spark, path, idCol, vecCol)
    Blocks.streamBlocks(spark, path, base.assign.columns) match {
      case Some(extra) => base.copy(assign = base.assign.unionByName(extra))
      case None => base
    }
  }

  /** Quantizer-DRIFT monitor for a stream-maintained IVF index: mean
    * distance to the assigned centroid, RESIDENT base vs STREAMED
    * blocks. Streamed rows are encoded by the FROZEN coarse quantizer,
    * so when the ingest distribution drifts the streamed rows land in
    * progressively worse-fitting clusters — this pair is the early
    * signal (streamed/resident ratio grows with drift magnitude long
    * before recall visibly decays; the measured curve is in SCALE.md's
    * ivf_drift row). One aggregate per side over the at-rest layout, no
    * search required. `streamed` is NaN when no stream blocks exist
    * (nothing has arrived — no drift to measure). */
  def servingDrift(spark: SparkSession, path: String,
      vecCol: String): (Double, Double) = {
    val cents = spark.read.parquet(s"$path/centroids")
    def meanDist(df: DataFrame): Double = {
      val r = df.join(broadcast(cents), Seq("cluster"))
        .agg(avg(VectorF.l2Dist(col(vecCol).cast("array<double>"),
          col("centroid"))))
        .head()
      if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
    }
    val resident = meanDist(spark.read.parquet(s"$path/assign"))
    val streamRoot = new org.apache.hadoop.fs.Path(s"$path/assign_stream")
    val fs = streamRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val streamed =
      if (!fs.exists(streamRoot)) Double.NaN
      else meanDist(spark.read.parquet(streamRoot.toString))
    (resident, streamed)
  }

  /** REFIT-AND-RE-ENCODE compaction — the maintenance verb that closes
    * the frozen-quantizer drift loop ([[servingDrift]] is the monitor,
    * this is the actuator): refit the coarse quantizer on the FULL
    * serving union (base ∪ streamed blocks), re-encode every row
    * against the fresh centroids, and swap the layout atomically —
    * centroids and cluster-partitioned assignment replaced, stream
    * blocks folded in and dropped. After the swap the streamed rows are
    * first-class residents of a quantizer that has seen them, restoring
    * the recall the frozen encode bleeds under distribution shift
    * (measured recovery in SCALE.md's ivf_drift row; IvfRefitSpec pins
    * layout + row preservation + post-refit drift collapse).
    *
    * Contract (same maintenance window as
    * [[Blocks.compactStreamBlocks]], which this subsumes): run ONLY
    * while the maintenance stream is stopped AND its checkpoint fully
    * committed — folded batch-idempotence dirs are gone afterwards, so
    * a replaying stream would re-append. The swap is write-staging then
    * delete-and-rename; on a real deployment the rename is a
    * table-format manifest commit, and the `refit_stage` dir survives a
    * crash for manual recovery. Cost: one bounded driver-side fit
    * sample + one full re-encode scan + one partitioned rewrite — the
    * same order as a plain compaction, which is why the refit rides the
    * compaction window instead of earning a separate one. */
  def refitCompact(spark: SparkSession, path: String, idCol: String,
      vecCol: String, seed: Long = 42L, fitSample: Int = 100000,
      balance: Boolean = false): Model = {
    val serving = loadServing(spark, path, idCol, vecCol)
    val k = math.max(serving.centroids.length, 1)
    val fresh = build(serving.assign.select(col(idCol), col(vecCol)),
      idCol, vecCol, k = k, seed = seed, fitSample = fitSample,
      balance = balance, metric = serving.metric)
    val staging = s"$path/refit_stage"
    // materializes the re-encoded union INTO staging before anything
    // live is deleted — the read side of this write still points at the
    // live dirs
    save(fresh, staging)
    fresh.assign.unpersist(false)
    val conf = spark.sparkContext.hadoopConfiguration
    def pth(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = pth(path).getFileSystem(conf)
    fs.delete(pth(s"$path/assign"), true)
    fs.delete(pth(s"$path/centroids"), true)
    fs.delete(pth(s"$path/assign_stream"), true)
    fs.rename(pth(s"$staging/assign"), pth(s"$path/assign"))
    fs.rename(pth(s"$staging/centroids"), pth(s"$path/centroids"))
    fs.delete(pth(staging), true)
    load(spark, path, idCol, vecCol)
  }

  /** Balance-aware Lloyd on the (driver-side) sample — the deterministic
    * twin of the reference's GKMeans size-decay objective
    * (radient/tasks/sinks/local/_gkmeans.py:165-175: loss =
    * Σ assigned d² + size_decay·Σ_c (size_c − n/k)², optimized there by
    * Adam on a soft assignment). Here each iteration assigns points
    * GREEDILY in a fixed order using the marginal cost of the same
    * objective — d² + decay·(2(size_c − n/k) + 1) — then recenters;
    * sequential and seeded, so the fit is reproducible bit-for-bit.
    * Returns size-penalized centroids; the full-table assignment stays
    * nearest-centroid (hard), exactly like the reference's
    * predict-after-fit. */
  private[index] def balancedLloyd(pts: Array[Array[Double]], k: Int,
      iters: Int, seed: Long, sizeDecay: Double): Array[Array[Double]] = {
    val dim = pts(0).length
    val mu = pts.length.toDouble / k
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(pts.indices.toVector).take(math.min(k, pts.length))
    var cents = init.map(i => pts(i).clone()).toArray
    var it = 0
    while (it < iters) {
      val sizes = new Array[Double](cents.length)
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnts = new Array[Long](cents.length)
      pts.foreach { p =>
        var best = 0; var bc = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var d2 = 0.0; var j = 0
          while (j < dim) { val d = p(j) - cents(c)(j); d2 += d * d; j += 1 }
          val cost = d2 + sizeDecay * (2.0 * (sizes(c) - mu) + 1.0)
          if (cost < bc) { bc = cost; best = c }
          c += 1
        }
        sizes(best) += 1.0
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (cnts(c) == 0) cents(c) else sums(c).map(_ / cnts(c))
      }.toArray
      it += 1
    }
    cents
  }

  /** Seeded k-means++ init over the driver-side sample: D²-weighted
    * sequential sampling — deterministic given the canonical
    * hash-ordered sample, and (unlike MLlib's k-means||, whose
    * per-partition aggregation makes the init depend on the session's
    * parallelism) bit-identical at any partition count. */
  private[index] def kppInit(pts: Array[Array[Double]], k: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, pts.length)
    val cents = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    cents += pts(rnd.nextInt(pts.length)).clone()
    val d2 = Array.fill(pts.length)(Double.MaxValue)
    while (cents.length < kk) {
      val c = cents.last
      var i = 0
      while (i < pts.length) {
        val p = pts(i)
        var s = 0.0; var j = 0
        while (j < p.length) { val d = p(j) - c(j); s += d * d; j += 1 }
        if (s < d2(i)) d2(i) = s
        i += 1
      }
      val tot = d2.sum
      if (tot <= 0) cents += pts(rnd.nextInt(pts.length)).clone()
      else {
        var r = rnd.nextDouble() * tot
        var idx = 0
        while (idx < pts.length - 1 && r > d2(idx)) { r -= d2(idx); idx += 1 }
        cents += pts(idx).clone()
      }
    }
    cents.toArray
  }

  /** Plain Lloyd on the driver-side sample from a given init —
    * sequential, so the fit is reproducible bit-for-bit. */
  private[index] def lloyd(pts: Array[Array[Double]],
      init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    var cents = init
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnts = new Array[Long](cents.length)
      pts.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var s = 0.0; var j = 0
          while (j < dim) { val d = p(j) - cents(c)(j); s += d * d; j += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (cnts(c) == 0) cents(c) else sums(c).map(_ / cnts(c))
      }.toArray
      it += 1
    }
    cents
  }

  /** Recall-relevant fit score for multi-start selection: over a bounded
    * pseudo-query subset of the sample, the fraction of each query's
    * exact top-10 neighbours (within a bounded candidate subset) that
    * fall inside the query's `nprobe` nearest clusters — i.e. the
    * sample-level estimate of exactly the number IVF probe recall
    * measures. Quantization error (Σ min-d²) is the WRONG criterion
    * here: fits with near-identical error differ by 5-10 recall points
    * depending on how neighbourhoods straddle cluster boundaries, and
    * minimizing error picks among them blindly. Deterministic
    * (hash-ordered sample prefixes, sequential arithmetic).
    *
    * `neighbours` is [[probeNeighbours]] of the same sample: the exact
    * top-10 sets depend only on the sample, so a multi-start fit
    * computes them once and each start pays only the nearest-centroid
    * assignment of the candidates and each query's nprobe selection. */
  private[index] def probeScore(sample: Array[Array[Double]],
      neighbours: Array[Array[Int]], cents: Array[Array[Double]],
      nprobe: Int): Double = {
    val book = cents.zipWithIndex.map(_.swap)
    val assign = Array.tabulate(math.min(ProbeCandidates, sample.length))(
      i => Coarse.nearest1(sample(i), book))
    val hit = neighbours.indices.map { qi =>
      val probed = Coarse.nearestK(sample(qi), book, nprobe)
      neighbours(qi).count(j => probed.contains(assign(j)))
    }.sum
    val tot = neighbours.map(_.length).sum
    if (tot == 0) 1.0 else hit.toDouble / tot
  }

  /** Pseudo-queries and candidate rows of [[probeScore]]: the first 200
    * and the first 2000 sample rows. */
  private val ProbeQueries = 200
  private val ProbeCandidates = 2000

  /** Each [[probeScore]] pseudo-query's exact top-10 neighbours among
    * the candidate rows (itself excluded), ordered by (distance, row) —
    * the prefix a stable sort by distance yields. One bounded-insertion
    * scan per query ([[Coarse.nearestK]]), computed once per fit and
    * shared by every start. The scan keeps 11: the query itself is
    * among them unless 11 lower rows tie it at distance 0, and either
    * way dropping it leaves the right 10. */
  private[index] def probeNeighbours(
      sample: Array[Array[Double]]): Array[Array[Int]] = {
    val cand = sample.take(ProbeCandidates).zipWithIndex.map(_.swap)
    Array.tabulate(math.min(ProbeQueries, sample.length))(qi =>
      Coarse.nearestK(sample(qi), cand, 11).filter(_ != qi).take(10))
  }

  /** Train the coarse quantizer (seeded → deterministic) over the
    * metric-prepped vectors: the `k` centroids of the IVF layer, id
    * order, or none on an empty input. The quantizer fits DRIVER-SIDE on
    * a bounded sample (`fitSample` rows; ≤100k × dim doubles ≈ tens of
    * MB) — at 100 TB the centroids converge on a fraction of the data
    * (the reference's VC-bound subsampling idea,
    * radient/tasks/sinks/local/_gkmeans.py:26-36); the full table is only
    * touched by the core's single distributed encode pass. The fit is
    * 8 seeded multi-starts of k-means++ + 12 Lloyd rounds over the
    * hash-ordered sample (probe-recall-selected):
    * bit-deterministic AND partition-count independent, where the MLlib
    * KMeans it replaces gave a different quantizer (and a different
    * measured recall, 0.716 vs 0.825 at sf0.1) depending on `local[N]`.
    * A coarse quantizer doesn't need a converged clustering — it needs
    * roughly-even posting lists (recall floor pinned in AnnRecallSpec;
    * the exact re-rank inside probed clusters absorbs centroid noise).
    * With `balance = true` the quantizer is the GKMeans-parity
    * size-penalized fit ([[balancedLloyd]]) instead. */
  private[index] def fitCoarse(df: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long, fitSample: Int = 100000, balance: Boolean = false,
      sizeDecay: Double = 1.0): Quantized.Centroids = {
    val sample = hashSample(df, idCol,
      col(vecCol).cast("array<double>"), fitSample)
    if (sample.isEmpty) return Array.empty
    val cents =
      if (balance) {
        // multi-start over a few init seeds, keep the fit with the lowest
        // quantization error (Σ min-d² over the sample — the part of the
        // GKMeans objective that drives recall; balance is enforced
        // inside each fit's greedy assignment). Deterministic,
        // sample-order independent given the canonical hash-ordered
        // sample, and the fit runs on a bounded driver-side sample so 3x
        // cost is trivial.
        Seq(seed, seed + 1, seed + 2).map { s0 =>
          val c = balancedLloyd(sample, k, iters = 8, seed = s0,
            sizeDecay = sizeDecay)
          val err = sample.map { p =>
            c.map { cc =>
              var s = 0.0; var j = 0
              while (j < p.length) { val d = p(j) - cc(j); s += d * d; j += 1 }
              s
            }.min
          }.sum
          (err, c)
        }.minBy(_._1)._2
      } else {
        // Multi-start k-means++ + Lloyd, keep the fit with the HIGHEST
        // probe-recall score ([[probeScore]] at 3k/8-width probes — the
        // criterion the index is actually graded on; see its scaladoc
        // for why quantization error picks wrong). The whole fit is
        // driver-side arithmetic over the bounded sample, no
        // per-iteration Spark job. Scoring the 8 starts cost 4-6 s when
        // each start re-sorted its queries' candidates by recomputed
        // distances; with the neighbour lists computed once it costs
        // ~0.05 s, leaving the 8 k-means++ + Lloyd fits: ~0.2 s at 2000
        // 64-d rows, 6-13 s at the 100k cap (k = 8-16; one core of a
        // 4-vCPU VM). Seeded k-means++ init: plain random init dropped
        // recall@10 below the 0.7 floor (0.635) on the embeddings table;
        // D²-weighted seeding restores the spread. Ties broken by seed
        // order → deterministic.
        val selNp = math.max(1, (3 * k) / 8)
        val neighbours = probeNeighbours(sample)
        (seed to seed + 7).map { s0 =>
          val c = lloyd(sample, kppInit(sample, k, s0), iters = 12)
          (probeScore(sample, neighbours, c, selNp), c)
        }.maxBy(_._1)._2
      }
    cents.zipWithIndex.map { case (c, i) => (i, c) }
  }

  /** IVF-flat: fit the coarse quantizer ([[fitCoarse]]), then encode
    * every vector to its nearest centroid's posting list in the core's
    * one pass — the posting table, cached (tracked), is the one frame
    * the build caches (build-once / search-many; at 100 TB the same
    * role is played by save()'s cluster-partitioned parquet layout). An
    * empty input gives an empty, searchable model. */
  def build(df0: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, seed: Long = 42L, fitSample: Int = 100000,
      balance: Boolean = false, sizeDecay: Double = 1.0,
      metric: String = "l2"): Model = {
    Search.checkMetric(metric)
    val df = Search.prepVectors(df0, vecCol, metric)
    val cents = fitCoarse(df, idCol, vecCol, k, seed, fitSample, balance,
      sizeDecay)
    Model(cents, new Quantized.Rows(df, idCol, vecCol, Some(cents))
      .codes(Codec(vecCol)), idCol, vecCol, metric = metric)
  }
}
