package graft.index

import scala.jdk.CollectionConverters._
import graft.functions.{TopKBuffer, VectorF}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared search-side plumbing for the eight index kinds
  * ([[IndexKinds]]): the one-pass probed scan every kind ranks through
  * ([[scan]]) — GANN over its (tree, leaf) posting lists, and the seven
  * [[Quantized]] core kinds (IVF-flat's identity codec over IVF, and the
  * SQ / PQ / BQ codecs flat and over IVF) over their `cluster` lists or
  * their whole code table — the integral-id rule of every ranking
  * ([[requireIntegralId]]), the pre-filter ([[allowedOnly]]), the
  * exact-rerank stage and the l2/cosine metric prep.
  *
  * Metric semantics (reference: radient's GKMeans supports
  * euclidean/cosine/lp, radient/tasks/sinks/local/_gkmeans.py:125-133,
  * and the Milvus sink's metric_type, tasks/sinks/milvus.py:122):
  * cosine is implemented as L2 over unit-normalized vectors —
  * ||u−v||² = 2·(1−cosθ) on unit vectors, so L2 ranking on the
  * normalized space IS cosine ranking, and every L2 kernel (codegen
  * l2Dist, ADC tables, sign codes) is reused unchanged. Build
  * normalizes the corpus once at encode time; search normalizes the
  * query batch; reported `dist` is the L2 distance in the normalized
  * space (monotone in cosine distance; convert via cos = 1 − dist²/2).
  */
private[index] object Search {

  val Metrics = Set("l2", "cosine")

  def checkMetric(metric: String): Unit =
    require(Metrics.contains(metric),
      s"unsupported metric '$metric' (expected one of ${Metrics.mkString("/")})")

  /** Corpus-side prep: unit-normalize the vector column for cosine,
    * pass through for l2 (the l2 path stays byte-identical to the
    * pre-metric behavior). */
  def prepVectors(df: DataFrame, vecCol: String, metric: String): DataFrame =
    if (metric == "cosine")
      df.withColumn(vecCol,
        VectorF.normalize(col(vecCol).cast("array<double>")))
    else df

  /** [[prepVectors]] of one driver-side vector, with the same arithmetic
    * as `VectorF.normalize`: a sequential fold of squares, its square
    * root, each element divided by it, and the zero vector kept zero. */
  def prepVector(v: Array[Double], metric: String): Array[Double] =
    if (metric != "cosine") v
    else {
      var s = 0.0; var i = 0
      while (i < v.length) { s = s + v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      v.map(x => if (n == 0.0) 0.0 else x / n)
    }

  /** PRE-FILTER semantics for filtered ANN search — the reference's
    * only search kwarg (radient/tasks/sinks/milvus.py:122-127) extended
    * to every index tier (round 14; IVF and GANN grew it in rounds
    * 11-12): semi-join the codes/posting table down to the allowed ids
    * BEFORE the distance fold, so the returned k are the true top-k of
    * the ALLOWED set — never the post-filtered (and arbitrarily short)
    * unfiltered top-k. The semi join ships ids only; selectivity prunes
    * the distance work proportionally. */
  def allowedOnly(table: DataFrame, idCol: String,
      allowedIds: Option[DataFrame]): DataFrame =
    allowedIds.fold(table)(ids =>
      table.join(ids.select(col(idCol)), Seq(idCol), "left_semi"))

  /** Every index ranks ids as longs in [[scan]]'s heaps and casts them
    * back on output: reject an id column that would null out under the
    * cast, and hand back the type to restore. */
  def requireIntegralId(df: DataFrame, idCol: String): DataType = {
    val t = df.schema(idCol).dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType).contains(t),
      s"search requires an integral id column; '$idCol' is ${t.simpleString}. " +
        "Join a dense_rank surrogate key first for string/decimal ids.")
    t
  }

  /** The scalar distance kernel of a [[scan]]: `read` loads one row's
    * stored code (null when the code or any element of it is null: the
    * row is not scored), and `dist` scores it against one prepared query.
    * A NaN distance means none (a length mismatch, an out-of-range
    * code): the pair is skipped. */
  trait Kernel[K, Q] extends Serializable {
    def read(row: InternalRow, ord: Int): K
    def dist(code: K, q: Q): Double
  }

  /** The array at `ord` of a row, or null when it or any element is null. */
  def arrayAt(row: InternalRow, ord: Int): ArrayData =
    if (row.isNullAt(ord)) null
    else {
      val a = row.getArray(ord)
      var i = 0
      while (i < a.numElements() && !a.isNullAt(i)) i += 1
      if (i < a.numElements()) null else a
    }

  /** One prepared query of a probed posting list: its heap slot, the id
    * `excludeSelf` drops (its qid) and its kernel-side form. */
  private final case class Probe[Q](slot: Int, self: Long, q: Q)

  /** Top-k search of every index kind in one Spark job.
    *
    *  1. Driver: collect the query batch, prep each vector
    *     ([[prepVector]]) and `probe` it into (posting-list key, prepared
    *     query) pairs. `key` is the layout's posting-list key, a long
    *     expression over its partition columns only: `cluster` on the IVF
    *     layout, (`tree`, `leaf`) packed into one long on GANN's, none on
    *     a flat layout (every row under key 0).
    *  1. One job over the probed posting lists only (a `key IN (…)`
    *     filter, which prunes the key directories of a saved index,
    *     since it references partition columns alone), after
    *     [[allowedOnly]]: every row is scored by `kernel`
    *     against the queries that probe its list, `excludeSelf` is
    *     applied in the loop, and each query keeps one bounded
    *     [[graft.functions.TopKBuffer]] per partition.
    *  1. Driver: merge the partitions' heaps per query into a local frame
    *     of (qid, idCol cast back to its type, dist, rnk).
    *
    * Every heap, per partition and on the driver, holds each id at most
    * once, at its smallest distance
    * ([[graft.functions.TopKBuffer.insertMin]]): a row reached through
    * several probed lists (GANN's trees and spill band) or stored twice
    * ranks once, at its smallest distance — the top-k of "min distance
    * per id, then (dist, id)".
    *
    * Queries sharing a qid share a heap, as `groupBy(qid)` merged them. A
    * query whose vector is null or holds a null element gets no rows.
    * `excludeSelf` is the id-domain convention of the self-kNN query
    * entries: qid and idCol share the corpus id space, so a query's own
    * row is dropped from its candidates; the qid must then be integral,
    * and a null qid gets no rows. For an EXTERNAL query batch whose qids
    * are unrelated to corpus ids, pass excludeSelf = false — a colliding
    * qid would otherwise silently lose its true nearest neighbor (the
    * reference ranks every candidate and has no such exclusion,
    * gann.c:999-1080). The search runs when called, so the query batch
    * and its k·|queries| result rows must fit on the driver; a streaming
    * query frame is rejected (serve a stream through `foreachBatch`). */
  def scan[K, Q](queries: DataFrame, qid: String, qvec: String, k: Int,
      metric: String, excludeSelf: Boolean, table: DataFrame, idCol: String,
      code: Column, key: Option[Column], allowedIds: Option[DataFrame],
      kernel: Kernel[K, Q])(probe: Array[Double] => Seq[(Long, Q)]): DataFrame = {
    require(!queries.isStreaming,
      "index search takes a batch query frame; serve a stream through foreachBatch")
    val idType = requireIntegralId(table, idCol)
    if (excludeSelf) requireIntegralId(queries, qid)
    val slots = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    val probed = queries.select(col(qid), col(qvec).cast("array<double>"))
      .collect().toSeq.flatMap { r =>
        val v = if (r.isNullAt(1)) Seq(null) else r.getSeq[Any](1)
        if (v.contains(null) || (excludeSelf && r.isNullAt(0))) Nil
        else {
          val slot = slots.getOrElseUpdate(r.get(0), slots.size)
          val self = if (excludeSelf) r.getAs[Number](0).longValue else 0L
          probe(prepVector(v.map(_.asInstanceOf[Double]).toArray, metric))
            .map { case (k, q) => k -> Probe(slot, self, q) }
        }
      }
    val heaps = Array.fill(slots.size)(new TopKBuffer(k))
    if (probed.nonEmpty) {
      val byKey = probed.groupMap(_._1)(_._2).map { case (k, ps) => k -> ps.toArray }
      val nSlots = slots.size
      val keyL = key.map(_.cast("long"))
      val rows = allowedOnly(
        keyL.fold(table)(c => table.filter(c.isin(byKey.keys.toSeq: _*))),
        idCol, allowedIds)
        .select(col(idCol).cast("long"), code, keyL.getOrElse(lit(0L)))
      rows.queryExecution.toRdd.mapPartitions { it =>
        val part = new Array[TopKBuffer](nSlots)
        it.foreach { row =>
          val ps = if (row.isNullAt(0) || row.isNullAt(2)) null
            else byKey.getOrElse(row.getLong(2), null)
          val c = if (ps == null) null.asInstanceOf[K] else kernel.read(row, 1)
          if (c != null) {
            val id = row.getLong(0)
            var i = 0
            while (i < ps.length) {
              val p = ps(i)
              if (!(excludeSelf && p.self == id)) {
                val d = kernel.dist(c, p.q)
                if (!d.isNaN) {
                  if (part(p.slot) == null) part(p.slot) = new TopKBuffer(k)
                  part(p.slot).insertMin(d, id)
                }
              }
              i += 1
            }
          }
        }
        part.iterator.zipWithIndex.collect { case (h, s) if h != null =>
          (s, h.dists.take(h.size), h.ids.take(h.size))
        }
      }.collect().foreach { case (s, ds, ids) =>
        var i = 0
        while (i < ds.length) { heaps(s).insertMin(ds(i), ids(i)); i += 1 }
      }
    }
    val typed: Long => Any = idType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val out = for {
      (q, s) <- slots.toSeq
      ((d, id), r) <- heaps(s).sorted.toSeq.zipWithIndex
    } yield Row(q, typed(id), d, r + 1)
    val qf = queries.schema(qid)
    queries.sparkSession.createDataFrame(out.asJava, StructType(Seq(
      StructField(qid, qf.dataType, qf.nullable),
      StructField(idCol, idType), StructField("dist", DoubleType),
      StructField("rnk", IntegerType, nullable = false))))
  }

  /** Exact re-rank of a (qid, idCol) shortlist against the raw vectors
    * — the second stage of every compressed search (ADC/Hamming
    * shortlist absorbs the scan compression, this stage absorbs the
    * quantization error). Only shortlist·|queries| raw rows are read,
    * via the id equi-join.
    *
    * The two vector columns are aliased to internal names before the
    * joins, so a caller whose query-vector column shares the corpus
    * vector column's name (both "embedding", say) resolves cleanly
    * instead of throwing an ambiguous-reference AnalysisException. */
  def rerank(cand: DataFrame, queries: DataFrame, qid: String, qvec: String,
      k: Int, vectors: DataFrame, idCol: String, vecCol: String,
      idType: DataType, metric: String = "l2"): DataFrame = {
    val w = Window.partitionBy(col(qid)).orderBy(col("dist"), col(idCol))
    val v0 = vectors.select(col(idCol), col(vecCol).as("__graft_v"))
    val q0 = queries.select(col(qid), col(qvec).as("__graft_qv"))
    val v = prepVectors(v0, "__graft_v", metric)
    val q = prepVectors(q0, "__graft_qv", metric)
    cand.select(col(qid), col(idCol))
      .join(v, Seq(idCol))
      .join(q, Seq(qid))
      .select(col(qid), col(idCol),
        VectorF.l2Dist(col("__graft_v"), col("__graft_qv")).as("dist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qid), col(idCol).cast(idType).as(idCol), col("dist"), col("rnk"))
  }
}

/** Driver/executor-side coarse-quantizer scans shared by the IVF family
  * (the [[Quantized]] core's probe + assign-on-encode for IVF-flat,
  * IVF-SQ, IVF-PQ and IVF-BQ; [[IvfIndex]]'s fit scoring): bounded
  * partial selection of the nprobe nearest centroids instead of a full
  * sort, and early-abandon partial distances — O(kCoarse·dim) worst
  * case like the naive scan, but the abandon check skips most of each
  * distance once a bound is known, which is the assign loop every
  * 100 TB build pays at realistic kCoarse (thousands). Results are
  * EXACTLY the naive scan's, including (distance, centroidId)
  * tie-breaking — pinned in CoarseScanSpec.
  */
private[index] object Coarse {

  /** Squared L2 with early abandon: returns the full distance, or any
    * value > bound once the partial sum STRICTLY exceeds `bound`
    * (strict, so equal-distance ties still compare on centroid id
    * exactly like the full sort). */
  private def dist2Bounded(v: Array[Double], c: Array[Double],
      bound: Double): Double = {
    var s = 0.0; var i = 0
    val n = v.length
    while (i < n && s <= bound) {
      val d = v(i) - c(i); s += d * d; i += 1
    }
    s
  }

  /** Position (index into `cents`) of the nearest centroid, ties to the
    * lowest centroid id — identical to
    * `cents.map(d2).sortBy((d, cid)).head`, with early abandon. Assumes
    * `cents` is sorted by centroid id (build emits it that way). */
  def nearest1(v: Array[Double], cents: Array[(Int, Array[Double])]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = dist2Bounded(v, cents(c)._2, bd)
      // strict improvement only: on a tie the earlier (lower-id) stays
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Positions of the `np` nearest centroids ordered by (distance, id)
    * — identical to `cents.map(d2).sortBy((d, cid)).take(np)`, via
    * bounded insertion into an np-sized window with early abandon
    * against the current worst. */
  def nearestK(v: Array[Double], cents: Array[(Int, Array[Double])],
      np: Int): Array[Int] = {
    val m = math.min(np, cents.length)
    if (m <= 0) return Array.empty
    val pos = new Array[Int](m)
    val ds = new Array[Double](m)
    var filled = 0
    var c = 0
    while (c < cents.length) {
      val bound = if (filled < m) Double.MaxValue else ds(m - 1)
      val d = dist2Bounded(v, cents(c)._2, bound)
      // admit if the window is open, or (d, id) beats the current worst;
      // equal distance to the worst loses — the incoming id is larger
      // (cents is id-sorted), matching the full sort's tie order
      if (filled < m || d < ds(m - 1)) {
        var i = math.min(filled, m - 1)
        while (i > 0 && ds(i - 1) > d) {
          ds(i) = ds(i - 1); pos(i) = pos(i - 1); i -= 1
        }
        ds(i) = d; pos(i) = c
        if (filled < m) filled += 1
      }
      c += 1
    }
    pos
  }
}
