package graft.index

import scala.collection.immutable.ArraySeq
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The quantized-index core: a fine-quantizer [[Quantized.Codec]] over
  * an optional IVF coarse layer. Seven index objects are its instances —
  * [[BqIndex]], [[SqIndex]], [[PqIndex]] (flat); [[IvfBq]], [[IvfSq]],
  * [[IvfPq]] (coarse layer on, codes of the residual
  * `x − centroid(cluster)`); and [[IvfIndex]], IVF-flat (coarse layer
  * on, the identity codec) — the parameterized IVF_FLAT / IVF_SQ8 /
  * IVF_PQ family of the reference's Milvus sink
  * (radient/tasks/sinks/milvus.py:83-122). Each object keeps only its
  * fit step; search, rerank, encode, insert, append, save and load are
  * written once here.
  *
  * | codec    | bits/dim | vs float32       | code column                       | param dir     |
  * |----------|----------|------------------|-----------------------------------|---------------|
  * | identity | 32 or 64 | 1x               | the raw vector, in `assign/`      | none          |
  * | SQ8      | 8        | 4x               | `sig` binary, a byte per dim      | `grid/`       |
  * | PQ       | 8·m/dim  | 32x at 64-d, m=8 | `codes` array<int>, m codes       | `codebooks/`  |
  * | BQ       | 1        | 32x              | `sig` array<long>, ⌈dim/64⌉ words | `thresholds/` |
  *
  * The identity codec stores the metric-prepped vector itself under the
  * vector column's name and input type, takes no residual and ranks
  * exactly, so IVF-flat has no rerank. IVF-BQ persists no thresholds:
  * its residuals are centred, so they are all 0. Every saved index also
  * has `meta/` (the metric, [[Blocks]]) and its code dir (`codes/`, or
  * `assign/` for the identity codec); the IVF kinds add `centroids/`
  * and partition the code dir by `cluster`, so a probe reads nprobe of
  * the posting lists.
  *
  * Search prepares each query once on the driver (identity and SQ: the
  * raw vector; BQ: its sign code; PQ: its ADC distance table — per
  * probed cluster, from the query's residual, on the compressed IVF
  * kinds), then scores only the probed posting lists in one Spark job
  * with the codec's scalar kernel and one bounded heap per query per
  * partition, and merges the heaps on the driver into a local frame
  * ([[Search.scan]]); `searchRerank` re-ranks that shortlist exactly
  * against the raw vectors by id equi-join ([[Search.rerank]]). The IVF
  * probe and assign-on-encode are the [[Coarse]] scans. Fits are
  * driver-side over a deterministic spread sample
  * ([[IvfIndex.hashSample]]) — on the IVF layout the coarse fit
  * ([[IvfIndex.fitCoarse]]) comes first — and the full table is touched
  * by one distributed encode pass, whose codes are the one frame a
  * build caches; inserts encode against the FROZEN fit. */
object Quantized {

  type Centroids = Array[(Int, Array[Double])]

  /** A fine quantizer: its fitted params, the per-vector encode into a
    * `C` code, the driver-side query prep into a `Q`, and the scalar
    * distance kernel between a stored code (read as a `K`) and a `Q`
    * ([[Search.Kernel]]). Shipped to executors whole. */
  private[index] abstract class Codec[C, K, Q] extends Search.Kernel[K, Q] {
    def codeCol: String
    def encode(v: IndexedSeq[Double]): C
    def query(v: IndexedSeq[Double]): Q
    /** Persist the fitted params under `path`. */
    def write(spark: SparkSession, path: String): Unit
    /** The identity codec ([[IvfIndex.Codec]]): the stored code is the
      * prepped vector column itself, at its input type, in `assign/`;
      * queries and codes take no residual, and the ranking is exact. */
    def raw: Boolean = false
  }

  /** One-file overwrite of a small param table. */
  private[index] def writeTable(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  private def residual(v: Array[Double], cent: Array[Double]): IndexedSeq[Double] =
    ArraySeq.unsafeWrapArray(Array.tabulate(v.length)(i => v(i) - cent(i)))

  private def encodeUdf[C: TypeTag, K, Q](spark: SparkSession,
      codec: Codec[C, K, Q]) = {
    val bc = spark.sparkContext.broadcast(codec)
    udf { (v: Seq[Double]) => bc.value.encode(v.toIndexedSeq) }
  }

  /** Search, encode and persistence of one model, for either layout. */
  private[index] final class Core[C: TypeTag, K, Q](codec: Codec[C, K, Q],
      coarse: Option[Centroids], codes: DataFrame, idCol: String,
      metric: String) {

    /** The saved code dir. */
    def codesDir: String = if (codec.raw) "assign" else "codes"

    /** Top-k by the codec distance over the codes (coarse stage), only
      * the probed clusters' posting lists on the IVF layout, in one Spark
      * job ([[Search.scan]]). Each query is prepared once per probed
      * cluster — from its residual on the IVF layout, where
      * Coarse.nearestK partial-selects the probes. `allowedIds` is the
      * pre-filter contract ([[Search.allowedOnly]]): the semi join
      * composes with the cluster pruning. Runs when called; the result
      * is a local frame. */
    def search(queries: DataFrame, qid: String, qvec: String, k: Int,
        nprobe: Int, excludeSelf: Boolean,
        allowedIds: Option[DataFrame]): DataFrame = {
      val code =
        if (codec.raw) col(codec.codeCol).cast("array<double>") else col(codec.codeCol)
      Search.scan(queries, qid, qvec, k, metric, excludeSelf, codes, idCol,
          code, coarse.map(_ => col("cluster")), allowedIds, codec) { v =>
        coarse match {
          case None => Seq((0L, codec.query(ArraySeq.unsafeWrapArray(v))))
          case Some(cents) => Coarse.nearestK(v, cents, nprobe).toSeq.map { p =>
            val (cid, cent) = cents(p)
            (cid.toLong, codec.query(
              if (codec.raw) ArraySeq.unsafeWrapArray(v) else residual(v, cent)))
          }
        }
      }
    }

    /** Shortlist of `shortlist` by [[search]], then exact rerank against
      * the raw (idCol, vecCol) vectors — only shortlist·|queries| of them
      * are read. The allowed-id filter applies at the shortlist stage.
      * The identity codec ranks exactly, so its search is its rerank. */
    def searchRerank(queries: DataFrame, qid: String, qvec: String, k: Int,
        nprobe: Int, shortlist: Int, vectors: DataFrame, vecCol: String,
        excludeSelf: Boolean, allowedIds: Option[DataFrame]): DataFrame =
      if (codec.raw) search(queries, qid, qvec, k, nprobe, excludeSelf, allowedIds)
      else {
        val idType = Search.requireIntegralId(codes, idCol)
        val cand = search(queries, qid, qvec, shortlist, nprobe, excludeSelf,
          allowedIds)
        Search.rerank(cand, queries, qid, qvec, k, vectors, idCol, vecCol,
          idType, metric)
      }

    /** Encode a batch against the FROZEN fit into code rows with the
      * model's column layout — shared by the in-memory insert and the
      * persisted block append. */
    def encodeWith(df: DataFrame, vecCol: String): DataFrame =
      new Rows(Search.prepVectors(df.select(col(idCol), col(vecCol)), vecCol,
        metric), idCol, vecCol, coarse).encode(codec)
        .select(codes.columns.map(col).toIndexedSeq: _*)

    /** O(batch) persisted insert: new parquet files under the saved codes
      * dir — existing blocks are never read or rewritten ([[Blocks]]). */
    def appendToSaved(path: String, df: DataFrame, vecCol: String): Unit =
      writeCodes(encodeWith(df, vecCol), "append", path)

    def save(path: String): Unit = {
      val spark = codes.sparkSession
      import spark.implicits._
      coarse.foreach(cs => writeTable(
        cs.toSeq.map { case (cid, c) => (cid, c.toSeq) }.toDF("cluster", "centroid"),
        s"$path/centroids"))
      codec.write(spark, path)
      Blocks.writeMeta(spark, path, metric)
      writeCodes(codes, "overwrite", path)
    }

    /** The code dir, partitioned by cluster on the IVF layout. */
    private def writeCodes(df: DataFrame, mode: String, path: String): Unit = {
      val w = df.write.mode(mode)
      (if (coarse.isEmpty) w else w.partitionBy("cluster")).parquet(s"$path/$codesDir")
    }
  }

  /** What the core needs of a model: its codes, insert count and core. */
  trait Indexed[M] {
    def codes: DataFrame
    def appends: Int
    private[index] def core: Core[_, _, _]
    private[index] def withCodes(codes: DataFrame, appends: Int): M

    /** Incremental insert against the FROZEN fit: encode the batch and
      * append it through [[Compact.append]]. */
    private[index] def inserted(df: DataFrame, vecCol: String): M =
      withCodes(Compact.append(codes, core.encodeWith(df, vecCol), appends),
        appends + 1)
  }

  /** Search verbs of a flat (no coarse layer) model. */
  trait Flat[M] extends Indexed[M] {
    def search(queries: DataFrame, qid: String, qvec: String, k: Int,
        excludeSelf: Boolean = true,
        allowedIds: Option[DataFrame] = None): DataFrame =
      core.search(queries, qid, qvec, k, 0, excludeSelf, allowedIds)

    def searchRerank(queries: DataFrame, qid: String, qvec: String, k: Int,
        shortlist: Int, vectors: DataFrame, vecCol: String,
        excludeSelf: Boolean = true,
        allowedIds: Option[DataFrame] = None): DataFrame =
      core.searchRerank(queries, qid, qvec, k, 0, shortlist, vectors, vecCol,
        excludeSelf, allowedIds)
  }

  /** Search verbs of an IVF model: probe the `nprobe` nearest clusters. */
  trait Ivf[M] extends Indexed[M] {
    def coarse: Centroids

    def search(queries: DataFrame, qid: String, qvec: String,
        k: Int, nprobe: Int, excludeSelf: Boolean = true,
        allowedIds: Option[DataFrame] = None): DataFrame =
      core.search(queries, qid, qvec, k, nprobe, excludeSelf, allowedIds)

    def searchRerank(queries: DataFrame, qid: String, qvec: String, k: Int,
        nprobe: Int, shortlist: Int, vectors: DataFrame, vecCol: String,
        excludeSelf: Boolean = true,
        allowedIds: Option[DataFrame] = None): DataFrame =
      core.searchRerank(queries, qid, qvec, k, nprobe, shortlist, vectors,
        vecCol, excludeSelf, allowedIds)
  }

  /** The insert and persistence verbs of an index object; the object
    * supplies its `Model` and how a saved one is restored. */
  abstract class Family {
    type Model <: Indexed[Model]

    /** The model of the index saved at `path`, given its codes and metric. */
    protected def restore(spark: SparkSession, path: String, codes: DataFrame,
        idCol: String, metric: String): Model

    /** Incremental insert against the FROZEN fit ([[Indexed]]). */
    def insert(model: Model, df: DataFrame, vecCol: String): Model =
      model.inserted(df, vecCol)

    /** O(batch) persisted insert (see [[Blocks]]). */
    def appendToSaved(model: Model, path: String, df: DataFrame,
        vecCol: String): Unit =
      model.core.appendToSaved(path, df, vecCol)

    def save(model: Model, path: String): Unit = model.core.save(path)

    /** A `cluster`-partitioned read appends `cluster` last; the loaded
      * code rows take the build's (idCol, cluster, code) order back. */
    def load(spark: SparkSession, path: String, idCol: String): Model = {
      val codes = spark.read.parquet(s"$path/codes")
      val order = codes.columns.sortBy(c =>
        if (c == idCol) 0 else if (c == "cluster") 1 else 2)
      restore(spark, path, codes.select(order.map(col).toIndexedSeq: _*), idCol,
        Blocks.readMetric(spark, path))
    }
  }

  private[index] def readCentroids(spark: SparkSession, path: String): Centroids =
    spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** The rows a build or an insert encodes: the metric-prepped
    * (idCol, vecCol) frame `p`, plus on the IVF layout each row's nearest
    * frozen centroid as `cluster` ([[Coarse.nearest1]]). `v` is what a
    * codec encodes: the vector, or on the IVF layout its residual to
    * that centroid. */
  private[index] final class Rows(p: DataFrame, idCol: String,
      vecCol: String, val coarse: Option[Centroids], fitSample: Int = 0) {

    private val (rows, v) = {
      val vd = col(vecCol).cast("array<double>")
      coarse match {
        case None => (p.select(col(idCol), col(vecCol)), vd)
        case Some(cents) =>
          val bc = p.sparkSession.sparkContext.broadcast((cents, cents.toMap))
          val assign = udf { (x: Seq[Double]) =>
            val cs = bc.value._1
            cs(Coarse.nearest1(x.toArray, cs))._1
          }
          val resid = udf { (x: Seq[Double], cluster: Int) =>
            val cent = bc.value._2(cluster)
            Seq.tabulate(x.length)(i => x(i) - cent(i))
          }
          (p.select(col(idCol), col(vecCol), assign(vd).as("cluster")),
            resid(vd, col("cluster")))
      }
    }

    /** Spread fit sample of `fitSample` rows' v. */
    lazy val sample: Array[Array[Double]] =
      IvfIndex.hashSample(rows, idCol, v, fitSample)

    def dim: Int = coarse.fold(sample(0).length)(_(0)._2.length)

    /** (idCol, code) rows, (idCol, cluster, code) on the IVF layout, in
      * one distributed pass. The identity codec's code rows are the rows
      * themselves: its code is the vector column, at its input type. */
    def encode[C: TypeTag, K, Q](codec: Codec[C, K, Q]): DataFrame =
      if (codec.raw) rows
      else rows.select(col(idCol) +: coarse.map(_ => col("cluster")).toSeq :+
        encodeUdf(p.sparkSession, codec).apply(v).as(codec.codeCol): _*)

    /** [[encode]], cached (tracked): build-once / search-many, every
      * search scans the codes. It is the one frame a build caches. */
    def codes[C: TypeTag, K, Q](codec: Codec[C, K, Q]): DataFrame =
      graft.core.Caches.cached(encode(codec))
  }

  /** The shared fit path of the six compressed builds. With
    * `ivf = Some((kCoarse, seed))` the coarse quantizer is fit first
    * ([[IvfIndex.fitCoarse]]) and the rows are encoded as residuals to
    * their nearest centroid. */
  private[index] def fit(name: String, df: DataFrame, idCol: String,
      vecCol: String, metric: String, fitSample: Int,
      ivf: Option[(Int, Long)] = None): Rows = {
    Search.checkMetric(metric)
    val p = Search.prepVectors(df, vecCol, metric)
    val f = new Rows(p, idCol, vecCol, ivf.map { case (k, seed) =>
      IvfIndex.fitCoarse(p, idCol, vecCol, k, seed) }, fitSample)
    require(f.coarse.fold(f.sample.nonEmpty)(_.nonEmpty), s"$name.build: empty input")
    f
  }
}
