package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** PQ (product-quantization) ANN index: the vector space is split into
  * `m` subspaces, each subspace gets its own small codebook (`ksub`
  * centroids, trained by seeded Lloyd iterations on a bounded driver-side
  * sample), and every vector is stored as `m` small codes — 64 float32
  * lanes become 8 bytes, a 32x compression ([[Quantized]] has the tier
  * table).
  *
  * Search is ADC (asymmetric distance computation, Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): per query, one
  * `m x ksub` table of exact subspace distances is computed once, and
  * every candidate's approximate distance is `m` table lookups over its
  * codes — no float vector is read at search time. The reference stores raw float vectors
  * (radient/tasks/sinks/local/gann.py:196-216) — PQ is the compression
  * tier its GANN/IVF probes would sit on top of at scale.
  */
object PqIndex extends Quantized.Family {

  /** Subspace codes; the query becomes its flat ADC table. */
  private[index] final case class Codec(m: Int, dsub: Int, ksub: Int,
      codebooks: Array[Array[Array[Double]]])
      extends Quantized.Codec[Seq[Int], Array[Int], Array[Double]] {
    def codeCol = "codes"
    def encode(v: IndexedSeq[Double]): Seq[Int] =
      encodeOne(v, codebooks, m, dsub).toSeq
    def query(v: IndexedSeq[Double]): Array[Double] =
      distTable(v, codebooks, m, dsub, ksub)
    def read(row: InternalRow, ord: Int): Array[Int] = {
      val a = Search.arrayAt(row, ord)
      if (a == null) null else a.toIntArray()
    }
    /** ADC: Σᵢ dt[i·ksub + codeᵢ], ascending subspaces; NaN on an
      * out-of-range code. */
    def dist(code: Array[Int], dt: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < code.length) {
        val idx = i * ksub + code(i)
        if (idx < 0 || idx >= dt.length) return Double.NaN
        s += dt(idx); i += 1
      }
      s
    }
    def write(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      val rows = for {
        sub <- codebooks.indices
        code <- codebooks(sub).indices
      } yield (sub, code, codebooks(sub)(code).toSeq)
      Quantized.writeTable(rows.toDF("sub", "code", "centroid"),
        s"$path/codebooks")
    }
  }

  private[index] object Codec {
    def read(spark: SparkSession, path: String): Codec = {
      val cb = spark.read.parquet(s"$path/codebooks").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      val books = Array.ofDim[Array[Double]](cb.map(_._1).max + 1,
        cb.map(_._2).max + 1)
      cb.foreach { case (sub, code, c) => books(sub)(code) = c }
      Codec(books.length, books(0)(0).length, books(0).length, books)
    }

    /** Per-subspace codebooks trained on a sample — vectors for PQ,
      * residuals for IVF-PQ; `dim` comes from the sample. */
    def train(sample: Array[Array[Double]], m: Int, ksub: Int, seed: Long,
        iters: Int): Codec = {
      val dim = sample(0).length
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      Codec(m, dim / m, ksub, trainBooks(sample, m, dim / m, ksub, seed, iters))
    }
  }

  /** codebooks(sub)(code) = centroid of length dsub. */
  final case class Model(m: Int, dsub: Int, ksub: Int,
      codebooks: Array[Array[Array[Double]]],
      codes: DataFrame, idCol: String, appends: Int = 0,
      metric: String = "l2") extends Quantized.Flat[Model] {
    private[index] def core = new Quantized.Core(
      Codec(m, dsub, ksub, codebooks), None, codes, idCol, metric)
    private[index] def withCodes(codes: DataFrame, appends: Int) =
      copy(codes = codes, appends = appends)
  }

  protected def restore(spark: SparkSession, path: String, codes: DataFrame,
      idCol: String, metric: String): Model = {
    val c = Codec.read(spark, path)
    Model(c.m, c.dsub, c.ksub, c.codebooks, codes, idCol, metric = metric)
  }

  /** Seeded Lloyd iterations over one subspace's sample slice from a
    * seeded random init ([[IvfIndex.lloyd]]: empty clusters keep their
    * previous centroid — deterministic). */
  private[index] def lloyd(pts: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(pts.indices.toVector).take(math.min(k, pts.length))
    IvfIndex.lloyd(pts, init.map(i => pts(i).clone()).toArray, iters)
  }

  /** Per-subspace codebooks over a sample (shared with IvfPq). */
  private[index] def trainBooks(sample: Array[Array[Double]], m: Int,
      dsub: Int, ksub: Int, seed: Long, iters: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m) { sub =>
      val slice = sample.map(_.slice(sub * dsub, (sub + 1) * dsub))
      lloyd(slice, ksub, iters, seed + sub)
    }

  /** Nearest-centroid code per subspace (tie → lowest code; shared with
    * IvfPq's residual encode). */
  private[index] def encodeOne(v: IndexedSeq[Double],
      cbs: Array[Array[Array[Double]]], m: Int, dsub: Int): Array[Int] = {
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val cb = cbs(sub)
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cb.length) {
        var s = 0.0; var j = 0
        while (j < dsub) { val d = v(sub * dsub + j) - cb(c)(j); s += d * d; j += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      out(sub) = best
      sub += 1
    }
    out
  }

  /** Per-query flat ADC table dt(sub*ksub + code) = ||q_sub − centroid||²
    * (shared with IvfPq, which feeds `q − coarse centroid` residuals). */
  private[index] def distTable(v: IndexedSeq[Double],
      cbs: Array[Array[Array[Double]]], m: Int, dsub: Int, ksub: Int): Array[Double] = {
    val dt = new Array[Double](m * ksub)
    var sub = 0
    while (sub < m) {
      val cb = cbs(sub)
      var c = 0
      while (c < cb.length) {
        var s = 0.0; var j = 0
        while (j < dsub) { val d = v(sub * dsub + j) - cb(c)(j); s += d * d; j += 1 }
        dt(sub * ksub + c) = s
        c += 1
      }
      sub += 1
    }
    dt
  }

  /** Train per-subspace codebooks on a bounded sample (driver-side Lloyd
    * — the sample is index-build statistics, like IvfIndex's fitSample;
    * the full table is only touched by the single distributed encode
    * pass) and encode every vector to its m nearest-centroid codes. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      fitSample: Int = 4096, iters: Int = 10,
      metric: String = "l2"): Model = {
    val f = Quantized.fit("PqIndex", df, idCol, vecCol, metric, fitSample)
    val c = Codec.train(f.sample, m, ksub, seed, iters)
    Model(m, c.dsub, ksub, c.codebooks, f.codes(c), idCol, metric = metric)
  }
}
