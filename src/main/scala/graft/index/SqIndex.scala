package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** SQ8 (8-bit scalar quantization) ANN index — the 4x rung of the
  * compression tier ([[Quantized]] has the tier table): every vector is
  * stored as one byte per dimension on a per-dimension uniform grid,
  * the classic FAISS-family `SQ8` layout (the reference stores raw
  * float32, radient/tasks/sinks/local/gann.py:196-216 — this rung has no
  * reference counterpart, like BQ/IVF-BQ).
  *
  * The grid is per-dimension `(min, scale)` fit on a spread sample:
  * `code = round((v − min)/scale)` clamped to [0, 255],
  * `scale = (max − min)/255`. No codebook training and no subspaces —
  * encode/decode are per-dimension affine maps, and the quantization
  * error is bounded by scale/2 per dimension, giving near-exact
  * shortlists. Search ranks by the ASYMMETRIC distance: the raw query
  * against the code dequantized on the grid, which ships with the codec,
  * never per row.
  */
object SqIndex extends Quantized.Family {

  private[index] def encodeOne(v: IndexedSeq[Double], mins: Array[Double],
      scales: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](mins.length)
    var i = 0
    while (i < mins.length) {
      val s = scales(i)
      val q = if (s == 0.0) 0.0 else math.rint((v(i) - mins(i)) / s)
      out(i) = math.max(0.0, math.min(255.0, q)).toInt.toByte
      i += 1
    }
    out
  }

  /** Byte codes on the (min, scale) grid; the query stays raw. */
  private[index] final case class Codec(mins: Array[Double],
      scales: Array[Double])
      extends Quantized.Codec[Array[Byte], Array[Byte], Array[Double]] {
    def codeCol = "sig"
    def encode(v: IndexedSeq[Double]): Array[Byte] = encodeOne(v, mins, scales)
    def query(v: IndexedSeq[Double]): Array[Double] = v.toArray
    def read(row: InternalRow, ord: Int): Array[Byte] =
      if (row.isNullAt(ord)) null else row.getBinary(ord)
    /** √Σᵢ (qᵢ − (minᵢ + (codeᵢ & 0xFF)·scaleᵢ))², a sequential fold. */
    def dist(code: Array[Byte], q: Array[Double]): Double =
      if (code.length != q.length || code.length != mins.length) Double.NaN
      else {
        var s = 0.0; var i = 0
        while (i < code.length) {
          val d = q(i) - (mins(i) + (code(i) & 0xFF) * scales(i))
          s += d * d; i += 1
        }
        math.sqrt(s)
      }
    def write(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      Quantized.writeTable(mins.toSeq.zip(scales.toSeq).zipWithIndex
        .map { case ((mn, sc), i) => (i, mn, sc) }.toDF("dim", "min", "scale"),
        s"$path/grid")
    }
  }

  private[index] object Codec {
    def read(spark: SparkSession, path: String): Codec = {
      val grid = spark.read.parquet(s"$path/grid").collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
      Codec(grid.map(_._2), grid.map(_._3))
    }

    /** The per-dimension (min, scale) grid of a sample (deterministic:
      * sequential fold) — vectors for SQ, residuals for IVF-SQ. */
    def fit(sample: Array[Array[Double]]): Codec = {
      val dim = sample(0).length
      val mins = Array.fill(dim)(Double.MaxValue)
      val maxs = Array.fill(dim)(Double.MinValue)
      sample.foreach { v =>
        var i = 0
        while (i < dim) {
          if (v(i) < mins(i)) mins(i) = v(i)
          if (v(i) > maxs(i)) maxs(i) = v(i)
          i += 1
        }
      }
      Codec(mins, Array.tabulate(dim)(i => (maxs(i) - mins(i)) / 255.0))
    }
  }

  final case class Model(mins: Array[Double], scales: Array[Double],
      codes: DataFrame, idCol: String, appends: Int = 0,
      metric: String = "l2") extends Quantized.Flat[Model] {
    private[index] def core = new Quantized.Core(Codec(mins, scales), None,
      codes, idCol, metric)
    private[index] def withCodes(codes: DataFrame, appends: Int) =
      copy(codes = codes, appends = appends)
  }

  protected def restore(spark: SparkSession, path: String, codes: DataFrame,
      idCol: String, metric: String): Model = {
    val g = Codec.read(spark, path)
    Model(g.mins, g.scales, codes, idCol, metric = metric)
  }

  /** Fit the grid on a spread sample and encode every vector in one
    * distributed pass. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      fitSample: Int = 4096, metric: String = "l2"): Model = {
    val f = Quantized.fit("SqIndex", df, idCol, vecCol, metric, fitSample)
    val g = Codec.fit(f.sample)
    Model(g.mins, g.scales, f.codes(g), idCol, metric = metric)
  }
}
