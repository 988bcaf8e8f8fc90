package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** BQ (binary-quantization) ANN index — the 1-bit member of the
  * compression tier ([[Quantized]] has the tier table): every vector is
  * stored as ceil(dim/64) longs of per-dimension threshold sign bits,
  * the "binary sketch + exact rerank" serving layout (the
  * SPANN/RaBitQ-family 1-bit tier; the reference stores raw float32,
  * radient/tasks/sinks/local/gann.py:196-216).
  *
  * Thresholds are the per-dimension MEANS of a spread fit sample —
  * sign-of-centered-value splits each dimension near its median mass,
  * where raw sign bits waste whole dimensions on biased data. Search
  * sign-codes the query once and ranks by Hamming distance (XOR+POPCNT
  * over the packed words, as [[graft.functions.HammingWords]] sums it);
  * the shortlist boundary sits in a heavy tie band, so serve through
  * `searchRerank` with a deep shortlist.
  */
object BqIndex extends Quantized.Family {

  private[index] def encodeOne(v: IndexedSeq[Double],
      thresholds: Array[Double]): Array[Long] = {
    val words = new Array[Long]((thresholds.length + 63) / 64)
    var i = 0
    while (i < thresholds.length) {
      if (v(i) > thresholds(i)) words(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    words
  }

  /** Threshold sign codes, queries coded alike, Hamming distance.
    * `persisted = false` for IVF-BQ, whose zero thresholds are implied. */
  private[index] final case class Codec(thresholds: Array[Double],
      persisted: Boolean = true)
      extends Quantized.Codec[Seq[Long], Array[Long], Array[Long]] {
    def codeCol = "sig"
    def encode(v: IndexedSeq[Double]): Seq[Long] = encodeOne(v, thresholds).toSeq
    def query(v: IndexedSeq[Double]): Array[Long] = encodeOne(v, thresholds)
    def read(row: InternalRow, ord: Int): Array[Long] = {
      val a = Search.arrayAt(row, ord)
      if (a == null) null else a.toLongArray()
    }
    /** Σ popcount(codeᵢ xor qᵢ) as a double. */
    def dist(code: Array[Long], q: Array[Long]): Double =
      if (code.length != q.length) Double.NaN
      else {
        var s = 0L; var i = 0
        while (i < code.length) {
          s += java.lang.Long.bitCount(code(i) ^ q(i)); i += 1
        }
        s.toDouble
      }
    def write(spark: SparkSession, path: String): Unit =
      if (persisted) {
        import spark.implicits._
        Quantized.writeTable(thresholds.toSeq.zipWithIndex
          .map { case (t, i) => (i, t) }.toDF("dim", "threshold"),
          s"$path/thresholds")
      }
  }

  private[index] object Codec {
    def read(spark: SparkSession, path: String): Codec =
      Codec(spark.read.parquet(s"$path/thresholds").collect()
        .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2))
  }

  final case class Model(thresholds: Array[Double], codes: DataFrame,
      idCol: String, appends: Int = 0, metric: String = "l2")
      extends Quantized.Flat[Model] {
    private[index] def core = new Quantized.Core(Codec(thresholds), None,
      codes, idCol, metric)
    private[index] def withCodes(codes: DataFrame, appends: Int) =
      copy(codes = codes, appends = appends)
  }

  protected def restore(spark: SparkSession, path: String, codes: DataFrame,
      idCol: String, metric: String): Model =
    Model(Codec.read(spark, path).thresholds, codes, idCol, metric = metric)

  /** Fit per-dimension mean thresholds on a spread sample (deterministic:
    * sequential fold over the hash-ordered sample) and encode every
    * vector in one distributed pass. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      fitSample: Int = 4096, metric: String = "l2"): Model = {
    val f = Quantized.fit("BqIndex", df, idCol, vecCol, metric, fitSample)
    val sums = new Array[Double](f.dim)
    f.sample.foreach { v =>
      var i = 0; while (i < sums.length) { sums(i) += v(i); i += 1 }
    }
    val thresholds = sums.map(_ / f.sample.length)
    Model(thresholds, f.codes(Codec(thresholds)), idCol, metric = metric)
  }
}
