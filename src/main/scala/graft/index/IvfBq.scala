package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF-BQ: coarse inverted-file pruning over 1-bit residual codes — the
  * binary sibling of [[IvfPq]] (FAISS's `IVFx,...` with a binary fine
  * quantizer; the cheapest cluster-pruned layout). Each vector stores
  * ceil(dim/64) longs of residual sign bits against threshold 0 —
  * residuals are centered by construction, so the sign split lands near
  * the median mass without a fitted threshold. Search, rerank and
  * persistence are the [[Quantized]] core's IVF layout.
  */
object IvfBq extends Quantized.Family {

  private def codec(dim: Int) =
    BqIndex.Codec(new Array[Double](dim), persisted = false)

  final case class Model(coarse: Array[(Int, Array[Double])],
      codes: DataFrame, idCol: String, appends: Int = 0,
      metric: String = "l2") extends Quantized.Ivf[Model] {
    private[index] def core = new Quantized.Core(
      codec(coarse.headOption.fold(0)(_._2.length)), Some(coarse), codes,
      idCol, metric)
    private[index] def withCodes(codes: DataFrame, appends: Int) =
      copy(codes = codes, appends = appends)
  }

  protected def restore(spark: SparkSession, path: String, codes: DataFrame,
      idCol: String, metric: String): Model =
    Model(Quantized.readCentroids(spark, path), codes, idCol, metric = metric)

  /** Coarse-quantize ([[IvfIndex.fitCoarse]]), then sign-encode the
    * residuals in one distributed pass — no fit sample. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      kCoarse: Int = 8, seed: Long = 42L, metric: String = "l2"): Model = {
    val f = Quantized.fit("IvfBq", df, idCol, vecCol, metric, 0,
      Some((kCoarse, seed)))
    Model(f.coarse.get, f.codes(codec(f.dim)), idCol, metric = metric)
  }
}
