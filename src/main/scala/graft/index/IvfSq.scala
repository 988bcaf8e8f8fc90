package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF-SQ: coarse inverted-file pruning over SQ8-coded residuals — the
  * scalar-quantization sibling of [[IvfPq]]/[[IvfBq]] and the classic
  * production serving config (Milvus's `IVF_SQ8`, FAISS's `IVFx,SQ8`,
  * which the reference's Milvus sink exposes,
  * radient/tasks/sinks/milvus.py:83-122). The [[SqIndex]] grid is fit
  * over a spread RESIDUAL sample: residual spread is much tighter than
  * the raw-vector spread, so the grid cells are finer for the same 8
  * bits. Search probes the nprobe nearest clusters with the query's raw
  * residual per probed cluster (asymmetric — the query side is never
  * quantized); the rest is the [[Quantized]] core's IVF layout.
  */
object IvfSq extends Quantized.Family {

  final case class Model(coarse: Array[(Int, Array[Double])],
      mins: Array[Double], scales: Array[Double],
      codes: DataFrame, idCol: String, appends: Int = 0,
      metric: String = "l2") extends Quantized.Ivf[Model] {
    private[index] def core = new Quantized.Core(SqIndex.Codec(mins, scales),
      Some(coarse), codes, idCol, metric)
    private[index] def withCodes(codes: DataFrame, appends: Int) =
      copy(codes = codes, appends = appends)
  }

  protected def restore(spark: SparkSession, path: String, codes: DataFrame,
      idCol: String, metric: String): Model = {
    val g = SqIndex.Codec.read(spark, path)
    Model(Quantized.readCentroids(spark, path), g.mins, g.scales, codes,
      idCol, metric = metric)
  }

  /** Coarse-quantize ([[IvfIndex.fitCoarse]]), fit the residual grid on
    * a spread residual sample, then encode every residual in one pass. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      kCoarse: Int = 8, seed: Long = 42L, fitSample: Int = 4096,
      metric: String = "l2"): Model = {
    val f = Quantized.fit("IvfSq", df, idCol, vecCol, metric, fitSample,
      Some((kCoarse, seed)))
    val g = SqIndex.Codec.fit(f.sample)
    Model(f.coarse.get, g.mins, g.scales, f.codes(g), idCol, metric = metric)
  }
}
