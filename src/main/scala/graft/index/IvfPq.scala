package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF-PQ: the canonical large-corpus ANN layout (Jégou et al. 2011; the
  * FAISS `IVFx,PQy` default). Each vector is stored as the m-code
  * [[PqIndex]] encoding of `x − centroid(cluster)` — residuals
  * concentrate near zero, so the same codebook budget quantizes them
  * much more finely than raw vectors. Search builds one ADC table per
  * (query, probed cluster) from the query's residual and folds code
  * lookups in codegen over only the probed posting lists; the rest is
  * the [[Quantized]] core's IVF layout.
  */
object IvfPq extends Quantized.Family {

  final case class Model(coarse: Array[(Int, Array[Double])],
      m: Int, dsub: Int, ksub: Int,
      codebooks: Array[Array[Array[Double]]],
      codes: DataFrame, idCol: String, appends: Int = 0,
      metric: String = "l2") extends Quantized.Ivf[Model] {
    private[index] def core = new Quantized.Core(
      PqIndex.Codec(m, dsub, ksub, codebooks), Some(coarse), codes, idCol,
      metric)
    private[index] def withCodes(codes: DataFrame, appends: Int) =
      copy(codes = codes, appends = appends)
  }

  protected def restore(spark: SparkSession, path: String, codes: DataFrame,
      idCol: String, metric: String): Model = {
    val c = PqIndex.Codec.read(spark, path)
    Model(Quantized.readCentroids(spark, path), c.m, c.dsub, c.ksub,
      c.codebooks, codes, idCol, metric = metric)
  }

  /** Coarse-quantize ([[IvfIndex.fitCoarse]]), train the codebooks on a
    * bounded residual sample, then encode every residual in one pass. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      kCoarse: Int = 8, m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      fitSample: Int = 4096, iters: Int = 10,
      metric: String = "l2"): Model = {
    val f = Quantized.fit("IvfPq", df, idCol, vecCol, metric, fitSample,
      Some((kCoarse, seed)))
    val c = PqIndex.Codec.train(f.sample, m, ksub, seed, iters)
    Model(f.coarse.get, m, c.dsub, ksub, c.codebooks, f.codes(c), idCol,
      metric = metric)
  }
}
