package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The eight ANN index kinds by name — the one table through which the
  * operator registry's index sinks and `ann_search` transform, the `Ann`
  * query entries and [[graft.RecallCurve]] build, save, load and search
  * an index. Build params are the sink's string params; a missing one
  * takes the default listed in its kind's entry. */
object IndexKinds {
  type Params = Map[String, String]

  /** A built or loaded index of any kind. `nprobe` is the IVF kinds'
    * probe width and is ignored by the others. */
  trait Handle {
    /** Persist under `path`; returns the landed posting/codes table's dir. */
    def save(path: String): String
    def search(queries: DataFrame, qid: String, qvec: String, k: Int,
        nprobe: Int, allowedIds: Option[DataFrame] = None): DataFrame
    /** The compressed kinds' shortlist + exact rerank; the raw-vector
      * kinds rank exactly, so theirs is their search. */
    def searchRerank(queries: DataFrame, qid: String, qvec: String, k: Int,
        nprobe: Int, shortlist: Int, vectors: DataFrame, vecCol: String,
        allowedIds: Option[DataFrame] = None): DataFrame =
      search(queries, qid, qvec, k, nprobe, allowedIds)
  }

  /** Build over (idCol, vecCol) from params; load (spark, path, idCol,
    * vecCol). */
  final case class Kind(build: (DataFrame, String, String, Params) => Handle,
      load: (SparkSession, String, String, String) => Handle)

  private def int(p: Params, key: String, default: Int): Int =
    p.get(key).fold(default)(_.toInt)

  private def quantized(m: Quantized.Indexed[_]): Handle = new Handle {
    private val c = m.core
    def save(path: String): String = { c.save(path); c.codesDir }
    def search(queries: DataFrame, qid: String, qvec: String, k: Int,
        nprobe: Int, allowedIds: Option[DataFrame]): DataFrame =
      c.search(queries, qid, qvec, k, nprobe, excludeSelf = true, allowedIds)
    override def searchRerank(queries: DataFrame, qid: String, qvec: String,
        k: Int, nprobe: Int, shortlist: Int, vectors: DataFrame,
        vecCol: String, allowedIds: Option[DataFrame]): DataFrame =
      c.searchRerank(queries, qid, qvec, k, nprobe, shortlist, vectors,
        vecCol, excludeSelf = true, allowedIds)
  }

  private def gann(m: GannIndex.Model): Handle = new Handle {
    def save(path: String): String = { GannIndex.save(m, path); "assign" }
    def search(queries: DataFrame, qid: String, qvec: String, k: Int,
        nprobe: Int, allowedIds: Option[DataFrame]): DataFrame =
      m.search(queries, qid, qvec, k, allowedIds = allowedIds)
  }

  val kinds: Map[String, Kind] = Map(
    "gann" -> Kind(
      (df, id, vec, p) => gann(GannIndex.build(df, id, vec,
        leafSize = int(p, "leafSize", 200),
        spill = p.get("spill").fold(0.15)(_.toDouble),
        nTrees = int(p, "nTrees", 1))),
      (s, path, id, vec) => gann(GannIndex.load(s, path, id, vec))),
    "ivf" -> Kind(
      (df, id, vec, p) => quantized(IvfIndex.build(df, id, vec, k = int(p, "k", 16))),
      (s, path, id, vec) => quantized(IvfIndex.load(s, path, id, vec))),
    "pq" -> Kind(
      (df, id, vec, p) => quantized(PqIndex.build(df, id, vec,
        m = int(p, "m", 8), ksub = int(p, "ksub", 16))),
      (s, path, id, _) => quantized(PqIndex.load(s, path, id))),
    "ivfpq" -> Kind(
      (df, id, vec, p) => quantized(IvfPq.build(df, id, vec,
        kCoarse = int(p, "kCoarse", 8), m = int(p, "m", 8),
        ksub = int(p, "ksub", 16))),
      (s, path, id, _) => quantized(IvfPq.load(s, path, id))),
    "bq" -> Kind(
      (df, id, vec, p) => quantized(BqIndex.build(df, id, vec,
        fitSample = int(p, "fitSample", 4096))),
      (s, path, id, _) => quantized(BqIndex.load(s, path, id))),
    "ivfbq" -> Kind(
      (df, id, vec, p) => quantized(IvfBq.build(df, id, vec,
        kCoarse = int(p, "kCoarse", 8))),
      (s, path, id, _) => quantized(IvfBq.load(s, path, id))),
    "sq" -> Kind(
      (df, id, vec, p) => quantized(SqIndex.build(df, id, vec,
        fitSample = int(p, "fitSample", 4096))),
      (s, path, id, _) => quantized(SqIndex.load(s, path, id))),
    "ivfsq" -> Kind(
      (df, id, vec, p) => quantized(IvfSq.build(df, id, vec,
        kCoarse = int(p, "kCoarse", 8))),
      (s, path, id, _) => quantized(IvfSq.load(s, path, id))))
}
