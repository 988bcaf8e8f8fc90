package graft.index

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `excludeSelf` knob on the six index searches. Default (true)
  * keeps the self-kNN convention of the query entries: qid and corpus id
  * share a domain, so a query's own row is dropped. An EXTERNAL query
  * batch whose qids happen to collide with corpus ids must pass
  * excludeSelf = false, or the colliding query silently loses its true
  * nearest neighbor (the reference ranks every candidate,
  * gann.c:999-1080 — it has no self-exclusion at all). */
class ExcludeSelfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    .filter(col("vec_id") < 500).cache()

  // an "external" query batch: qid 7 collides with corpus vec_id 7, but
  // the query VECTOR is corpus row 7's vector — its true nearest
  // neighbor (dist 0) is corpus id 7 itself
  private lazy val external = emb.filter(col("vec_id") === 7)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def ranked1(df: DataFrame): Set[Long] =
    df.filter(col("rnk") === 1).select("vec_id").collect()
      .map(_.getLong(0)).toSet

  private def checkBoth(withSelf: DataFrame, without: DataFrame): Unit = {
    // excludeSelf = false: the colliding id IS the top hit (dist 0)
    assert(ranked1(withSelf) === Set(7L))
    // default: the self row is dropped entirely
    assert(!without.select("vec_id").collect().map(_.getLong(0)).contains(7L))
  }

  test("IVF excludeSelf knob") {
    val m = IvfIndex.build(emb, "vec_id", "embedding", k = 4)
    checkBoth(
      m.search(external, "qid", "qv", k = 5, nprobe = 4, excludeSelf = false),
      m.search(external, "qid", "qv", k = 5, nprobe = 4))
  }

  test("IVF and IVF-SQ search reject a streaming query frame") {
    val stream = spark.readStream.format("rate").load()
      .select(col("value").as("qid"), array(lit(0.0)).as("qv"))
    val ivf = IvfIndex.build(emb, "vec_id", "embedding", k = 4)
    val sq = IvfSq.build(emb, "vec_id", "embedding", kCoarse = 4)
    val gann = GannIndex.build(emb, "vec_id", "embedding", leafSize = 64)
    for (search <- Seq[() => DataFrame](
        () => ivf.search(stream, "qid", "qv", k = 5, nprobe = 2),
        () => sq.search(stream, "qid", "qv", k = 5, nprobe = 2),
        () => gann.search(stream, "qid", "qv", k = 5))) {
      val e = intercept[IllegalArgumentException](search())
      assert(e.getMessage.contains("foreachBatch"))
    }
  }

  test("GANN excludeSelf knob") {
    val m = GannIndex.build(emb, "vec_id", "embedding", leafSize = 64)
    checkBoth(
      m.search(external, "qid", "qv", k = 5, excludeSelf = false),
      m.search(external, "qid", "qv", k = 5))
  }

  test("PQ excludeSelf knob") {
    val m = PqIndex.build(emb, "vec_id", "embedding", m = 16, ksub = 16)
    checkBoth(
      m.searchRerank(external, "qid", "qv", k = 5, shortlist = 20,
        vectors = emb, vecCol = "embedding", excludeSelf = false),
      m.searchRerank(external, "qid", "qv", k = 5, shortlist = 20,
        vectors = emb, vecCol = "embedding"))
  }

  test("IVF-PQ excludeSelf knob") {
    val m = IvfPq.build(emb, "vec_id", "embedding", kCoarse = 4, m = 16)
    checkBoth(
      m.searchRerank(external, "qid", "qv", k = 5, nprobe = 4,
        shortlist = 20, vectors = emb, vecCol = "embedding",
        excludeSelf = false),
      m.searchRerank(external, "qid", "qv", k = 5, nprobe = 4,
        shortlist = 20, vectors = emb, vecCol = "embedding"))
  }

  test("BQ excludeSelf knob") {
    val m = BqIndex.build(emb, "vec_id", "embedding")
    checkBoth(
      m.searchRerank(external, "qid", "qv", k = 5, shortlist = 20,
        vectors = emb, vecCol = "embedding", excludeSelf = false),
      m.searchRerank(external, "qid", "qv", k = 5, shortlist = 20,
        vectors = emb, vecCol = "embedding"))
  }

  test("IVF-BQ excludeSelf knob") {
    val m = IvfBq.build(emb, "vec_id", "embedding", kCoarse = 4)
    checkBoth(
      m.searchRerank(external, "qid", "qv", k = 5, nprobe = 4,
        shortlist = 20, vectors = emb, vecCol = "embedding",
        excludeSelf = false),
      m.searchRerank(external, "qid", "qv", k = 5, nprobe = 4,
        shortlist = 20, vectors = emb, vecCol = "embedding"))
  }

  test("rerank resolves a query-vector column named like the corpus column") {
    // advisor finding: both sides named "embedding" used to throw an
    // ambiguous-reference AnalysisException inside searchRerank
    val m = BqIndex.build(emb, "vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").as("qid"), col("embedding"))
    val out = m.searchRerank(q, "qid", "embedding", k = 3, shortlist = 10,
      vectors = emb, vecCol = "embedding")
    assert(out.count() === 3)
  }
}
