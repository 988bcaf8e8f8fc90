package graft

import graft.index.{GannIndex, IvfIndex}
import graft.vectorize.{HashEmbed, Multimodal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input safety: empty tables and empty payloads must flow
  * through the operator surface without throwing (the reference's `[None]`
  * skip protocol maps to empty-frame propagation — SURVEY §2.5). */
class EdgeCasesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  private def emptyVecs =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], vecSchema)

  test("GANN build over an empty table yields an empty searchable model") {
    val m = GannIndex.build(emptyVecs, "vec_id", "embedding", leafSize = 16)
    assert(m.nodes.isEmpty && m.assign.count() == 0)
    val qs = Seq((1L, Seq(1.0, 2.0))).toDF("qid", "qv")
    assert(m.search(qs, "qid", "qv", 5).count() == 0)
  }

  test("IVF build over an empty table yields an empty searchable model") {
    val m = IvfIndex.build(emptyVecs, "vec_id", "embedding", k = 4)
    assert(m.centroids.isEmpty && m.assign.count() == 0)
    val qs = Seq((1L, Seq(1.0, 2.0))).toDF("qid", "qv")
    assert(m.search(qs, "qid", "qv", 5, nprobe = 2).count() == 0)
  }

  test("domain_cap and winnow_pairs propagate empty frames") {
    import graft.pipeline.Operators
    val emptyDocs = Seq.empty[(Long, String, Long, String)]
      .toDF("doc_id", "source", "score_mu", "text")
    assert(Operators.make(spark, "transform", "domain_cap")(
      Seq(emptyDocs), Map.empty).count() == 0)
    assert(Operators.make(spark, "transform", "winnow_pairs")(
      Seq(emptyDocs), Map.empty).count() == 0)
    // short texts (< window shingles) also yield no pairs, not an error
    val shorts = Seq((1L, "s", 0L, "a b"), (2L, "s", 0L, "a b")).toDF(
      "doc_id", "source", "score_mu", "text")
    assert(Operators.make(spark, "transform", "winnow_pairs")(
      Seq(shorts), Map.empty).count() == 0)
  }

  test("filtered ANN search with an EMPTY allowed set yields zero rows") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val model = IvfIndex.build(e, "vec_id", "embedding", k = 4)
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val none = e.filter(lit(false)).select(col("vec_id"))
    assert(model.search(qs, "qid", "qv", 5, nprobe = 4,
      allowedIds = Some(none)).count() == 0)
  }

  test("hash embedder on empty text yields the zero vector") {
    val r = Seq("", "   ").toDF("text")
      .select(HashEmbed.embed(col("text"), 8).as("e")).collect()
    r.foreach(row => assert(row.getSeq[Float](0) == Seq.fill(8)(0.0f)))
  }

  test("clipSplit on empty samples yields zero rows") {
    val df = Seq((1L, Seq.empty[Double], 4), (2L, Seq(1.0, 2.0, 3.0), 2))
      .toDF("id", "samples", "rate")
    val out = Multimodal.clipSplit(df, "samples", "rate", 1.0)
    assert(out.filter(col("id") === 1L).count() == 0)
    assert(out.filter(col("id") === 2L).count() == 2) // ceil(3/2) clips
  }

  test("inserting an empty batch is a safe no-op append") {
    val base = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(3.0, 4.0)), (3L, Seq(1.0, 1.0)),
      (4L, Seq(2.0, 0.0))).toDF("vec_id", "embedding")
    val m0 = IvfIndex.build(base, "vec_id", "embedding", k = 2)
    val m1 = IvfIndex.insert(m0, emptyVecs)
    assert(m1.appends == 1)
    assert(m1.assign.count() == 4)
    val qs = Seq((9L, Seq(3.0, 4.0))).toDF("qid", "qv")
    assert(m1.search(qs, "qid", "qv", 1, nprobe = 2).count() == 1)
  }

  test("MMR over an empty candidate frame yields zero rows") {
    val empty = Seq.empty[(Long, Long, Double, Seq[Double])]
      .toDF("qid", "id", "rel", "emb")
    assert(graft.sink.Mmr.diversify(empty, "qid", "id", "rel", "emb", 5)
      .count() == 0)
  }

  test("SkewJoin with an empty side yields zero rows, both directions") {
    val big = Seq((1L, "x")).toDF("k", "a")
    val none = Seq.empty[(Long, String)].toDF("k", "b")
    assert(graft.core.SkewJoin.salted(big, none, Seq("k"), col("a"), 4).count() == 0)
    assert(graft.core.SkewJoin.salted(none, big, Seq("k"), col("b"), 4).count() == 0)
  }

  test("BPE training on empty / whitespace-only text learns nothing") {
    val df = Seq("", "   ").toDF("text")
    val v = graft.vectorize.BpeTrain.vocab(df, "text")
    assert(graft.vectorize.BpeTrain.learn(v, 5).isEmpty)
  }

  test("PQ build rejects an empty input with a clear error") {
    import graft.index._
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val builds = Seq[(String, () => Any)](
      "PqIndex" -> (() => PqIndex.build(empty, "vec_id", "embedding")),
      "IvfPq" -> (() => IvfPq.build(empty, "vec_id", "embedding")),
      "SqIndex" -> (() => SqIndex.build(empty, "vec_id", "embedding")),
      "IvfSq" -> (() => IvfSq.build(empty, "vec_id", "embedding")),
      "BqIndex" -> (() => BqIndex.build(empty, "vec_id", "embedding")),
      "IvfBq" -> (() => IvfBq.build(empty, "vec_id", "embedding")))
    for ((name, build) <- builds) {
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(s"$name.build: empty input"))
    }
  }

  test("lm_score on empty and sub-bigram docs yields zero rows") {
    val score = graft.pipeline.Operators.make(
      spark, "transform", "lm_score", Map.empty)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(score(Seq(empty), Map.empty).count() == 0)
    // one-token docs have no bigrams: scored frame is empty, not a crash
    val tiny = Seq((1L, "hello"), (2L, "  "), (3L, "")).toDF("doc_id", "text")
    assert(score(Seq(tiny), Map.empty).count() == 0)
  }

  test("rrf_fuse degenerates gracefully: single list and empty lists") {
    val fuse = graft.pipeline.Operators.make(
      spark, "transform", "rrf_fuse", Map("topN" -> "5"))
    val one = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rnk")
    val out = fuse(Seq(one), Map.empty).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // rank order preserved
    val none = Seq.empty[(Long, Long)].toDF("doc_id", "rnk")
    assert(fuse(Seq(none, none), Map.empty).count() == 0)
  }

  test("cosine_near_dup over an empty vector frame yields zero pairs") {
    val nd = graft.pipeline.Operators.make(
      spark, "transform", "cosine_near_dup", Map("bands" -> "4", "bits" -> "4"))
    assert(nd(Seq(emptyVecs), Map.empty).count() == 0)
  }

  test("q_budget_select keeps the top score group when no whole group fits") {
    // round-12 ADVICE edge: a language whose single HIGHEST score group
    // already overflows the 2/5 token budget must fall back to keeping
    // that top group (never silently drop the whole language). Fixture:
    // docs 1-4 are all stopwords (score_mu 1 000 000, 16 of 20 tokens —
    // over the budget of 8), docs 5-6 score 0; only the top group stays.
    val dir = java.nio.file.Files.createTempDirectory("budget_edge").toString
    Seq(
      (1L, "the the the the", "xx", "s", 15L),
      (2L, "the the the the", "xx", "s", 15L),
      (3L, "the the the the", "xx", "s", 15L),
      (4L, "the the the the", "xx", "s", 15L),
      (5L, "zebra apple", "xx", "s", 11L),
      (6L, "zebra apple", "xx", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = SparkEntry.queries("q_budget_select")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 2L, 3L, 4L))
  }
}
