package graft.functions

import graft.TestSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** TopKAgg must agree row-for-row with the window-rank formulation it
  * replaces (same (dist, id) lexicographic order, including ties), and
  * `TopKBuffer.insertMin` — the one-copy-per-id rule of the index scan's
  * heaps — must equal "min distance per id, then (dist, id) top-k". */
class TopKAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(seed: Int, nq: Int, n: Int) = {
    val rnd = new Random(seed)
    for {
      q <- 0 until nq
      i <- 0 until n
    } yield (q.toLong, rnd.nextLong().abs % 1000,
      // coarse buckets force plenty of distance ties
      (rnd.nextInt(20) / 2).toDouble)
  }

  test("matches window row_number ranking including ties") {
    val K = 7
    val df = rows(11, 5, 300).toDF("qid", "id", "dist")
      .groupBy("qid", "id").agg(min("dist").as("dist")).cache()
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("id"))
    val expected = df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select("qid", "rnk", "id", "dist").collect()
      .map(_.toSeq).toSet
    val got = df.groupBy(col("qid"))
      .agg(TopKAgg.topK(col("dist"), col("id"), K).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), (col("pos") + 1).as("rnk"),
        col("s.id").as("id"), col("s.dist").as("dist")).collect()
      .map(_.toSeq).toSet
    assert(got == expected)
  }

  test("fewer rows than k returns all, ordered") {
    val df = Seq((1L, 10L, 3.0), (1L, 11L, 1.0), (1L, 12L, 2.0)).toDF("qid", "id", "dist")
    val got = df.groupBy(col("qid"))
      .agg(TopKAgg.topK(col("dist"), col("id"), 10).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("s.id")).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(11L, 12L, 10L))
  }

  test("k = 0 returns empty array") {
    val df = Seq((1L, 10L, 3.0)).toDF("qid", "id", "dist")
    val got = df.groupBy(col("qid"))
      .agg(TopKAgg.topK(col("dist"), col("id"), 0).as("top"))
      .select(size(col("top"))).head().getInt(0)
    assert(got == 0)
  }

  test("insertMin: merged partition heaps equal min per id, then (dist, id) top-k") {
    def brute(pairs: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
      pairs.groupMapReduce(_._2)(_._1)(math.min).toSeq
        .map { case (id, d) => (d, id) }.sortBy(identity).take(k)
    def ruled(parts: Iterable[Seq[(Double, Long)]], k: Int): Seq[(Double, Long)] = {
      val merged = new TopKBuffer(k)
      for (part <- parts) {
        val h = new TopKBuffer(k)
        part.foreach { case (d, id) => h.insertMin(d, id) }
        (0 until h.size).foreach(i => merged.insertMin(h.dists(i), h.ids(i)))
      }
      merged.sorted.toSeq
    }
    val rnd = new Random(29)
    // few ids and coarse distance buckets: every id repeats, and ties on
    // distance are common
    val streams = Seq.fill(200) {
      val nIds = 1 + rnd.nextInt(30)
      Seq.fill(rnd.nextInt(120))(((rnd.nextInt(12) / 2).toDouble, rnd.nextInt(nIds).toLong))
    } :+ Seq.fill(50)((rnd.nextInt(5).toDouble, 7L))  // all one id
    for (s <- streams; k <- Seq(0, 1, 3, 10); nParts <- Seq(1, 4)) {
      val parts = s.groupBy(_ => rnd.nextInt(nParts)).values
      assert(ruled(parts, k) === brute(s, k))
    }
  }
}
