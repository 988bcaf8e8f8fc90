package graft.index

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The multi-start quantizer fit's selection score
  * ([[IvfIndex.probeScore]] over [[IvfIndex.probeNeighbours]]) must
  * return EXACTLY what the sort-based scan it replaced returns — same
  * `Double`, ties included — so every IVF build keeps the same winning
  * start, centroids, codes and recall. The reference below is that scan,
  * kept verbatim. */
class ProbeScoreSpec extends AnyFunSuite {

  /** The sort-based score: stable sorts by a recomputed distance, boxed
    * first-minimum assignment. */
  private def refProbeScore(sample: Array[Array[Double]],
      cents: Array[Array[Double]], nprobe: Int): Double = {
    val nq = math.min(200, sample.length)
    val nc = math.min(2000, sample.length)
    val dim = sample(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < dim) { val d = a(j) - b(j); s += d * d; j += 1 }
      s
    }
    val assign = (0 until nc).map(i =>
      cents.indices.minBy(c => d2(sample(i), cents(c)))).toArray
    var hit = 0; var tot = 0
    var qi = 0
    while (qi < nq) {
      val q = sample(qi)
      val probed = cents.indices.sortBy(c => d2(q, cents(c)))
        .take(math.min(nprobe, cents.length)).toSet
      val top = (0 until nc).filter(_ != qi)
        .sortBy(i => d2(q, sample(i))).take(10)
      top.foreach { i => if (probed(assign(i))) hit += 1; tot += 1 }
      qi += 1
    }
    if (tot == 0) 1.0 else hit.toDouble / tot
  }

  private def refNeighbours(sample: Array[Array[Double]]): Seq[Seq[Int]] = {
    val nc = math.min(2000, sample.length)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }
      s
    }
    (0 until math.min(200, sample.length)).map { qi =>
      (0 until nc).filter(_ != qi)
        .sortBy(i => d2(sample(qi), sample(i))).take(10)
    }
  }

  /** Integer-grid coordinates in {0, 1, 2} make exact distance ties
    * common, so the (distance, index) tie order is actually exercised. */
  private def points(rnd: scala.util.Random, n: Int, dim: Int,
      grid: Boolean): Array[Array[Double]] =
    Array.fill(n)(Array.fill(dim)(
      if (grid) rnd.nextInt(3).toDouble else rnd.nextGaussian()))

  private def score(sample: Array[Array[Double]],
      cents: Array[Array[Double]], nprobe: Int): Double =
    IvfIndex.probeScore(sample, IvfIndex.probeNeighbours(sample), cents,
      nprobe)

  test("score == sort-based reference on seeded tie-heavy samples") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 60) {
      // mostly small samples, a few past the 2000-row candidate cap
      val n = if (trial % 15 == 14) 2001 + rnd.nextInt(500)
        else 1 + rnd.nextInt(300)
      val dim = 2 + rnd.nextInt(63)
      val k = 1 + rnd.nextInt(16)
      val grid = trial % 3 != 0
      val sample = points(rnd, n, dim, grid)
      // centroids drawn from the sample itself (as k-means++ does) tie
      // with the sample rows; every other trial uses a Lloyd fit
      val cents =
        if (trial % 2 == 0) Array.fill(k)(sample(rnd.nextInt(n)).clone())
        else IvfIndex.lloyd(sample, IvfIndex.kppInit(sample, k, trial), 3)
      val np = 1 + rnd.nextInt(k + 2) // may exceed k
      assert(score(sample, cents, np) === refProbeScore(sample, cents, np),
        s"trial=$trial n=$n dim=$dim k=$k np=$np grid=$grid")
    }
  }

  test("neighbour lists == the stable sort's top-10 prefixes") {
    val rnd = new scala.util.Random(12)
    for (trial <- 0 until 20) {
      val n = 1 + rnd.nextInt(400)
      val sample = points(rnd, n, 2 + rnd.nextInt(6), grid = trial % 2 == 0)
      val got = IvfIndex.probeNeighbours(sample)
      val want = refNeighbours(sample)
      assert(got.length === want.length)
      got.indices.foreach(qi => assert(got(qi).toSeq === want(qi),
        s"trial=$trial n=$n query=$qi"))
    }
  }

  test("edges: n = 1, fewer than 10 neighbours, k = 1, nprobe >= k") {
    val rnd = new scala.util.Random(13)
    val one = points(rnd, 1, 4, grid = true)
    assert(IvfIndex.probeNeighbours(one).map(_.length).toSeq === Seq(0))
    assert(score(one, one, 1) === 1.0)
    assert(refProbeScore(one, one, 1) === 1.0)
    for (n <- 2 to 11; grid <- Seq(true, false)) {
      val sample = points(rnd, n, 3, grid)
      assert(IvfIndex.probeNeighbours(sample).forall(_.length == n - 1))
      for (k <- Seq(1, 2, 5); np <- Seq(1, k, k + 3)) {
        val cents = Array.fill(k)(sample(rnd.nextInt(n)).clone())
        assert(score(sample, cents, np) === refProbeScore(sample, cents, np),
          s"n=$n k=$k np=$np grid=$grid")
      }
    }
    // k = 1 and nprobe >= k probe every cluster: every neighbour is a hit
    val sample = points(rnd, 50, 8, grid = true)
    val cents = IvfIndex.lloyd(sample, IvfIndex.kppInit(sample, 4, 1L), 5)
    assert(score(sample, cents.take(1), 1) === 1.0)
    assert(score(sample, cents, 4) === 1.0)
    assert(score(sample, cents, 9) === refProbeScore(sample, cents, 9))
  }

  test("IvfIndex.build keeps the start the sort-based score selects") {
    val spark = TestSpark.spark
    import spark.implicits._
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    // a tie-heavy grid table beside the embeddings, so equal scores and
    // equal distances reach the selection
    val rnd = new scala.util.Random(14)
    val grid = (0 until 600).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextInt(3).toDouble))).toDF("id", "v")
    for ((df, id, vec, k, fit) <- Seq(
        (emb, "vec_id", "embedding", 8, 100000),
        (emb, "vec_id", "embedding", 5, 150),
        (grid, "id", "v", 8, 100000))) {
      val sample = IvfIndex.hashSample(df, id,
        col(vec).cast("array<double>"), fit)
      val selNp = math.max(1, (3 * k) / 8)
      val want = (42L to 49L).map { s0 =>
        val c = IvfIndex.lloyd(sample, IvfIndex.kppInit(sample, k, s0), 12)
        (refProbeScore(sample, c, selNp), c)
      }.maxBy(_._1)._2
      val got = IvfIndex.build(df, id, vec, k = k, fitSample = fit)
      assert(got.centroids.map(_._1).toSeq === want.indices)
      assert(got.centroids.map(_._2.toSeq).toSeq === want.map(_.toSeq).toSeq,
        s"k=$k fitSample=$fit on $vec")
    }
  }
}
