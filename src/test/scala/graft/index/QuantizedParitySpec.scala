package graft.index

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the eight index kinds — the six quantized ones (BQ, SQ, PQ,
  * each flat and over the IVF coarse layer), IVF-flat ([[IvfIndex]])
  * and GANN ([[GannIndex]], 3 trees of 64-row leaves at spill 0.15) — to fixed outputs on
  * a seeded 600×16 table, for both metrics, and IVF-flat also over an
  * `array<float>` copy of it. Per (kind, metric) it digests the sorted
  * code rows, the unfiltered and filtered `search` output, a second
  * search (`searchRerank` on the compressed kinds, a `beam = 4` search
  * on GANN, none on IVF-flat) and the code rows `appendToSaved` writes
  * for a 50-row batch, and it compares the saved directory's layout
  * (param dirs, the code dir — `assign` on IVF-flat and GANN — and its
  * `cluster=` or `tree=` partitions) literally; on the float copy it
  * also pins the saved vector type. It also pins the search output
  * schema, and that a loaded model's code rows keep the built model's
  * column order. Any change to fitting, encoding, ranking or persistence
  * moves a digest; a refactor of the index code must leave every one of
  * them in place. */
class QuantizedParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 16
  private val K = 10
  private val NProbe = 2
  private val Shortlist = 40

  /** `n` rows (ids from `first`) around 8 fixed gaussian centres. */
  private def table(n: Int, first: Long, seed: Int): DataFrame = {
    val cr = new scala.util.Random(11)
    val centres = Array.fill(8, Dim)(cr.nextGaussian() * 3.0)
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val c = centres(rnd.nextInt(centres.length))
      (first + i, c.map(_ + rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private lazy val base = table(600, 0L, 5).cache()
  private lazy val batch = table(50, 600L, 6)
  private lazy val queries = base.filter(col("vec_id") < 20)
    .select(col("vec_id").as("qid"), col("embedding").as("qv")).cache()
  private lazy val allowed = base.filter(col("vec_id") % 3 === 0)
    .select(col("vec_id"))

  /** The fixture with `array<float>` vectors: every other input is
    * `array<double>`, so only this one sees a stored vector widen. */
  private def floats(df: DataFrame, v: String): DataFrame =
    df.withColumn(v, col(v).cast("array<float>"))
  private lazy val floatBase = floats(base, "embedding").cache()
  private lazy val floatQueries = floats(queries, "qv")

  /** What the spec exercises of one built model: `second` is its
    * second pinned search, absent when `hasSecond` is false; `load`
    * reads a saved copy's code rows back. */
  private final class Ops(val codes: DataFrame,
      val search: Option[DataFrame] => DataFrame, second: => DataFrame,
      val save: String => Unit, val append: (String, DataFrame) => Unit,
      val load: String => DataFrame,
      val codesDir: String = "codes", hasSecond: Boolean = true,
      val appended: DataFrame = batch) {
    def secondOut: Option[DataFrame] = if (hasSecond) Some(second) else None
  }

  private val kinds: Seq[(String, String => Ops)] = Seq(
    "bq" -> { metric =>
      val m = BqIndex.build(base, "vec_id", "embedding", metric = metric)
      new Ops(m.codes, a => m.search(queries, "qid", "qv", K, allowedIds = a),
        m.searchRerank(queries, "qid", "qv", K, shortlist = Shortlist,
          vectors = base, vecCol = "embedding"),
        BqIndex.save(m, _), BqIndex.appendToSaved(m, _, _, "embedding"),
        BqIndex.load(spark, _, "vec_id").codes)
    },
    "ivfbq" -> { metric =>
      val m = IvfBq.build(base, "vec_id", "embedding", kCoarse = 4,
        metric = metric)
      new Ops(m.codes,
        a => m.search(queries, "qid", "qv", K, NProbe, allowedIds = a),
        m.searchRerank(queries, "qid", "qv", K, nprobe = NProbe,
          shortlist = Shortlist, vectors = base, vecCol = "embedding"),
        IvfBq.save(m, _), IvfBq.appendToSaved(m, _, _, "embedding"),
        IvfBq.load(spark, _, "vec_id").codes)
    },
    "sq" -> { metric =>
      val m = SqIndex.build(base, "vec_id", "embedding", metric = metric)
      new Ops(m.codes, a => m.search(queries, "qid", "qv", K, allowedIds = a),
        m.searchRerank(queries, "qid", "qv", K, shortlist = Shortlist,
          vectors = base, vecCol = "embedding"),
        SqIndex.save(m, _), SqIndex.appendToSaved(m, _, _, "embedding"),
        SqIndex.load(spark, _, "vec_id").codes)
    },
    "ivfsq" -> { metric =>
      val m = IvfSq.build(base, "vec_id", "embedding", kCoarse = 4,
        metric = metric)
      new Ops(m.codes,
        a => m.search(queries, "qid", "qv", K, NProbe, allowedIds = a),
        m.searchRerank(queries, "qid", "qv", K, nprobe = NProbe,
          shortlist = Shortlist, vectors = base, vecCol = "embedding"),
        IvfSq.save(m, _), IvfSq.appendToSaved(m, _, _, "embedding"),
        IvfSq.load(spark, _, "vec_id").codes)
    },
    "pq" -> { metric =>
      val m = PqIndex.build(base, "vec_id", "embedding", m = 4, ksub = 16,
        metric = metric)
      new Ops(m.codes, a => m.search(queries, "qid", "qv", K, allowedIds = a),
        m.searchRerank(queries, "qid", "qv", K, shortlist = Shortlist,
          vectors = base, vecCol = "embedding"),
        PqIndex.save(m, _), PqIndex.appendToSaved(m, _, _, "embedding"),
        PqIndex.load(spark, _, "vec_id").codes)
    },
    "ivfpq" -> { metric =>
      val m = IvfPq.build(base, "vec_id", "embedding", kCoarse = 4, m = 4,
        ksub = 16, metric = metric)
      new Ops(m.codes,
        a => m.search(queries, "qid", "qv", K, NProbe, allowedIds = a),
        m.searchRerank(queries, "qid", "qv", K, nprobe = NProbe,
          shortlist = Shortlist, vectors = base, vecCol = "embedding"),
        IvfPq.save(m, _), IvfPq.appendToSaved(m, _, _, "embedding"),
        IvfPq.load(spark, _, "vec_id").codes)
    },
    "ivf" -> (ivf(base, queries, batch, _)),
    "ivf-float" -> (ivf(floatBase, floatQueries, floats(batch, "embedding"), _)),
    "gann" -> { metric =>
      val m = GannIndex.build(base, "vec_id", "embedding", leafSize = 64,
        spill = 0.15, nTrees = 3, metric = metric)
      new Ops(m.assign, a => m.search(queries, "qid", "qv", K, allowedIds = a),
        m.search(queries, "qid", "qv", K, beam = 4),
        GannIndex.save(m, _), GannIndex.appendToSaved(m, _, _),
        GannIndex.load(spark, _, "vec_id", "embedding").assign,
        codesDir = "assign")
    })

  private def ivf(in: DataFrame, qs: DataFrame, more: DataFrame,
      metric: String): Ops = {
    val m = IvfIndex.build(in, "vec_id", "embedding", k = 4, metric = metric)
    new Ops(m.assign,
      a => m.search(qs, "qid", "qv", K, NProbe, allowedIds = a),
      sys.error("IVF-flat has no searchRerank"),
      IvfIndex.save(m, _), IvfIndex.appendToSaved(m, _, _),
      IvfIndex.load(spark, _, "vec_id", "embedding").assign,
      codesDir = "assign", hasSecond = false, appended = more)
  }

  /** The saved vector type of the float input: l2 keeps the input's
    * float, cosine stores the normalized doubles. */
  private val storedType = Map(
    "ivf-float/l2" -> "array<float>", "ivf-float/cosine" -> "array<double>")

  /** (codes, search, filtered search, second search, appended codes)
    * digests — no second search for IVF-flat — and the saved layout, per
    * kind/metric. */
  private val expected: Map[String, (Seq[String], String)] = Map(
    "bq/l2" -> (Seq("7dbccb99ac1816c9", "50906d68735e074d", "909bf9f01aaadf16",
      "c3ebbfa677bd59e9", "6833927635d33401"),
      "codes,meta,thresholds|"),
    "bq/cosine" -> (Seq("cf6c04a1523e76e8", "15368186d91de041", "a0d7e6df7954d2cc",
      "1fcebb3e3a291e13", "1ce163e81fb709f0"),
      "codes,meta,thresholds|"),
    "ivfbq/l2" -> (Seq("7519d7c639dfbe15", "c7c50ddc20aee19f", "f4a5e896db775e16",
      "555466c39b443fc7", "8b4c25c8851e52c6"),
      "centroids,codes,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "ivfbq/cosine" -> (Seq("f8b03ff76117a9d2", "963dcf98e281afda", "1990e71b78d54d30",
      "698e097118902648", "cb7a39965300a230"),
      "centroids,codes,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "sq/l2" -> (Seq("033a7b04e5dfa999", "7bf73b1659a99733", "0093c3615f7f90b5",
      "c96959047a8389eb", "db24d4dd5cae7d16"),
      "codes,grid,meta|"),
    "sq/cosine" -> (Seq("f280af6cae2f7193", "2962ae327a438b3e", "7354bd8549e1b6f5",
      "9a98c79832fd4675", "48939ccd49f52b52"),
      "codes,grid,meta|"),
    "ivfsq/l2" -> (Seq("5d4eb3f46b02c4bb", "67471deb572da7fd", "237a1fd4425eca4d",
      "c96959047a8389eb", "23ddcd7abcaa1e08"),
      "centroids,codes,grid,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "ivfsq/cosine" -> (Seq("69aeec1981f85c61", "1de2fcbaca82ff6f", "317481d99945f18a",
      "9a98c79832fd4675", "56454447b1915773"),
      "centroids,codes,grid,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "pq/l2" -> (Seq("a9681eb403ebd193", "8728d93e9c66a016", "f729f8564893101a",
      "1b555fd60d70dcc4", "caa8f4d5d3e77362"),
      "codebooks,codes,meta|"),
    "pq/cosine" -> (Seq("ace369909638677a", "846b0f572f34cce1", "ea673efca30178ac",
      "5edfeb594f7c74fd", "66982592a13b5487"),
      "codebooks,codes,meta|"),
    "ivfpq/l2" -> (Seq("88541f8957c17752", "1c82908d6b26d6c6", "eae882732dd403f9",
      "7b2824b88845c4f6", "bb1c091e55bb8b21"),
      "centroids,codebooks,codes,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "ivfpq/cosine" -> (Seq("ea75a02230f26fbc", "8fc1759a6376d9c0", "64ccdf7be5a180cf",
      "fe2fae8201b03c8d", "0b3d41bd8dc14646"),
      "centroids,codebooks,codes,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "ivf/l2" -> (Seq("43f9b8e6f55eb834", "c96959047a8389eb", "7177fd0754585fc8",
      "3354f0a874fc5f18"),
      "assign,centroids,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "ivf/cosine" -> (Seq("3b00b5894e4bf41c", "9a98c79832fd4675", "f5624aab56941d50",
      "e7897bfb52e494a6"),
      "assign,centroids,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "ivf-float/l2" -> (Seq("34405b3d37795b4e", "13669a365e8bebfd",
      "9e50d7b74e2af502", "13aee2155cc23285"),
      "assign,centroids,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "ivf-float/cosine" -> (Seq("9b8f79962007434c", "0ca2058f2bf3a57b",
      "38352fd21f8d39d2", "d9a8f9a1dd73266d"),
      "assign,centroids,meta|cluster=0,cluster=1,cluster=2,cluster=3"),
    "gann/l2" -> (Seq("5efa41b4cc219fd5", "c6e70f961ed42711", "7177fd0754585fc8",
      "c96959047a8389eb", "612dd600dcc7f0f0"),
      "assign,meta,nodes|tree=0,tree=1,tree=2"),
    "gann/cosine" -> (Seq("e595a92536d5b3c1", "c625b5f55dd53dbe", "a5521934e1546891",
      "9a98c79832fd4675", "7db75148f5b1a475"),
      "assign,meta,nodes|tree=0,tree=1,tree=2"))

  /** Every kind's search output: qid as the query frame has it, the id
    * cast back to its type, `dist` and a non-null `rnk`. */
  private val SearchSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("vec_id", LongType), StructField("dist", DoubleType),
    StructField("rnk", IntegerType, nullable = false)))

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  /** SHA-256 prefix of the frame's rows, columns in name order and rows
    * sorted, so neither column nor partition order counts. */
  private def digest(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map((r: Row) => r.toSeq.map(render).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(x => f"${x & 0xff}%02x").mkString
  }

  /** Top-level dirs of a saved index, then the partition dirs of its
    * code dir. */
  private def layout(dir: String, codesDir: String): String = {
    def dirs(d: String) = Option(new java.io.File(d).listFiles()).toSeq
      .flatten.filter(_.isDirectory).map(_.getName).sorted
    dirs(dir).mkString(",") + "|" + dirs(s"$dir/$codesDir").mkString(",")
  }

  for ((kind, build) <- kinds; metric <- Seq("l2", "cosine"))
    test(s"$kind/$metric: codes, search, rerank, append and layout are pinned") {
      val ops = build(metric)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_parity_$kind").toString
      ops.save(dir)
      val loadedColumns = ops.load(dir).columns.toSeq
      ops.append(dir, ops.appended)
      val saved = spark.read.parquet(s"$dir/${ops.codesDir}")
      val appended = saved.filter(col("vec_id") >= 600)
      val out = ops.search(None)
      val got = (Seq(digest(ops.codes), digest(out),
        digest(ops.search(Some(allowed)))) ++ ops.secondOut.map(digest) :+
        digest(appended), layout(dir, ops.codesDir))
      assert(got === expected(s"$kind/$metric"))
      assert(out.schema === SearchSchema)
      assert(loadedColumns === ops.codes.columns.toSeq)
      storedType.get(s"$kind/$metric").foreach(t =>
        assert(saved.schema("embedding").dataType.simpleString === t))
    }

  test("each IVF-family build caches one frame: its posting table") {
    val builds = Seq[(String, () => DataFrame)](
      "ivf" -> (() => IvfIndex.build(base, "vec_id", "embedding", k = 4).assign),
      "ivfsq" -> (() => IvfSq.build(base, "vec_id", "embedding", kCoarse = 4).codes),
      "ivfpq" -> (() => IvfPq.build(base, "vec_id", "embedding", kCoarse = 4,
        m = 4, ksub = 16).codes),
      "ivfbq" -> (() => IvfBq.build(base, "vec_id", "embedding", kCoarse = 4).codes))
    base.count()
    val sc = spark.sparkContext
    val added = builds.map { case (kind, build) =>
      val before = sc.getPersistentRDDs.keySet
      build().count()
      kind -> (sc.getPersistentRDDs.keySet -- before).size
    }
    assert(added === builds.map(_._1 -> 1))
  }
}
