package graft.index

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The O(batch) persisted insert path (`appendToSaved` + [[Blocks]]):
  * an append writes ONLY the encoded batch as new parquet files — the
  * existing blocks are never read or rewritten — and the reloaded index
  * searches identically to the in-memory [[Compact.append]] insert path
  * over the same rows. This is the touched-rows accounting the
  * in-memory path can't offer: its per-insert union materialization is
  * O(corpus), the persisted path is O(batch) (reference: the flat
  * in-memory append, gann.py:216-220). */
class BlockAppendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sf0001}/embeddings.parquet").cache()
  private lazy val base = emb.filter(col("vec_id") < 400).cache()
  private lazy val batch1 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 500)
  private lazy val batch2 = emb.filter(col("vec_id") >= 500 && col("vec_id") < 600)

  private lazy val queries = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qv")).cache()

  /** (path → lastModified) of every parquet data file under dir. */
  private def dataFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified).toMap
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs `body` starts. A listener counts the job starts of a job
    * group of its own; a marker job run after the body in the same group
    * ends the count, since the listener bus delivers events in order. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime}"
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => started.put(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "search")
    try {
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      Iterator.continually(started.poll(60, TimeUnit.SECONDS))
        .map { d => assert(d != null, "the marker job never reached the listener"); d }
        .takeWhile(_ != "marker").size
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A driver-local copy of `df`: collecting it starts no job. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private lazy val localQueries = local(queries)
  private lazy val localAllowed =
    local(base.filter(col("vec_id") % 3 === 0).select(col("vec_id")))

  /** Each search, unfiltered and with the local allowed ids, returns 5
    * rows for each of the 10 queries in 1 job, or at most 2 filtered. */
  private def assertOneJob(searches: Seq[Option[DataFrame] => DataFrame]): Unit = {
    val allowed = localAllowed
    for (search <- searches) {
      var n = 0
      assert(jobsOf { n = search(None).collect().length } === 1)
      assert(n === 50)
      assert(jobsOf { n = search(Some(allowed)).collect().length } <= 2)
      assert(n === 50)
    }
  }

  test("IVF and IVF-SQ: a loaded index serves a local query batch in one job") {
    val q = localQueries
    val dirIvf = tmp("graft_jobs_ivf")
    IvfIndex.save(IvfIndex.build(base, "vec_id", "embedding", k = 4), dirIvf)
    val dirSq = tmp("graft_jobs_ivfsq")
    IvfSq.save(IvfSq.build(base, "vec_id", "embedding", kCoarse = 4), dirSq)
    val ivf = IvfIndex.load(spark, dirIvf, "vec_id", "embedding")
    val sq = IvfSq.load(spark, dirSq, "vec_id")
    assertOneJob(Seq(
      a => ivf.search(q, "qid", "qv", 5, nprobe = 2, allowedIds = a),
      a => sq.search(q, "qid", "qv", 5, nprobe = 2, allowedIds = a)))
  }

  test("GANN: a loaded index serves a local query batch in one job") {
    val dir = tmp("graft_jobs_gann")
    GannIndex.save(GannIndex.build(base, "vec_id", "embedding", leafSize = 64,
      spill = 0.15, nTrees = 3), dir)
    val gann = GannIndex.load(spark, dir, "vec_id", "embedding")
    val q = localQueries
    assertOneJob(Seq(
      a => gann.search(q, "qid", "qv", 5, allowedIds = a),
      a => gann.search(q, "qid", "qv", 5, beam = 4, allowedIds = a)))
  }

  test("IVF: appendToSaved leaves existing blocks untouched, search == in-memory insert") {
    val dir = tmp("graft_blk_ivf")
    val m = IvfIndex.build(base, "vec_id", "embedding", k = 4)
    IvfIndex.save(m, dir)
    val before = dataFiles(s"$dir/assign")
    assert(before.nonEmpty)

    IvfIndex.appendToSaved(m, dir, batch1)
    val after1 = dataFiles(s"$dir/assign")
    // O(batch) accounting: every pre-existing block file still there,
    // byte-identical mtime — the append only ADDED files
    before.foreach { case (f, t) =>
      assert(after1.contains(f), s"block $f was rewritten or removed")
      assert(after1(f) === t, s"block $f was modified")
    }
    assert(after1.size > before.size)

    IvfIndex.appendToSaved(m, dir, batch2)
    val after2 = dataFiles(s"$dir/assign")
    after1.foreach { case (f, t) => assert(after2.get(f).contains(t)) }

    // reloaded search ≡ the in-memory insert path over the same rows
    val loaded = IvfIndex.load(spark, dir, "vec_id", "embedding")
    val inMem = IvfIndex.insert(IvfIndex.insert(m, batch1), batch2)
    assert(rows(loaded.search(queries, "qid", "qv", 5, nprobe = 4))
      === rows(inMem.search(queries, "qid", "qv", 5, nprobe = 4)))
  }

  test("BQ: appendToSaved grows the saved index by exactly the batch") {
    val dir = tmp("graft_blk_bq")
    val m = BqIndex.build(base, "vec_id", "embedding")
    BqIndex.save(m, dir)
    val n0 = spark.read.parquet(s"$dir/codes").count()
    val before = dataFiles(s"$dir/codes")

    BqIndex.appendToSaved(m, dir, batch1, "embedding")
    val after = dataFiles(s"$dir/codes")
    before.foreach { case (f, t) => assert(after.get(f).contains(t)) }
    assert(spark.read.parquet(s"$dir/codes").count() === n0 + batch1.count())

    val loaded = BqIndex.load(spark, dir, "vec_id")
    val inMem = BqIndex.insert(m, batch1, "embedding")
    assert(rows(loaded.search(queries, "qid", "qv", 5))
      === rows(inMem.search(queries, "qid", "qv", 5)))
  }

  test("GANN: appended rows route through the frozen forest identically") {
    val dir = tmp("graft_blk_gann")
    val m = GannIndex.build(base, "vec_id", "embedding", leafSize = 64)
    GannIndex.save(m, dir)
    val before = dataFiles(s"$dir/assign")

    GannIndex.appendToSaved(m, dir, batch1)
    val after = dataFiles(s"$dir/assign")
    before.foreach { case (f, t) => assert(after.get(f).contains(t)) }

    val loaded = GannIndex.load(spark, dir, "vec_id", "embedding")
    val inMem = GannIndex.insert(m, batch1)
    assert(rows(loaded.search(queries, "qid", "qv", 5))
      === rows(inMem.search(queries, "qid", "qv", 5)))
  }

  test("IVF-PQ and IVF-BQ: persisted append matches in-memory insert") {
    val dirPq = tmp("graft_blk_ivfpq")
    val mPq = IvfPq.build(base, "vec_id", "embedding", kCoarse = 4, m = 16)
    IvfPq.save(mPq, dirPq)
    IvfPq.appendToSaved(mPq, dirPq, batch1, "embedding")
    val ldPq = IvfPq.load(spark, dirPq, "vec_id")
    val imPq = IvfPq.insert(mPq, batch1, "embedding")
    assert(rows(ldPq.search(queries, "qid", "qv", 5, nprobe = 4))
      === rows(imPq.search(queries, "qid", "qv", 5, nprobe = 4)))

    val dirBq = tmp("graft_blk_ivfbq")
    val mBq = IvfBq.build(base, "vec_id", "embedding", kCoarse = 4)
    IvfBq.save(mBq, dirBq)
    IvfBq.appendToSaved(mBq, dirBq, batch1, "embedding")
    val ldBq = IvfBq.load(spark, dirBq, "vec_id")
    val imBq = IvfBq.insert(mBq, batch1, "embedding")
    assert(rows(ldBq.search(queries, "qid", "qv", 5, nprobe = 4))
      === rows(imBq.search(queries, "qid", "qv", 5, nprobe = 4)))

    val dirP = tmp("graft_blk_pq")
    val mP = PqIndex.build(base, "vec_id", "embedding", m = 16, ksub = 16)
    PqIndex.save(mP, dirP)
    PqIndex.appendToSaved(mP, dirP, batch1, "embedding")
    val ldP = PqIndex.load(spark, dirP, "vec_id")
    val imP = PqIndex.insert(mP, batch1, "embedding")
    assert(rows(ldP.search(queries, "qid", "qv", 5))
      === rows(imP.search(queries, "qid", "qv", 5)))
  }

  test("SQ: appendToSaved grows the saved index by exactly the batch") {
    val dir = tmp("graft_blk_sq")
    val m = SqIndex.build(base, "vec_id", "embedding")
    SqIndex.save(m, dir)
    val n0 = spark.read.parquet(s"$dir/codes").count()
    val before = dataFiles(s"$dir/codes")

    SqIndex.appendToSaved(m, dir, batch1, "embedding")
    val after = dataFiles(s"$dir/codes")
    before.foreach { case (f, t) => assert(after.get(f).contains(t)) }
    assert(spark.read.parquet(s"$dir/codes").count() === n0 + batch1.count())

    val loaded = SqIndex.load(spark, dir, "vec_id")
    val inMem = SqIndex.insert(m, batch1, "embedding")
    assert(rows(loaded.search(queries, "qid", "qv", 5))
      === rows(inMem.search(queries, "qid", "qv", 5)))
  }

  test("IVF-SQ: persisted append matches in-memory insert") {
    val dir = tmp("graft_blk_ivfsq")
    val m = IvfSq.build(base, "vec_id", "embedding", kCoarse = 4)
    IvfSq.save(m, dir)
    IvfSq.appendToSaved(m, dir, batch1, "embedding")
    val loaded = IvfSq.load(spark, dir, "vec_id")
    val inMem = IvfSq.insert(m, batch1, "embedding")
    assert(rows(loaded.search(queries, "qid", "qv", 5, nprobe = 4))
      === rows(inMem.search(queries, "qid", "qv", 5, nprobe = 4)))
  }
}
