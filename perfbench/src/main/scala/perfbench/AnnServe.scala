package perfbench

import graft.index.{IvfIndex, IvfSq}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** `ann_serve`: build and save an `ivf` and an `ivfsq` index over the
  * generated vectors, then replay the seeded op plan: search batches of
  * `k = 10`, alternating the two kinds, about a quarter with an
  * allowed-id filter, and every tenth op an insert batch appended to
  * both saved indexes through `appendToSaved`. The first search on an
  * index after an insert reloads it, so later searches see the grown
  * index; that reload is part of the search op's time.
  *
  * Set-up builds and saves the pair of indexes once, then warms both
  * search paths with and without a filter. */
object AnnServe {
  val K = 10
  val NProbe = 2
  val Clusters = 8
  val FitSample = 1024
  val WarmupSearches = 32

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val t = c.tracer
    val vec = ArrayType(FloatType, containsNull = false)
    def local(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def grouped(path: String, key: String): Map[Int, Seq[Row]] =
      spark.read.parquet(path).collect().toSeq.groupBy(_.getAs[Int](key))
        .map { case (b, rs) => b -> rs.map(r => Row.fromSeq(r.toSeq.tail)) }

    val base = spark.read.parquet(s"${c.inputs}/base.parquet")
    val qSchema = StructType(Seq(StructField("qid", LongType), StructField("qv", vec)))
    val vSchema = StructType(Seq(StructField("id", LongType), StructField("embedding", vec)))
    val queries = grouped(s"${c.inputs}/queries.parquet", "batch")
      .map { case (b, rs) => b -> local(rs, qSchema) }
    val inserts = grouped(s"${c.inputs}/inserts.parquet", "batch")
      .map { case (b, rs) => b -> local(rs, vSchema) }
    val idSchema = StructType(Seq(StructField("id", LongType)))
    val filters = grouped(s"${c.inputs}/filters.parquet", "filter")
      .map { case (f, rs) => f -> local(rs, idSchema) }
    val plan = PlanReader.read(s"${c.inputs}/plan.json")

    def build(df: DataFrame, dir: String): (IvfIndex.Model, IvfSq.Model) = {
      val ivf = t.span("index.build.ivf") {
        val m = IvfIndex.build(df, "id", "embedding", k = Clusters, fitSample = FitSample)
        IvfIndex.save(m, s"$dir/ivf")
        m
      }
      val sq = t.span("index.build.ivfsq") {
        val m = IvfSq.build(df, "id", "embedding", kCoarse = Clusters)
        IvfSq.save(m, s"$dir/ivfsq")
        m
      }
      (ivf, sq)
    }

    final class Served(dir: String) {
      private var ivf: IvfIndex.Model = _
      private var sq: IvfSq.Model = _
      private def reload(): Unit = t.span("index.load") {
        ivf = IvfIndex.load(spark, s"$dir/ivf", "id", "embedding")
        sq = IvfSq.load(spark, s"$dir/ivfsq", "id")
      }
      reload()
      private var stale = false

      def search(kind: String, q: DataFrame, allowed: Option[DataFrame]): Array[Row] = {
        if (stale) { reload(); stale = false }
        val layer = if (allowed.isDefined) "index.search.filtered" else s"index.search.$kind"
        t.span(layer) {
          val res = if (kind == "ivf")
            ivf.search(q, "qid", "qv", K, NProbe, excludeSelf = false, allowedIds = allowed)
          else sq.search(q, "qid", "qv", K, NProbe, excludeSelf = false, allowedIds = allowed)
          res.select(col("qid"), col("id"), col("rnk")).collect()
        }
      }

      def insert(df: DataFrame): Unit = t.span("index.append") {
        IvfIndex.appendToSaved(ivf, s"$dir/ivf", df)
        IvfSq.appendToSaved(sq, s"$dir/ivfsq", df, "embedding")
        stale = true
      }

      def centroids: Map[String, Any] = Map(
        "ivf" -> ivf.centroids.map(_._2), "ivfsq" -> sq.coarse.map(_._2))
    }

    def replay(s: Served, o: PlanOp): Map[String, Any] = o match {
      case PlanOp("insert", _, b, _) =>
        s.insert(inserts(b))
        Map("batch" -> b)
      case PlanOp(_, kind, b, f) =>
        val rows = s.search(kind, queries(b), if (f >= 0) Some(filters(f)) else None)
        val byQ = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
          q.toString -> rs.sortBy(_.getInt(2)).map(_.getLong(1)) }
        Map("index" -> kind, "batch" -> b, "filter" -> f, "results" -> byQ)
    }

    build(base, s"${c.out}/index")
    val served = new Served(s"${c.out}/index")
    // warm-up in the plan's mix (alternating kinds, every fourth search
    // filtered): search latency falls while the JIT compiles (see
    // JVM_FLAGS in run.py), and timed searches still on that slope make
    // each run's level depend on how far its warm-up got
    t.span("warmup") {
      for (i <- 0 until WarmupSearches)
        replay(served, PlanOp("search", if (i % 2 == 0) "ivf" else "ivfsq",
          i % queries.size, if (i % 4 == 3) i / 4 % filters.size else -1))
    }
    c.summary("centroids") = served.centroids
    c.startMeasuring()
    val ops = plan.iterator
    while (c.timeLeft && ops.hasNext) {
      val o = ops.next()
      c.report.op(o.op)(replay(served, o))(identity)
    }
  }
}

final case class PlanOp(op: String, index: String, batch: Int, filter: Int)

object PlanReader {
  /** The generator's op plan: a JSON list of
    * {"op", "index"?, "batch", "filter"?} objects. */
  def read(path: String): Seq[PlanOp] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    (0 until root.size()).map { i =>
      val n = root.get(i)
      PlanOp(n.get("op").asText(), Option(n.get("index")).map(_.asText()).getOrElse(""),
        n.get("batch").asInt(), Option(n.get("filter")).map(_.asInt()).getOrElse(-1))
    }
  }
}
