package graft.streaming

import graft.TestSpark
import graft.queries.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The composition rule behind StreamDedup.ladderAdmit: every document's
  * keys enter every tier's state regardless of admission, so the
  * ladder's admitted set is exactly the INTERSECTION of the admitted
  * sets of its four tiers, each run alone through the same admission
  * loop. Fixture: StreamLadderAdmitSpec's four chunks, one per tier's
  * drop shape. */
class StreamTierCompositionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(tag: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_stc_$tag")
    d.toFile.deleteOnExit()
    d
  }

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def land(landing: java.nio.file.Path, df: DataFrame,
      i: Int, base: Long): Unit = {
    val staging = tmp(s"stage$i")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = java.nio.file.Files.list(staging).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    val dest = landing.resolve(f"chunk$i%03d.parquet")
    java.nio.file.Files.move(part, dest)
    dest.toFile.deleteOnExit()
    dest.toFile.setLastModified(base + i * 2000L)
    ()
  }

  private val tA =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val t22 = "red green blue cyan magenta yellow"
  private val chunks: Seq[Seq[(Long, String)]] = Seq(
    Seq(10L -> tA, 11L -> "one two three four five six seven eight"),
    Seq(20L -> tA, 21L -> "gamma delta epsilon zeta eta theta iota",
      22L -> t22),
    Seq(30L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu",
      31L -> "paris london tokyo berlin madrid rome",
      32L -> (tA + " " + (1 to 20).map(i => s"n$i").mkString(" "))),
    Seq(40L -> "north south east west up down left right",
      41L -> t22))

  /** Replay the fixture through `start` and return (doc_id → batch). */
  private def replay(tag: String)(
      start: (DataFrame, String, String) => org.apache.spark.sql.streaming.StreamingQuery)
      : Map[Long, Int] = {
    val landing = tmp(s"${tag}land"); val state = tmp(s"${tag}state")
    val ck = tmp(s"${tag}ck")
    val base = System.currentTimeMillis()
    chunks.zipWithIndex.foreach { case (c, i) => land(landing, docs(c), i, base) }
    val stream = spark.readStream.schema(docs(Seq((0L, "x y z"))).schema)
      .option("maxFilesPerTrigger", "1").parquet(landing.toString)
    val q = start(stream, state.toString, ck.toString)
    try q.processAllAvailable() finally q.stop()
    StreamDedup.readAdmitted(spark, state.toString)
      .select(col("doc_id"), col("batch").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  test("each tier alone through admit: the intersection of their " +
      "admitted sets equals ladderAdmit's") {
    import StreamDedup._
    val tiers = Seq(Exact, Lsh(Dedup.MINHASH_VERIFY_T), Winnow(50L, 2L),
      Contain(4, 5, "auto"))
    val alone = tiers.map(t =>
      t.name -> replay(t.name)(admit(Seq(t), _, _, _))).toMap
    val ladder = replay("ladder")(ladderAdmit(_, _, _))
    val intersection = alone.values.map(_.toSet).reduce(_ intersect _).toMap
    assert(ladder == intersection)
    assert(ladder == Map(10L -> 1, 11L -> 1, 22L -> 2, 31L -> 3, 40L -> 4))
    // not vacuous: every tier alone admits something the ladder drops
    alone.foreach { case (name, ids) =>
      assert(ids.size > ladder.size, s"$name alone dropped every ladder drop")
    }
  }
}
