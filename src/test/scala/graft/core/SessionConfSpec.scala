package graft.core

import graft.TestSpark
import graft.queries.StreamingQ
import graft.streaming.Streams
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

/** [[SessionConf.scoped]] restores what it changes (set, unset, on a
  * throw, nested), the stream replay harness owns its state-partition
  * count, and no hand-written conf block or session builder grows back
  * into the main sources. */
class SessionConfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Parts = "spark.sql.shuffle.partitions"
  private val Free = "graft.test.sessionconf.key"

  test("scoped restores a key that was explicitly set") {
    val before = spark.conf.get(Parts)
    val seen = SessionConf.scoped(spark, Parts -> "11")(spark.conf.get(Parts))
    assert(seen == "11")
    assert(spark.conf.get(Parts) == before)
  }

  test("scoped unsets a key that had no value") {
    assert(spark.conf.getOption(Free).isEmpty)
    SessionConf.scoped(spark, Free -> "x") {
      assert(spark.conf.get(Free) == "x")
    }
    assert(spark.conf.getOption(Free).isEmpty)
  }

  test("scoped restores when the body throws") {
    val before = spark.conf.get(Parts)
    val e = intercept[IllegalStateException] {
      SessionConf.scoped(spark, Parts -> "13", Free -> "y") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.conf.get(Parts) == before)
    assert(spark.conf.getOption(Free).isEmpty)
  }

  test("nested scopes on the same key unwind in order") {
    val before = spark.conf.get(Parts)
    SessionConf.scoped(spark, Parts -> "5") {
      SessionConf.scoped(spark, Parts -> "6") {
        assert(spark.conf.get(Parts) == "6")
      }
      assert(spark.conf.get(Parts) == "5")
    }
    assert(spark.conf.get(Parts) == before)
  }

  test("runToMemory replays at the harness's state partitions, " +
      "whatever the session's count") {
    val sink = "sessionconf_windowed_sink"
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == sink)
          e.progress.stateOperators.foreach(o => parts.add(o.numShufflePartitions.toInt))
    }
    spark.streams.addListener(listener)
    try {
      SessionConf.scoped(spark, Parts -> "7") {
        val stream = StreamingQ.stagedEventStream(spark, TestSpark.sf0001, "sessionconf")
        val out = Streams.runToMemory(Streams.windowedCounts(stream), sink,
          OutputMode.Complete())
        assert(out.count() > 0)
        assert(spark.conf.get(Parts) == "7")
      }
      // progress events reach listeners asynchronously
      eventually(timeout(30.seconds)) { assert(!parts.isEmpty) }
      assert(parts.asScala.toSet == Set(Streams.ReplayStatePartitions))
    } finally spark.streams.removeListener(listener)
  }

  test("main sources set conf and build sessions only through SessionConf") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val lines = {
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.map {
        case (l, i) => (f.getFileName.toString, i + 1, l)
      }
    }.filter(_._1 != "SessionConf.scala")
    // the two deliberate one-way sets: the recursion level limit and the
    // testdata nanosAsLong fallback
    val oneWay = Map(
      "Recursion.scala" -> "spark.sql.cteRecursionLevelLimit",
      "Tables.scala" -> "spark.sql.legacy.parquet.nanosAsLong")
    val sets = lines.filter(_._3.contains("conf.set("))
    val stray = sets.filterNot { case (f, _, l) => oneWay.get(f).exists(l.contains) }
    assert(stray.isEmpty, s"conf.set outside SessionConf: ${stray.mkString("; ")}")
    assert(sets.map(_._1).sorted == oneWay.keys.toList.sorted,
      s"expected one one-way set each in ${oneWay.keys.mkString(", ")}: $sets")
    val builders = lines.filter(_._3.contains("SparkSession.builder()"))
    assert(builders.isEmpty, s"session builder outside SessionConf: $builders")
  }
}
