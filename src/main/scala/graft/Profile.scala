package graft

import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Dev measurement tool (guide §1: measure first): run entries with a
  * listener that attributes wall time to Spark JOBS and aggregates stage
  * task metrics, so a slow entry can be split into "how many jobs, which
  * ones are slow, how much is shuffle vs compute vs scheduling".
  *
  * Usage: runMain graft.Profile <name>[,<name>...] [sfDir] [--cold]
  * Default is the Bench-like steady state: one untimed priming pass
  * (memoized caches built), then the profiled pass.
  */
object Profile {
  private final case class JobRec(id: Int, start: Long, var end: Long = -1L,
    var desc: String = "")

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.1")
    val cold = args.contains("--cold")
    val spark = graft.core.SessionConf.local(defaultCpus = 32)
    // warm-up identical in spirit to Bench's
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    } catch { case _: Throwable => () }

    val jobs = TrieMap.empty[Int, JobRec]
    // stageId -> (name, task time ms, tasks, input rows-ish via records)
    val stages = TrieMap.empty[Int, (String, Long, Long)]
    @volatile var taskTimeMs = 0L
    @volatile var taskCount = 0L
    @volatile var shufReadB = 0L
    @volatile var shufWriteB = 0L
    @volatile var gcMs = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, e.time, desc = d)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.putIfAbsent(e.stageInfo.stageId,
          (e.stageInfo.name.take(120), 0L, 0L)); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskTimeMs += m.executorRunTime
          gcMs += m.jvmGCTime
          shufReadB += m.shuffleReadMetrics.totalBytesRead
          shufWriteB += m.shuffleWriteMetrics.bytesWritten
          stages.get(e.stageId).foreach { case (n, t, c) =>
            stages.put(e.stageId, (n, t + m.executorRunTime, c + 1)); ()
          }
        }
        taskCount += 1
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (!cold) { try fn(spark, sfDir).count() catch { case _: Throwable => () } }
      // mirror Bench's timed-pass protocol: entry-result caches are
      // released before the profiled pass (round 18)
      graft.core.Caches.clearTransient(spark)
      System.gc()
      jobs.clear(); stages.clear(); taskTimeMs = 0; taskCount = 0
      shufReadB = 0; shufWriteB = 0; gcMs = 0
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // let straggling listener events drain (listenerBus is private[spark])
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val recs = jobs.values.toSeq.sortBy(_.start)
      val jobWall = recs.filter(_.end > 0).map(r => r.end - r.start).sum / 1e3
      println(f"[profile] $name rows=$n wall=$wall%.2f s jobs=${recs.size} " +
        f"jobWallSum=$jobWall%.2f s tasks=$taskCount taskTime=${taskTimeMs / 1e3}%.2f s " +
        f"gc=${gcMs / 1e3}%.2f s shufRead=${shufReadB / 1e6}%.1f MB shufWrite=${shufWriteB / 1e6}%.1f MB")
      // gaps between consecutive jobs = driver-side time (planning, collects)
      val gaps = recs.sliding(2).collect {
        case Seq(a, b) if a.end > 0 => b.start - a.end
      }.toSeq
      val driverGap = gaps.filter(_ > 0).sum / 1e3
      println(f"[profile] $name driverGapSum=$driverGap%.2f s " +
        f"(time between jobs: planning/collect/fs)")
      recs.sortBy(r => -(r.end - r.start)).take(15).foreach { r =>
        val d = if (r.desc.isEmpty) "" else s"  «${r.desc.take(70)}»"
        println(f"[profile]   job ${r.id}%4d ${(r.end - r.start) / 1e3}%7.3f s$d")
      }
      stages.toSeq.sortBy(-_._2._2).take(12).foreach {
        case (id, (nm, t, c)) =>
          println(f"[profile]   stage $id%4d taskTime=${t / 1e3}%7.2f s tasks=$c%3d  $nm")
      }
    }
    spark.stop()
  }
}
