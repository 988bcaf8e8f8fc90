package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the Spark
  * events that happen inside them.
  *
  * A span is opened on the client thread around one call (`span`), so
  * spans nest strictly and every op's spans share its op id. The
  * listeners (a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener) only log raw events with their wall-clock
  * times; `perfbench/check.py` attributes each event to the innermost span
  * open when it started. Everything stays in memory until [[dump]].
  *
  * With tracing on, the listeners are attached for every other timed op
  * only: the untraced ops in between give the tracing overhead within the
  * same run. With tracing off, only the block-storage tracker behind
  * `cache_mb` is attached. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis()
  private def now: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6
  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  val cache = new CacheTracker
  sc.addSparkListener(cache)

  private final class Span(val id: Int, val name: String, val parent: Int,
      val op: Int, val start: Double, val gc0: Long) {
    var end = 0.0
    var gc = 0L
  }
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = -1
  private val events = new EventLog
  var active = false

  if (enabled) attach()

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, now, gcMs)
      spans += s
      stack = s :: stack
      try f
      finally {
        s.end = now
        s.gc = gcMs - s.gc0
        stack = stack.tail
      }
    }

  def inOp[A](id: Int, kind: String)(f: => A): A = {
    op = id
    try span(s"op.$kind")(f) finally op = -1
  }

  private var measuring = false

  /** From here on, timed ops alternate traced and untraced (see the class
    * doc), starting traced; set-up and warm-up stay traced. */
  def startMeasuring(): Unit = {
    measuring = true
    if (enabled && !active) attach()
  }

  def afterOp(): Unit = if (enabled && measuring) { if (active) detach() else attach() }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Wait (at most 5 s) until no cached RDD block is left: `unpersist`
    * releases blocks asynchronously. */
  def awaitCacheRelease(): Unit = {
    val end = System.currentTimeMillis() + 5000
    drain()
    while (cache.bytes > 0 && System.currentTimeMillis() < end) {
      Thread.sleep(20)
      drain()
    }
  }

  private def attach(): Unit = {
    sc.addSparkListener(events)
    spark.listenerManager.register(events.planning)
    spark.streams.addListener(events.progress)
    active = true
  }

  private def detach(): Unit = {
    drain()
    sc.removeSparkListener(events)
    spark.listenerManager.unregister(events.planning)
    spark.streams.removeListener(events.progress)
    active = false
  }

  def dump(path: String): Unit = if (enabled) {
    drain()
    val sp = spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start" -> s.start, "end" -> s.end, "gc_ms" -> s.gc))
    val doc = events.synchronized {
      Map("spans" -> sp, "jobs" -> events.jobs.values.toSeq.sortBy(_("id").asInstanceOf[Int]),
        "stages" -> events.stages.map { case (id, a) => Map("id" -> id) ++ a },
        "planning" -> events.phases, "progress" -> events.progressJson.map(Json.Raw))
    }
    Files.write(Paths.get(path), Json(doc).getBytes(UTF_8))
  }

  /** Raw Spark events, logged on the listener-bus thread. */
  private final class EventLog extends SparkListener {
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Map[String, Any]]
    val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Map[String, Double]]
    val phases = ArrayBuffer.empty[Map[String, Any]]
    val progressJson = ArrayBuffer.empty[String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Map("id" -> e.jobId, "start" -> e.time, "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j + ("end" -> e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val mb = 1024.0 * 1024.0
        val add = Map(
          "tasks" -> 1.0,
          "task_cpu_ms" -> m.executorCpuTime / 1e6,
          "shuffle_mb" -> (m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten) / mb,
          "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / mb,
          "input_mb" -> m.inputMetrics.bytesRead / mb)
        val cur = stages.getOrElse(e.stageId, Map.empty[String, Double])
        stages(e.stageId) = add.map { case (k, v) => k -> (cur.getOrElse(k, 0.0) + v) }
      }
    }

    val planning: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) EventLog.this.synchronized {
          phases += Map("start" -> ph.map(_.startTimeMs).min,
            "end" -> ph.map(_.endTimeMs).max, "ms" -> ph.map(_.durationMs).sum)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    val progress: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        EventLog.this.synchronized { progressJson += e.progress.json }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
  }
}

/** Bytes of cached RDD blocks (memory + disk) held by the block manager,
  * and their peak since [[resetPeak]]. Peak rather than end-of-run: a
  * streaming trigger caches its batch kernels and releases them before
  * it returns, so storage at the end reads zero. */
final class CacheTracker extends SparkListener {
  private val blocks = scala.collection.mutable.HashMap.empty[org.apache.spark.storage.BlockId, Long]
  private var cur = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      cur += size - blocks.getOrElse(i.blockId, 0L)
      if (size == 0L) blocks.remove(i.blockId) else blocks(i.blockId) = size
      peak = math.max(peak, cur)
    }
  }
  // unpersist drops an RDD's blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_.asRDDId.exists(_.rddId == e.rddId)).toSeq
    gone.foreach(b => cur -= blocks.remove(b).getOrElse(0L))
  }
  def resetPeak(): Unit = synchronized { peak = cur }
  def bytes: Long = synchronized { cur }
  def peakMb: Double = synchronized { peak / (1024.0 * 1024.0) }
}
