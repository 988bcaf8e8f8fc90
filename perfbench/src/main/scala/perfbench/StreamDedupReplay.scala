package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.streaming.StreamDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** `stream_dedup`: a file-arrival replay through the composed admission
  * ladder. One op = land one generated file in the watched directory and
  * wait in `processAllAvailable` until its trigger has committed, so the
  * next file lands only after the previous one is admitted. Halfway
  * through the measuring budget the query is stopped, its state folded
  * with `compactState`, and a new query started on the same checkpoint
  * (the documented maintenance protocol).
  *
  * Set-up starts the query and lands the first two files untimed (a
  * trigger without state, then one with) as its warm-up. */
object StreamDedupReplay {
  val MinTimedTriggers = 2
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  final class Replay(c: Ctx) {
    private val root = Paths.get(c.out, "replay")
    val landing: Path = Files.createDirectories(root.resolve("landing"))
    val state: String = root.resolve("state").toString
    private val checkpoint = root.resolve("checkpoint").toString
    private var q: StreamingQuery = _

    private def stream: DataFrame = c.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(landing.toString)

    def start(): Unit = { q = StreamDedup.ladderAdmit(stream, state, checkpoint) }
    def stop(): Unit = if (q != null) { q.stop(); q = null }

    /** Land one file (write under a hidden name, then rename) and wait
      * until the query has processed it. Returns the batch's progress. */
    def trigger(file: Path): Option[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val tmp = landing.resolve(s".${file.getFileName}")
      Files.copy(file, tmp, StandardCopyOption.REPLACE_EXISTING)
      val dest = landing.resolve(file.getFileName)
      Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      q.recentProgress.filter(_.numInputRows > 0).lastOption
    }

    def admitted(): Array[(Long, Long)] =
      StreamDedup.readAdmitted(c.spark, state)
        .select(col("doc_id"), col("batch")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))

    /** Size of every state file by path (admitted output aside). */
    def stateFiles(): Map[String, Long] = {
      val dir = Paths.get(state)
      if (!Files.exists(dir)) Map.empty
      else Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
          !dir.relativize(p).toString.startsWith("admitted"))
        .map(p => p.toString -> Files.size(p)).toMap
    }
  }

  def run(c: Ctx): Unit = {
    val t = c.tracer
    val files = Files.list(Paths.get(c.inputs, "files")).iterator().asScala.toSeq
      .sortBy(_.toString).iterator
    val r = new Replay(c)
    var landedBytes = 0L
    var written = 0L
    var prevFiles = Map.empty[String, Long]
    def countWrites(): Unit = if (t.enabled) {
      val now = r.stateFiles()
      written += now.collect { case (p, s) if !prevFiles.get(p).contains(s) => s }.sum
      prevFiles = now
    }
    def trigger(kind: String): Unit = {
      val f = files.next()
      c.report.op(kind)(t.span("streaming.trigger")(r.trigger(f))) { p =>
        landedBytes += Files.size(f)
        countWrites()
        Map("file" -> f.getFileName.toString,
          "batch" -> p.map(_.batchId).getOrElse(-1L),
          "batch_ms" -> p.map(_.batchDuration).getOrElse(-1L))
      }
    }

    // set-up: start the query; the first two files (a trigger without
    // state, then one with) are its warm-up
    r.start()
    t.span("warmup")((1 to 2).foreach(_ => trigger("warmup")))
    c.startMeasuring()
    // at least two timed triggers, so the compaction and restart always
    // fall between them: a trigger takes about as long as a short run
    // measures, and a run whose first trigger crossed the budget stopped
    // there, which changed what op_p50_ms and items_per_s spanned
    var compacted = false
    var timed = 0
    while ((c.timeLeft || timed < MinTimedTriggers) && files.hasNext) {
      if (!compacted && (c.elapsed >= c.seconds / 2 || timed == MinTimedTriggers - 1)) {
        r.stop()
        val before = r.admitted()
        t.span("streaming.compact")(StreamDedup.compactState(c.spark, r.state))
        countWrites()
        c.summary("admitted_before_compact") = before.map(_._1).sorted
        c.summary("admitted_after_compact") = r.admitted().map(_._1).sorted
        t.span("streaming.restart")(r.start())
        compacted = true
      }
      trigger("trigger")
      timed += 1
    }
    r.stop()
    c.summary("compacted") = compacted
    c.summary("admitted") = r.admitted().map { case (d, b) => Seq(d, b) }
    val st = r.stateFiles()
    c.summary("state_bytes") = st.values.sum
    c.summary("state_files") = st.size
    c.summary("state_written_bytes") = written
    c.summary("landed_bytes") = landedBytes
  }
}
