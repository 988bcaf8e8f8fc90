package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark client: one process, one closed loop, driving the
  * public entry points of graft.pipeline, graft.index and
  * graft.streaming over inputs generated by `perfbench/gen.py`.
  *
  * It times each operation and writes what the checker needs to `--out`:
  * `ops.jsonl` (one record per operation, with its outputs),
  * `summary.json` (set-up times, cache peak) and, with `--trace 1`,
  * `trace_raw.json` (spans plus the Spark listener events they
  * enclose). `perfbench/run.py` checks the outputs and prints the
  * metrics; this program never decides whether an output is correct.
  *
  * Usage: Main --workload <name> --inputs <dir> --out <dir>
  *          --seconds <s> --trace <0|1>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = args("out")
    Files.createDirectories(Paths.get(out))
    val spark = Session.create(Session.cores(args("workload")))
    val tracer = new Tracer(spark, args("trace") == "1")
    val ctx = new Ctx(spark, args("inputs"), out, args("seconds").toDouble, tracer,
      new Report(s"$out/ops.jsonl", tracer))
    ctx.summary("session_s") = ctx.sinceStart
    try {
      args("workload") match {
        case "curate_index" => CurateIndex.run(ctx)
        case "ann_serve" => AnnServe.run(ctx)
        case "stream_dedup" => StreamDedupReplay.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      tracer.drain()
      ctx.summary("cache_peak_mb") = tracer.cache.peakMb
      tracer.dump(s"$out/trace_raw.json")
      Files.write(Paths.get(s"$out/summary.json"), Json(ctx.summary).getBytes(UTF_8))
    } finally {
      ctx.report.close()
      spark.stop()
    }
  }
}

object Session {
  /** Task slots per workload. `ann_serve`'s searches run a few tiny
    * tasks each and spend half their time on the driver; with four
    * slots on a four-core host, task threads, the driver, the JIT and
    * GC contend for the cores, and the searches' latency within a run
    * spread about half again as wide as with two. */
  def cores(workload: String): Int = if (workload == "ann_serve") 2 else 4

  /** A `local[cores]` session rooted in the working directory: scratch,
    * shuffle and warehouse files stay under `.perfbench/` of the
    * checkout. */
  def create(cores: Int): SparkSession = {
    val work = Paths.get(".perfbench").toAbsolutePath
    val s = graft.core.Tables.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What a workload needs: the session, its inputs and outputs, the
  * measuring budget and the op recorder. `summary` collects the
  * run-level figures written to summary.json. */
final class Ctx(val spark: SparkSession, val inputs: String, val out: String,
    val seconds: Double, val tracer: Tracer, val report: Report) {
  val summary = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private var t0 = 0L

  /** Seconds since the JVM started. */
  def sinceStart: Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Marks the end of set-up: from here on, ops are timed. */
  def startMeasuring(): Unit = {
    summary("setup_s") = sinceStart
    tracer.drain()
    tracer.cache.resetPeak()
    tracer.startMeasuring()
    t0 = System.nanoTime()
  }
  def elapsed: Double = (System.nanoTime() - t0) / 1e9
  def timeLeft: Boolean = elapsed < seconds
  /** Room for one more op that takes as long as the last one did. */
  def roomFor(lastOpS: Double): Boolean = elapsed + lastOpS <= seconds
}

/** One JSON line per operation. `body` is timed; `post` then captures
  * the op's outputs for the checker, untimed. An op whose body or
  * capture throws is recorded with `ok = false` and its reason; its time
  * is recorded but never counted as a success. */
final class Report(path: String, tracer: Tracer) {
  private val w = Files.newBufferedWriter(Paths.get(path), UTF_8)
  private var n = 0

  def op[A](kind: String)(body: => A)(post: A => Map[String, Any]): Boolean = {
    val id = n
    n += 1
    val traced = tracer.active
    val start = System.currentTimeMillis()
    val t = System.nanoTime()
    val res = scala.util.Try(tracer.inOp(id, kind)(body))
    val ms = (System.nanoTime() - t) / 1e6
    val out = res.flatMap(a => scala.util.Try(post(a)))
    val base = Map[String, Any]("op" -> id, "kind" -> kind, "start_ms" -> start,
      "ms" -> ms, "ok" -> out.isSuccess, "traced" -> traced)
    val rec = out.fold(e => base + ("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}"),
      extra => base ++ extra)
    w.write(Json(rec))
    w.newLine()
    w.flush()
    tracer.afterOp()
    out.isSuccess
  }

  def close(): Unit = w.close()
}

/** Minimal JSON encoder for the records above. */
object Json {
  /** Text that is already JSON, embedded as is. */
  final case class Raw(json: String)

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case Raw(json) => json
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => q(other.toString)
  }
}
