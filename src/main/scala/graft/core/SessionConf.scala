package graft.core

import org.apache.spark.sql.SparkSession

/** The one owner of session conf: how the command-line tools build their
  * session ([[local]]) and how engine code changes conf for the length of
  * one body ([[scoped]]). Every other `conf.set` in the engine is a
  * deliberate one-way set: `Recursion.levelLimit` and the `nanosAsLong`
  * fallback in [[Tables.apply]].
  */
object SessionConf {

  /** The tools' local session: master `local[cpus]` with `cpus` from
    * `SPARK_GRAFT_CPUS` (else `defaultCpus`), that many shuffle
    * partitions, no UI, the UTC session zone the oracle compares under,
    * [[Tables.configure]]'s testdata conf, and WARN logging. */
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `kv` set on `s`, then put every key back: its prior
    * value, or unset if it had none. The prior values are read before
    * anything is set, and the restore runs in a `finally`, so a body that
    * throws still restores.
    *
    * The conf is SESSION-GLOBAL while the body runs: any other caller of
    * the same session sees it. The engine runs one scoped body at a time
    * per session (Bench, Verify and the operator registry are
    * single-threaded), which is what makes this enough. A frame the body
    * returns lazily executes AFTER the restore, under the caller's conf;
    * a body whose conf must hold at execution time materializes its
    * result inside (see `Recursion.runScoped`). */
  def scoped[A](s: SparkSession, kv: (String, String)*)(body: => A): A = {
    val prior = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prior.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
