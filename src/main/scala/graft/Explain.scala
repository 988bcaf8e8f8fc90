package graft

/** Dev tool: print the formatted physical plan and wall time of queries.
  * Usage: runMain graft.Explain <name>[,<name>...] [sfDir] [--time-only] [--warm]
  * `--warm` runs each entry twice and times the second pass — steady-state
  * like Bench's min-of-two (codegen compiled, memoized index/postings
  * caches hot); default is the cold single invocation including builds.
  * A comma-separated list runs IN SEQUENCE in one session — the tool for
  * reproducing in-suite cache interactions between entries (the bench
  * runs all entries through one session too).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.SessionConf.local(defaultCpus = 32)
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    } catch { case _: Throwable => () }
    // time construction + execution together — index/iterative queries do
    // eager work while building the frame, exactly as Bench measures.
    // In explain mode the plan print shares the single invocation: a
    // second construction would rebuild indexes warm against the first
    // run's caches and understate the time.
    val timeOnly = args.contains("--time-only")
    val warm = args.contains("--warm")
    // --reps=N: N timed invocations after the warm pass, every wall
    // printed plus the min — the bench's min-under-asymmetric-noise
    // estimator for standalone A/B experiments on a bursty host
    // malformed or non-positive values fail loud with usage instead of a
    // bare NumberFormatException (or an empty walls seq) after the
    // possibly-expensive warm pass
    val reps = args.find(_.startsWith("--reps="))
      .map { a =>
        scala.util.Try(a.stripPrefix("--reps=").toInt).toOption
          .filter(_ >= 1)
          .getOrElse(throw new IllegalArgumentException(
            s"bad '$a' — usage: --reps=<N>=1..> (timed invocations after the warm pass)"))
      }.getOrElse(1)
    names.foreach { name =>
      if (warm) SparkEntry.queries(name)(spark, sfDir).count()
      val walls = (1 to reps).map { _ =>
        // mirror Bench's timed-pass protocol (round 18): entry-result
        // caches are released before every timed invocation. Within one
        // Bench pass an entry can still hit transient caches an earlier
        // entry of the same pass built, so a standalone number can price
        // more work than the same entry's suite number
        graft.core.Caches.clearTransient(spark)
        System.gc()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (!timeOnly) df.explain("formatted")
        val n = df.count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val n = walls.head._1
      val label = if (timeOnly) "" else " (incl. explain)"
      val all = walls.map(w => f"${w._2}%.2f").mkString(",")
      println(f"[explain] $name rows=$n time=${walls.map(_._2).min}%.2f s$label" +
        (if (reps > 1) s" reps=[$all]" else ""))
    }
    spark.stop()
  }
}
