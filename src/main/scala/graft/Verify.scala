package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional name filter for local iteration (the driver passes 2 args
    // → full dump; scripts/check_oracle.py forwards extra names)
    val only = args.drop(2).toSet
    val spark = graft.core.SessionConf.local(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // Dump-layer normalization: Spark TIMESTAMP is LTZ and lands in
    // parquet as tz-adjusted (or INT96 → pandas ns), while the DuckDB
    // oracle emits naive microsecond timestamps. Casting to TIMESTAMP_NTZ
    // under the UTC session zone keeps the wall-clock value bit-identical
    // and makes both engines' outputs read back as naive datetime64[us],
    // so the driver's type-encoding hash sees the same dtype on both
    // sides. Query code stays idiomatic LTZ; only the dump normalizes.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val okNames = scala.collection.mutable.ArrayBuffer.empty[String]
    val errNames = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val raw = fn(spark, sfDir)
        val out = raw.schema.fields.filter(_.dataType == TimestampType)
          .foldLeft(raw)((d, f) =>
            d.withColumn(f.name, col(f.name).cast(TimestampNTZType)))
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // each entry caches its own derived tables (signatures, shingle
        // sets, index assignments); dropping them once the dump is on disk
        // keeps the harness's memory footprint per-query, not cumulative —
        // the long-lived-session hygiene COVERAGE.md documents.
        // Caches.clear also evicts memoized index models, so no stale
        // model is left pointing at an uncached assignment frame; the
        // catalog sweep behind it catches anything untracked.
        graft.core.Caches.clear(spark)
        spark.catalog.clearCache()
        okNames += name
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errNames += name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable run summary (round-15 armor: CORRECTNESS_r15.json
    // shipped as literal `{}`, and nothing in the round's artifacts could
    // say whether the dump itself ran). One final stdout line + the same
    // JSON beside the dump, so a truncated/empty driver capture is
    // instantly attributable: summary present-and-green = harness-side
    // loss; summary absent or failed-list non-empty = engine-side.
    val summary =
      s"""{"verify_total":${okNames.size + errNames.size},""" +
      s""""verify_ok":${okNames.size},""" +
      s""""verify_failed":${errNames.sorted.map(q).mkString("[", ",", "]")},""" +
      s""""oracle_entries":${SparkEntry.oracleSql.size}}"""
    // the FILE additionally carries this run's dumped-entry names so the
    // gate script can ignore stale q* dirs left in a reused OUTDIR by a
    // previous round's renamed/removed entries (round-17 advice); the
    // printed line stays short — the driver's stdout tail budget is
    // finite
    val summaryFile = summary.dropRight(1) +
      s""","verify_ok_names":${okNames.sorted.map(q).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summaryFile)
    spark.stop()
    println(summary)
    System.out.flush()
  }
}
