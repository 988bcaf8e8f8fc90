package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Reading via `spark.read.parquet` keeps the scan declarative so Catalyst
  * pushes filters and prunes columns at the parquet level — at 100 TB the
  * same call resolves to a distributed multi-split scan with no code change.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session conf needed to read the testdata: events.ts is parquet
    * TIMESTAMP(NANOS), which Spark refuses by default; reading it as long
    * nanos and truncating to micros matches DuckDB's TIMESTAMP cast, so
    * the oracle agrees. Set once at session construction, through
    * [[configure]]. */
  val sessionConf: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Apply [[sessionConf]] to a session builder — the single place the
    * testdata-required confs live. Every session builder routes through
    * this: the tools' [[SessionConf.local]], the test suites' shared
    * session and the perfbench client. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    sessionConf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Spread a small input across the cluster before CPU-heavy per-row
    * compute (shingling, per-token hashing, vector math). The driver's
    * small parquet tables are one row group = one scan split, so without
    * this the whole kernel runs on a single core no matter the cluster
    * size. At 100 TB scans arrive multi-split and this degrades to a
    * no-op (estimated splits ≥ default parallelism ⇒ returned
    * unchanged); the shuffle it introduces moves only the raw rows once,
    * before the expensive projection, and every caller caches
    * immediately above it. Apply ONLY at compute-heavy cached bases —
    * putting it under a filterable scan would hide the filter from
    * parquet pushdown.
    *
    * The split count is ESTIMATED at plan time from the relation's size
    * statistics (parquet reports summed file sizes) against
    * `spark.sql.files.maxPartitionBytes` — the same ratio the scan
    * planner packs splits by — instead of `df.rdd.getNumPartitions`,
    * which would construct the full RDD conversion lineage for every
    * spread caller just to read one number. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // the GUARANTEED scan parallelism is the file count: byte-range
    // split math over-promises for single-row-group files (all rows
    // land in the one split containing the row group's midpoint — the
    // shape every small/mid parquet table written in one commit has),
    // while a many-files table is already ≥fileCount-way parallel and
    // must not earn a redundant full-table repartition. Metadata-only:
    // reads the file index, never constructs the scan RDD.
    val fileCount = df.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        lr.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }
    val byteEstimate = {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val maxSplit = org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
      (bytes / BigInt(math.max(maxSplit, 1L))).toLong + 1
    }
    // max of both signals: a many-files table is ≥fileCount-way parallel
    // whatever its size, and a SINGLE large multi-row-group file still
    // splits by byte range — taking fileCount alone would buy that case
    // a redundant full-table repartition
    val estSplits = fileCount match {
      case Some(n) => math.max(n.toLong, byteEstimate)
      case None => byteEstimate // derived/cached frame
    }
    if (estSplits >= p) df else df.repartition(p)
  }

  /** Load one testdata table with the dtype-guarded `ts` normalization.
    *
    * SESSION-CONF SIDE EFFECT (documented contract): if the session was
    * built without [[sessionConf]], this sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` for the WHOLE session
    * and never flips it back — a scoped set would not work, because the
    * returned frame is lazy and the conf must still hold at execution
    * time, and flip-flopping it mid-session would make two reads of the
    * same NANOS file disagree. Library users with their own
    * TIMESTAMP(NANOS) parquet elsewhere in the session inherit the
    * changed read behavior (those columns arrive as long nanos instead
    * of an AnalysisException); build the session through [[configure]]
    * to make the conf explicit up front. (Also in README §timestamps.) */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // fallback for externally-built sessions that skipped sessionConf —
    // set once, never flipped back, so unrelated reads see a stable conf
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // The generator has shipped events.ts as TIMESTAMP(NANOS) (read as
    // long under nanosAsLong) and as TIMESTAMP(MICROS, isAdjustedToUTC=
    // false) (read as TIMESTAMP_NTZ) across testdata regenerations.
    // Normalize BOTH to the session-zone TimestampType so every consumer
    // (unix_micros, window, interval arithmetic, Verify's dump-layer
    // NTZ cast) sees one dtype; under the UTC session zone the NTZ→LTZ
    // cast is wall-clock-identical, matching the DuckDB oracle's naive
    // microsecond reading.
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
}
